import math

import pytest

from stats import Ledger, tail_percentile


@pytest.mark.parametrize("n, want", [(19, None), (20, 50), (21, 52), (100, 90),
                                     (101, 90), (110, 90), (1000, 99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    got = tail_percentile([float(i) for i in range(n)])
    assert (got and got[0]) == want
    if got:
        p, value = got
        assert sum(v > value for v in range(n)) >= 10
        # the next percentile up would leave fewer than ten beyond it
        assert p == 99 or n - math.ceil((p + 1) * n / 100) < 10


def test_tail_percentile_value_is_nearest_rank():
    assert tail_percentile([float(i) for i in range(1, 101)]) == (90, 90.0)
    assert tail_percentile(list(range(100, 0, -1))) == (90, 90)


def test_ledger_counts_raises_and_failed_checks():
    led = Ledger()
    assert led.run("a", lambda: 1, lambda out: []) == (True, 1)
    ok, out = led.run("b", lambda: 2, lambda out: ["wrong", "also wrong"])
    assert not ok and out == 2
    ok, out = led.run("c", lambda: 1 / 0)
    assert not ok and out is None
    assert led.run("d", lambda: 3) == (True, 3)
    assert (led.attempted, led.failed) == (4, 2)
    assert led.error_rate() == 0.5
    assert [op for op, _ in led.failures] == ["b", "c"]
    assert "wrong; also wrong" in led.failures[0][1]
    assert "ZeroDivisionError" in led.failures[1][1]


def test_ledger_error_rate_of_nothing_is_zero():
    assert Ledger().error_rate() == 0.0
