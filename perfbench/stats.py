"""Summary statistics and failure accounting for benchmark results."""

from __future__ import annotations

import math
import traceback


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile that still has at least ``beyond``
    samples above it, with its value (nearest-rank), or None when even the
    median lacks that many samples beyond it.

    With n samples, percentile p keeps n - ceil(p*n/100) samples above its
    nearest-rank position, so the rule admits p50 from n = 20, p90 from
    n = 100 and p99 from n = 1000.
    """
    n = len(values)
    ordered = sorted(values)
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= beyond:
            return p, ordered[rank - 1]
    return None


class Ledger:
    """Counts every operation the benchmark attempts and every failure,
    whether the call raised or its output failed a check. Nothing is
    dropped: each failure keeps its operation name and reason."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []

    @property
    def failed(self) -> int:
        return len(self.failures)

    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def run(self, op: str, fn, check=None):
        """Call ``fn``; if it returns, pass its result to ``check``, which
        returns a list of problems. Returns (ok, result)."""
        self.attempted += 1
        try:
            out = fn()
        except Exception:  # one failed operation must not end the run
            self.failures.append((op, traceback.format_exc(limit=4)))
            return False, None
        problems = check(out) if check is not None else []
        if problems:
            self.failures.append((op, "; ".join(problems[:5])))
            return False, out
        return True, out
