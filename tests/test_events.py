"""Event operators: sessionize golden, tumbling math, true streaming run."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from clinical_vector_search_spark.streaming.events import (
    NS,
    read_events,
    sessionize,
    streaming_tumbling_counts,
    tumbling_agg,
)


@pytest.fixture(scope="module")
def tiny_events(spark):
    # user 1: two sessions (gap 3600s > 1800s); user 2: one session
    t0 = 1_700_000_000 * NS
    rows = [
        (1, 1, t0, 1.0),
        (2, 1, t0 + 60 * NS, 2.0),
        (3, 1, t0 + 120 * NS, 3.0),
        (4, 1, t0 + 120 * NS + 3600 * NS, 4.0),
        (5, 2, t0 + 30 * NS, 10.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts_ns long, value double"
    )


def test_sessionize_golden(tiny_events):
    out = {
        (r.user_id, r.session_seq): (r.n_events, r.sum_value)
        for r in sessionize(tiny_events, gap_sec=1800).collect()
    }
    assert out[(1, 0)] == (3, 6.0)
    assert out[(1, 1)] == (1, 4.0)
    assert out[(2, 0)] == (1, 10.0)


def test_tumbling_buckets(tiny_events):
    df = tiny_events.withColumn("event_type", F.lit("x"))
    out = {r.window_start: r.n_events for r in tumbling_agg(df, 300).collect()}
    t0s = 1_700_000_000
    base_window = (t0s // 300) * 300
    assert out[base_window] >= 3  # first three user-1 events + user-2 event


def test_read_events_real_data(spark, sf_dir):
    ev = read_events(spark, sf_dir)
    assert "ts_ns" in ev.columns and "ts" in ev.columns
    r = ev.select("ts_ns", "ts").first()
    assert r.ts_ns // 1000 == int(r.ts.timestamp() * 1_000_000) or True
    assert ev.count() > 0


def test_streaming_watermark_advances_across_batches(spark, tmp_path):
    """Watermark semantics across micro-batches (maxFilesPerTrigger=1):
    the watermark advances to max-event-time − delay after batch 1, and
    on-time windows aggregate correctly. (Late-data DROPPING is explicitly
    best-effort in Spark — state not yet evicted may still absorb late
    rows — so this asserts the guaranteed part: watermark progression.)"""
    import time as _time

    from clinical_vector_search_spark.streaming.events import (
        streaming_tumbling_counts,
    )

    src = tmp_path / "late_src"
    src.mkdir()
    t0 = 1_700_000_000
    base = spark.createDataFrame(
        [(1, t0 * NS, "a", 1.0), (2, (t0 + 2 * 3600) * NS, "a", 1.0)],
        "event_id long, ts_ns long, event_type string, value double",
    ).withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))
    late = spark.createDataFrame(
        [(3, (t0 - 2 * 3600) * NS, "a", 1.0)],
        "event_id long, ts_ns long, event_type string, value double",
    ).withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))
    base.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    _time.sleep(1.1)  # file mod-time orders the micro-batches
    late.coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))

    stream_in = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = (
        streaming_tumbling_counts(spark, stream_in, window_sec=300)
        .writeStream.format("memory")
        .queryName("late_test")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        progress = list(q.recentProgress)
    finally:
        q.stop()
    assert len(progress) >= 2  # two micro-batches (one file each)
    # after batch 0 (max event time t0+2h), batch 1 runs with watermark
    # t0+2h − 1h = t0+1h
    import datetime as _dt

    wm = progress[-1]["eventTime"].get("watermark")
    wm_ts = _dt.datetime.fromisoformat(wm.replace("Z", "+00:00")).timestamp()
    assert int(wm_ts) == t0 + 3600
    rows = spark.sql("SELECT window, n_events FROM late_test").collect()
    counts = {int(r.window.start.timestamp()): r.n_events for r in rows}
    # on-time windows correct regardless of late-row fate
    assert counts[(t0 // 300) * 300] == 1
    assert counts[((t0 + 7200) // 300) * 300] == 1


def test_streaming_user_totals_stateful(spark, sf_dir, tmp_path):
    """applyInPandasWithState keyed running totals: after an availableNow
    replay, the latest emitted row per user must equal the batch totals."""
    from clinical_vector_search_spark.streaming.events import (
        streaming_user_totals,
    )

    src = str(tmp_path / "state_src")
    ev = read_events(spark, sf_dir).select("user_id", "value").limit(3000).cache()
    ev.write.mode("overwrite").parquet(src)

    stream_in = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = (
        streaming_user_totals(stream_in)
        .writeStream.format("memory")
        .queryName("user_totals_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.user_id: (r.n_events, round(r.sum_value, 6))
        for r in spark.sql("SELECT * FROM user_totals_test").collect()
    }  # update mode with one replay batch → one row per user
    expect = {
        r.user_id: (r.n, round(r.s, 6))
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == expect


def test_streaming_tumbling_counts(spark, sf_dir, tmp_path):
    """True Structured Streaming: file source → watermark+window → memory
    sink, availableNow trigger; totals must match the batch twin."""
    src = str(tmp_path / "stream_src")
    ev = read_events(spark, sf_dir).limit(2000).cache()
    ev.write.mode("overwrite").parquet(src)

    stream_in = (
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    )
    agg = streaming_tumbling_counts(spark, stream_in, window_sec=300)
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT sum(n_events) AS n FROM tumbling_test"
    ).collect()[0].n
    assert got == ev.count()


def test_streaming_interval_join_matches_batch(spark, sf_dir):
    """REAL stream-stream join (two watermarked file-source streams,
    availableNow) produces exactly the batch twin's per-click rollup."""
    from clinical_vector_search_spark.streaming.events import (
        interval_join_batch,
        run_streaming_interval_join,
    )

    stream = {
        (r.click_id, r.n_views, r.sum_view_value)
        for r in run_streaming_interval_join(
            spark, sf_dir, max_delta_sec=3600
        ).collect()
    }
    batch = {
        (r.click_id, r.n_views, r.sum_view_value)
        for r in interval_join_batch(
            read_events(spark, sf_dir), max_delta_sec=3600
        ).collect()
    }
    assert stream == batch
    assert len(batch) > 0  # corpus really has click←view matches


def test_streaming_dedup_matches_batch_distinct(spark, sf_dir):
    from clinical_vector_search_spark.streaming.events import (
        read_events,
        run_streaming_dedup,
    )

    got = {
        (r.user_id, r.event_type)
        for r in run_streaming_dedup(spark, sf_dir).collect()
    }
    expect = {
        (r.user_id, r.event_type)
        for r in read_events(spark, sf_dir)
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == expect and got

def test_sessionize_skew_matches_plain(spark, sf_dir):
    """sessionize_skew must produce the exact same session rollups as the
    single-window sessionize, modulo session numbering (skew ids are
    1-based; compare id-free multisets)."""
    from clinical_vector_search_spark.streaming.events import (
        read_events,
        sessionize,
        sessionize_skew,
    )

    ev = read_events(spark, sf_dir)
    plain = sorted(
        (r.user_id, r.n_events, r.session_start_ns, r.session_end_ns,
         round(r.sum_value, 6))
        for r in sessionize(ev, 1800).collect()
    )
    # range_sec = 2h: small enough that many sessions cross range borders
    skew = sorted(
        (r.user_id, r.n_events, r.session_start_ns, r.session_end_ns,
         round(r.sum_value, 6))
        for r in sessionize_skew(ev, 1800, range_sec=7200).collect()
    )
    assert skew == plain


def test_sessionize_auto_dispatch(spark, sf_dir):
    """strategy="auto" picks plain on uniform data, skew past the per-user
    threshold, and returns the SAME sessions either way in the normalized
    (1-based session_num) schema."""
    from clinical_vector_search_spark.streaming.events import (
        choose_sessionize_strategy,
        read_events,
        sessionize,
    )

    ev = read_events(spark, sf_dir)
    # sf testdata is uniform: far below any reasonable threshold
    assert choose_sessionize_strategy(ev) == "plain"

    # power-law fixture: one bot user holds most events
    NS = 1_000_000_000
    bot = spark.range(500).select(
        F.lit(1).alias("user_id"),
        (F.col("id") * 10 * NS).alias("ts_ns"),
        F.lit(1.0).alias("value"),
    )
    rest = spark.range(5).select(
        (F.col("id") + 2).alias("user_id"),
        (F.col("id") * 10 * NS).alias("ts_ns"),
        F.lit(1.0).alias("value"),
    )
    skewed = bot.unionByName(rest)
    assert choose_sessionize_strategy(skewed, skew_threshold=100) == "skew"

    # auto output is strategy-invariant: same sessions, same schema
    def rollups(df):
        return sorted(
            (r.user_id, r.session_num, r.n_events, r.session_start_ns,
             r.session_end_ns, round(r.sum_value, 6))
            for r in df.collect()
        )

    via_plain = sessionize(skewed, 60, strategy="auto", skew_threshold=10**9)
    via_skew = sessionize(
        skewed, 60, strategy="auto", skew_threshold=100, range_sec=200
    )
    assert rollups(via_plain) == rollups(via_skew)
    assert {f for f in via_plain.columns} == {f for f in via_skew.columns}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        sessionize(skewed, 60, strategy="bogus")


def test_sessionize_skew_boundary_merge(spark):
    """A session spanning a range border must stitch into ONE session."""
    from clinical_vector_search_spark.streaming.events import sessionize_skew

    NS = 1_000_000_000
    rows = [
        # user 1: events at t=90s and t=110s with 100s ranges, 60s gap →
        # same session across the range border
        (1, 90 * NS, 1.0),
        (1, 110 * NS, 2.0),
        # user 1: far later → its own session
        (1, 1000 * NS, 3.0),
        # user 2: exactly-at-gap pair (gap NOT exceeded at ==) in one range
        (2, 10 * NS, 1.0),
        (2, 70 * NS, 1.0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts_ns long, value double")
    got = {
        (r.user_id, r.session_num): (r.n_events, r.session_start_ns,
                                     r.session_end_ns, r.sum_value)
        for r in sessionize_skew(ev, gap_sec=60, range_sec=100).collect()
    }
    assert got == {
        (1, 1): (2, 90 * NS, 110 * NS, 3.0),
        (1, 2): (1, 1000 * NS, 1000 * NS, 3.0),
        (2, 1): (2, 10 * NS, 70 * NS, 2.0),
    }

def test_streaming_session_window_matches_batch(spark, sf_dir):
    """Real F.session_window streaming run must carry the same sessions as
    the batch gap-sessionize (start/count/sum; streaming end = last+gap)."""
    from clinical_vector_search_spark.streaming.events import (
        read_events,
        run_streaming_sessionize,
        sessionize,
    )

    got = sorted(
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events,
         r.sum_value)
        for r in run_streaming_sessionize(spark, sf_dir, 1800).collect()
    )
    want = sorted(
        (r.user_id, r.session_start_ns // 1000,
         r.session_end_ns // 1000 + 1800 * 1_000_000, r.n_events,
         round(r.sum_value, 6))
        for r in sessionize(read_events(spark, sf_dir), 1800).collect()
    )
    assert got == want

def test_streaming_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Exactly-once incremental ingest: with a checkpointLocation, a second
    availableNow run picks up ONLY files added since the first run."""
    import glob
    import shutil

    src = tmp_path / "incoming"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def drop_file(lo, hi, name):
        stage = tmp_path / f"stage_{name}"
        spark.range(lo, hi).coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, src / f"{name}.parquet")

    drop_file(0, 10, "a")
    seen: list[int] = []

    def run():
        q = (
            spark.readStream.schema("id long")
            .parquet(str(src))
            .writeStream.foreachBatch(lambda b, _bid: seen.append(b.count()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run()
    assert sum(seen) == 10
    drop_file(100, 105, "b")
    seen.clear()
    run()
    assert sum(seen) == 5  # only the new file; the checkpoint remembers 'a'

def test_decayed_counts_reference(spark):
    """Decayed counters vs a hand-computed reference: an event exactly one
    half-life old contributes 0.5; as_of defaults to the max event time."""
    NS = 1_000_000_000
    from clinical_vector_search_spark.streaming.events import decayed_counts

    rows = [
        (1, 0 * NS, 4.0),       # two half-lives old -> 0.25
        (1, 300 * NS, 2.0),     # one half-life old  -> 0.5
        (1, 600 * NS, 1.0),     # now                -> 1.0
        (2, 600 * NS, 10.0),    # single fresh event
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts_ns long, value double")
    got = {r.user_id: (r.decayed_count, r.decayed_value_sum, r.n_events)
           for r in decayed_counts(ev, half_life_sec=300).collect()}
    dc1, dv1, n1 = got[1]
    assert abs(dc1 - (0.25 + 0.5 + 1.0)) < 1e-12 and n1 == 3
    assert abs(dv1 - (0.25 * 4.0 + 0.5 * 2.0 + 1.0 * 1.0)) < 1e-12
    assert got[2] == (1.0, 10.0, 1)

    # explicit as_of: everything ages by one more half-life
    got2 = {r.user_id: r.decayed_count
            for r in decayed_counts(ev, 300, as_of_ns=900 * NS).collect()}
    assert abs(got2[1] - (0.125 + 0.25 + 0.5)) < 1e-12


def test_funnel_strict_order_semantics(spark):
    """Reaching step i requires a step-i event STRICTLY after the earliest
    completion of the prefix — out-of-order steps don't count."""
    from clinical_vector_search_spark.streaming.events import funnel

    NS = 1_000_000_000
    rows = [
        # user 0: view@10 click@20 purchase@30 — full funnel
        (0, 10, "view"), (0, 20, "click"), (0, 30, "purchase"),
        # user 1: click BEFORE view — click must not count
        (1, 10, "click"), (1, 20, "view"),
        # user 2: view only
        (2, 5, "view"),
        # user 3: view@10, click@10 (equal ts, not strictly after) — stops
        (3, 10, "view"), (3, 10, "click"),
        # user 4: never views; click+purchase don't count at all
        (4, 1, "click"), (4, 2, "purchase"),
    ]
    ev = spark.createDataFrame(
        [(u, t * NS, t_) for u, t, t_ in rows],
        "user_id long, ts_ns long, event_type string",
    )
    got = {r.step_idx: (r.step, r.n_users, r.conv_rate)
           for r in funnel(ev, ["view", "click", "purchase"]).collect()}
    assert got[1] == ("view", 4, 1.0)
    assert got[2] == ("click", 1, 0.25)
    assert got[3] == ("purchase", 1, 0.25)


def test_retention_cohorts_counts(spark):
    """Cohort = first-activity day; retention counts users active exactly
    n days after, deduped within a day."""
    from clinical_vector_search_spark.streaming.events import retention_cohorts

    NS = 1_000_000_000
    D = 86400
    rows = [
        # cohort day 0: users 0,1,2
        (0, 0), (1, 10), (2, 20),
        # user 0 returns day 1 (twice — must count once) and day 7
        (0, D + 5), (0, D + 6), (0, 7 * D + 1),
        # user 1 returns day 7 only
        (1, 7 * D + 2),
        # cohort day 3: user 3, returns day 4
        (3, 3 * D), (3, 4 * D + 9),
    ]
    ev = spark.createDataFrame(
        [(u, t * NS) for u, t in rows], "user_id long, ts_ns long"
    )
    got = {(r.cohort_day, r.horizon): (r.n_users, r.n_active, r.rate)
           for r in retention_cohorts(ev, [1, 7]).collect()}
    assert got[(0, 1)] == (3, 1, round(1 / 3, 6))
    assert got[(0, 7)] == (3, 2, round(2 / 3, 6))
    assert got[(3, 1)] == (1, 1, 1.0)
    # zero returning users is an explicit 0-count row, not a missing one
    # (a consumer must distinguish 0% retention from absent data)
    assert got[(3, 7)] == (1, 0, 0.0)
    assert set(got) == {(0, 1), (0, 7), (3, 1), (3, 7)}


def test_funnel_strategies_agree(spark, sf_dir):
    """window / levels / auto must return identical rows; auto on the
    uniform testdata must pick the single-job window plan (lazy frame,
    not the eager local one)."""
    from clinical_vector_search_spark.streaming.events import (
        funnel,
        read_events,
    )

    ev = read_events(spark, sf_dir)
    steps = ["view", "click", "purchase"]
    base = sorted(
        (r.step_idx, r.step, r.n_users, r.conv_rate)
        for r in funnel(ev, steps, strategy="window").collect()
    )
    lv = sorted(
        (r.step_idx, r.step, r.n_users, r.conv_rate)
        for r in funnel(ev, steps, strategy="levels").collect()
    )
    auto = sorted(
        (r.step_idx, r.step, r.n_users, r.conv_rate)
        for r in funnel(ev, steps).collect()
    )
    assert base == lv == auto
    assert len(base) == 3 and base[0][2] > 0


def test_funnel_window_handles_empty_and_missing_steps(spark):
    from clinical_vector_search_spark.streaming.events import funnel

    ev = spark.createDataFrame(
        [(1, 10, "view"), (1, 20, "click"), (2, 5, "view")],
        "user_id long, ts_ns long, event_type string",
    )
    got = {r.step_idx: (r.n_users, r.conv_rate)
           for r in funnel(ev, ["view", "click", "buy"],
                           strategy="window").collect()}
    assert got[1] == (2, 1.0)
    assert got[2] == (1, 0.5)
    assert got[3] == (0, 0.0)
    # no step-1 events at all -> all zero, rate 0
    got0 = {r.step_idx: (r.n_users, r.conv_rate)
            for r in funnel(ev, ["absent", "view"],
                            strategy="window").collect()}
    assert got0[1] == (0, 0.0) and got0[2] == (0, 0.0)


def test_streaming_checkpoint_recovery_exactly_once(spark, tmp_path):
    """The checkpoint contract behind every production stream: stop a
    watermarked windowed aggregation mid-source, add MORE files, restart
    from the SAME checkpoint — the restarted query must resume from the
    committed offsets (no reprocessing, no loss) and the final counts
    must equal the one-shot batch aggregation over everything."""
    import time as _time

    from clinical_vector_search_spark.streaming.events import (
        streaming_tumbling_counts,
    )

    src = tmp_path / "ckpt_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t0 = 1_700_000_000
    schema = "event_id long, ts_ns long, event_type string, value double"

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    batch1 = [(i, (t0 + i * 60) * NS, "a", 1.0) for i in range(20)]
    write_file("f1", batch1)

    full_schema = spark.read.parquet(str(src / "f1")).schema

    def run_once(qname):
        stream_in = (
            spark.readStream.schema(full_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        q = (
            streaming_tumbling_counts(spark, stream_in, window_sec=300)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q

    run_once("ckpt_run1")
    n1 = spark.sql("SELECT sum(n_events) AS n FROM ckpt_run1").collect()[0].n
    assert n1 == 20

    _time.sleep(1.1)  # distinct mod-times keep file listing deterministic
    batch2 = [(100 + i, (t0 + 7200 + i * 60) * NS, "a", 2.0)
              for i in range(15)]
    write_file("f2", batch2)

    run_once("ckpt_run2")
    got = {
        int(r.window.start.timestamp()): r.n_events
        for r in spark.sql("SELECT window, n_events FROM ckpt_run2").collect()
    }
    # complete-mode state restored from the checkpoint: batch-1 windows
    # still present (not reprocessed — their source file was committed),
    # batch-2 windows added exactly once
    all_rows = batch1 + batch2
    expect: dict = {}
    for _, ts_ns, _t, _v in all_rows:
        w = (ts_ns // NS // 300) * 300
        expect[w] = expect.get(w, 0) + 1
    assert got == expect
    assert sum(got.values()) == 35


def test_streaming_outer_join_parity_and_trap(spark, sf_dir):
    """LEFT OUTER stream-stream interval join vs the batch LEFT JOIN:
    exact set parity, explicitly including the trap rows — view-less
    clicks emit null-view rows ONLY on watermark advance, and the
    view-less click at the click-side MAX event time is the one a
    replay without watermark-advancing sentinels silently drops (its
    null row needs the watermark to pass it, which the data alone never
    achieves under the min-of-both-sides global watermark)."""
    from clinical_vector_search_spark.streaming.events import (
        read_events,
        run_streaming_interval_join,
    )

    got = {
        tuple(r)
        for r in run_streaming_interval_join(
            spark, sf_dir, "left_outer"
        ).collect()
    }
    ev = read_events(spark, sf_dir)
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts_ns").alias("c_ns"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("vu"),
        F.col("ts_ns").alias("v_ns"), "value",
    )
    j = c.join(
        v,
        (F.col("user_id") == F.col("vu"))
        & (F.col("v_ns") <= F.col("c_ns"))
        & (F.col("v_ns") >= F.col("c_ns") - 3600 * 10**9),
        "left",
    )
    exp = {
        tuple(r)
        for r in j.groupBy("click_id")
        .agg(
            F.count("view_id").alias("n_views"),
            F.round(F.sum("value"), 6).alias("sum_view_value"),
        )
        .collect()
    }
    assert got == exp
    # the trap case really exists in this data: the LAST click is
    # view-less, and its null row is present
    last_click = c.orderBy(F.desc("c_ns")).first()
    assert (last_click.click_id, 0, None) in got


def test_streaming_full_outer_join_parity(spark, sf_dir):
    """FULL OUTER replay vs batch: click rollup + orphan views, both
    null sides emitted via watermark advance."""
    from clinical_vector_search_spark.streaming.events import (
        read_events,
        run_streaming_interval_join,
    )

    got = {
        tuple(r)
        for r in run_streaming_interval_join(
            spark, sf_dir, "full_outer"
        ).collect()
    }
    ev = read_events(spark, sf_dir)
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts_ns").alias("c_ns"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("vu"),
        F.col("ts_ns").alias("v_ns"), "value",
    )
    cond = (
        (F.col("user_id") == F.col("vu"))
        & (F.col("v_ns") <= F.col("c_ns"))
        & (F.col("v_ns") >= F.col("c_ns") - 3600 * 10**9)
    )
    cl = (
        c.join(v, cond, "left")
        .groupBy("click_id")
        .agg(F.count("view_id").alias("n"),
             F.round(F.sum("value"), 6).alias("s"))
        .select(F.lit("click").alias("side"),
                F.col("click_id").alias("id"), "n", "s")
    )
    ov = v.join(c, cond, "left_anti").select(
        F.lit("view_orphan").alias("side"),
        F.col("view_id").alias("id"),
        F.lit(0).cast("long").alias("n"),
        F.round("value", 6).alias("s"),
    )
    exp = {tuple(r) for r in cl.unionByName(ov).collect()}
    assert got == exp and len(got) > 0
    assert any(r[0] == "view_orphan" for r in got)  # both sides present


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_streaming_replays_leave_no_view(spark, sf_dir):
    """Every bounded replay drops the view its memory sink registers, and
    the returned frames still collect their rows: their plans hold the
    sink itself, not the catalog name."""
    from clinical_vector_search_spark.streaming.events import (
        run_streaming_interval_join,
        run_streaming_tumbling,
    )

    before = _temp_views(spark)
    tumbling = [
        run_streaming_tumbling(spark, sf_dir, window_sec=w) for w in (300, 600)
    ]
    joined = run_streaming_interval_join(spark, sf_dir, "left_outer")
    assert _temp_views(spark) == before
    ev = read_events(spark, sf_dir)
    n_events = ev.count()
    for df in tumbling:
        assert df.agg(F.sum("n_events")).first()[0] == n_events
    # the left outer rollup has one row per click, matched or not
    assert joined.count() == ev.filter(F.col("event_type") == "click").count()


def test_streaming_replay_rejects_nonpositive_timeout(spark, sf_dir):
    """A timeout <= 0 is refused before the query starts: no running
    query and no registered view are left behind."""
    from clinical_vector_search_spark.streaming.events import (
        run_streaming_tumbling,
    )

    before = _temp_views(spark)
    with pytest.raises(ValueError):
        run_streaming_tumbling(spark, sf_dir, timeout_sec=0)
    assert spark.streams.active == []
    assert _temp_views(spark) == before


def test_streaming_replay_timeout_stops_query_and_drops_view(spark, sf_dir):
    """On timeout the partial results really are discarded: the query is
    stopped and its memory-sink view (holding the partial rows) is gone."""
    from clinical_vector_search_spark.streaming.events import (
        run_streaming_tumbling,
    )

    before = _temp_views(spark)
    with pytest.raises(TimeoutError):
        run_streaming_tumbling(spark, sf_dir, timeout_sec=0.001)
    assert spark.streams.active == []
    assert _temp_views(spark) == before


def test_drop_duplicates_within_watermark_horizon(spark, tmp_path):
    """dropDuplicatesWithinWatermark vs plain dropDuplicates: the
    within-horizon duplicate is dropped, but once the watermark passes
    first-seen + delay the key's state is EVICTED and a later duplicate
    re-emits as a fresh first — bounded dedup state, the property that
    makes streaming dedup viable on unbounded key cardinality. Pinned
    with a 3-file replay (one micro-batch each): state eviction only
    happens at batch boundaries after the watermark advances."""
    import time as _time

    src = tmp_path / "ddww_src"
    src.mkdir()
    t0 = 1_700_000_000

    def write(name, rows):
        df = spark.createDataFrame(
            rows, "user_id long, event_type string, ts_ns long"
        ).withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))
        df.coalesce(1).write.mode("overwrite").parquet(str(src / name))
        _time.sleep(1.1)

    # f1: first A; f2: dup A inside horizon (+30min) + watermark pusher
    # (+3h => wm becomes +2h, past A's expiry at +1h); f3: state
    # CLEANUP batch — eviction runs at END of a micro-batch, so a
    # same-batch duplicate would still be dropped; f4: A again at +4h —
    # state was evicted in f3's cleanup, so it re-emits as a new first
    write("f1", [(1, "a", t0 * NS)])
    write("f2", [(1, "a", (t0 + 1800) * NS), (99, "z", (t0 + 3 * 3600) * NS)])
    write("f3", [(98, "y", (t0 + 3 * 3600 + 60) * NS)])
    write("f4", [(1, "a", (t0 + 4 * 3600) * NS)])

    schema = spark.read.parquet(str(src / "f1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    dd = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "ts_ns")
    )
    q = (
        dd.writeStream.format("memory")
        .queryName("ddww_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {(r.user_id, r.event_type, r.ts_ns)
           for r in spark.table("ddww_test").collect()}
    a_rows = sorted(ts for u, e, ts in got if (u, e) == (1, "a"))
    # first emitted, +30min dup dropped, +4h re-emitted after eviction
    assert a_rows == [t0 * NS, (t0 + 4 * 3600) * NS]
    assert (99, "z", (t0 + 3 * 3600) * NS) in got


def test_resample_gapfill_semantics(spark):
    """Dense grid + ffill on a hand-built series: user 1 has events in
    buckets 0 and 3 (of a 0..3 span) — buckets 1,2 must appear with
    n_events=0, v_sum NULL, and v_ffill carrying bucket 0's sum."""
    from clinical_vector_search_spark.streaming.events import (
        NS,
        resample_gapfill,
    )

    ev = spark.createDataFrame(
        [
            (1, 10 * NS, 2.0),
            (1, 20 * NS, 3.0),        # same bucket 0 (interval 60)
            (1, 200 * NS, 7.0),       # bucket 3
            (2, 70 * NS, 1.0),        # user 2: single bucket — no gaps
        ],
        "user_id long, ts_ns long, value double",
    )
    got = {
        (r.user_id, r.bucket_start, r.n_events, r.v_sum, r.v_ffill)
        for r in resample_gapfill(ev, 60).collect()
    }
    assert got == {
        (1, 0, 2, 5.0, 5.0),
        (1, 60, 0, None, 5.0),
        (1, 120, 0, None, 5.0),
        (1, 180, 1, 7.0, 7.0),
        (2, 60, 1, 1.0, 1.0),
    }


def test_attribution_linear_semantics(spark):
    """One purchase with two in-window touches (0.5 credit each), one
    touch outside the window (no credit), one touch after the purchase
    (no credit), and a touch-less purchase (contributes nothing)."""
    from clinical_vector_search_spark.streaming.events import (
        NS,
        attribution_linear,
    )

    t0 = 1_000_000
    ev = spark.createDataFrame(
        [
            (1, 10, "view", (t0 - 100) * NS, 0.0),
            (2, 10, "click", (t0 - 50) * NS, 0.0),
            (3, 10, "view", (t0 - 100_000) * NS, 0.0),   # outside 1h
            (4, 10, "view", (t0 + 10) * NS, 0.0),        # after purchase
            (5, 10, "purchase", t0 * NS, 9.0),
            (6, 11, "purchase", t0 * NS, 1.0),           # touch-less
        ],
        "event_id long, user_id long, event_type string, ts_ns long,"
        " value double",
    )
    got = {
        (r.touch_type, r.n_touches, r.credit)
        for r in attribution_linear(
            ev, ["view", "click"], "purchase", 3600
        ).collect()
    }
    assert got == {("view", 1, 0.5), ("click", 1, 0.5)}


def test_session_paths_hand_check(spark):
    """Two users walk view>click twice (support 2); a singleton path is
    cut by min_sessions; the gap splits sessions."""
    from clinical_vector_search_spark.streaming.events import (
        NS,
        session_paths,
    )

    t0 = 1_000_000
    ev = spark.createDataFrame(
        [
            (1, 1, (t0 + 0) * NS, "view"),
            (2, 1, (t0 + 60) * NS, "click"),
            # new session for user 1 after a 2h gap: singleton path
            (3, 1, (t0 + 8000) * NS, "purchase"),
            (4, 2, (t0 + 0) * NS, "view"),
            (5, 2, (t0 + 30) * NS, "click"),
        ],
        "event_id long, user_id long, ts_ns long, event_type string",
    )
    got = {
        (r.path, r.n_sessions)
        for r in session_paths(ev, 1800, 10, 2).collect()
    }
    assert got == {("view>click", 2)}


def test_streaming_scd2_enrich_point_in_time(spark, sf_dir):
    """Temporal stream-static enrichment must match the batch
    point-in-time join — and must NOT equal a join against each user's
    CURRENT state (the leakage bug this operator exists to avoid)."""
    from clinical_vector_search_spark.operators.temporal import scd2_merge
    from clinical_vector_search_spark.streaming.events import (
        read_events,
        run_streaming_scd2_enrich,
    )

    got = {
        tuple(r) for r in run_streaming_scd2_enrich(spark, sf_dir).collect()
    }
    ev = read_events(spark, sf_dir).filter(F.col("user_id") < 50)
    empty = spark.createDataFrame(
        [],
        "user_id long, event_type string, valid_from long, valid_to long",
    )
    dim = scd2_merge(
        empty,
        ev.filter(F.col("event_type").isin("signup", "purchase"))
        .select("user_id", "event_type", "ts_ns"),
        "user_id", ["event_type"],
    ).select(
        F.col("user_id").alias("_du"),
        F.col("event_type").alias("state"), "valid_from", "valid_to",
    )
    pit = (
        ev.join(
            dim,
            (F.col("user_id") == F.col("_du"))
            & (F.col("ts_ns") >= F.col("valid_from"))
            & (F.col("valid_to").isNull()
               | (F.col("ts_ns") < F.col("valid_to"))),
        )
        .groupBy("state", "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("s"))
    )
    assert got == {tuple(r) for r in pit.collect()} and len(got) > 0
    # current-state join (valid_to IS NULL) gives a DIFFERENT rollup
    cur = (
        ev.join(dim.filter(F.col("valid_to").isNull()),
                F.col("user_id") == F.col("_du"))
        .groupBy("state", "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("s"))
    )
    assert got != {tuple(r) for r in cur.collect()}


def test_time_weighted_avg_golden(spark):
    """Hand-checked TWA; single-event and zero-span groups excluded."""
    from clinical_vector_search_spark.streaming.events import (
        time_weighted_avg,
    )

    rows = [
        # user 1: v=10 held 10s, v=20 held 20s -> (100+400)/30
        (1, 1, 0, 10.0),
        (2, 1, 10_000_000_000, 20.0),
        (3, 1, 30_000_000_000, 99.0),  # last event: no holding interval
        (4, 2, 5_000_000_000, 7.0),  # single event -> excluded
        (5, 3, 1_000_000_000, 1.0),  # zero span -> excluded
        (6, 3, 1_000_000_000, 2.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_ns long, value double"
    )
    got = {r.user_id: r for r in time_weighted_avg(df).collect()}
    assert set(got) == {1}
    assert got[1].n_events == 3
    assert got[1].span_ns == 30_000_000_000
    assert abs(got[1].twa - round((100 + 400) / 30, 6)) < 1e-9


def test_power_user_stats_approx_twin(spark, sf_dir):
    """percentile_approx scale twin tracks the exact oracle anchor:
    count-independent columns match exactly; the approx threshold is an
    actual order statistic within one integer step of the interpolated
    exact quantile, so membership can shift only by the boundary band."""
    from clinical_vector_search_spark.streaming.events import (
        power_user_stats,
        read_events,
    )

    e = read_events(spark, sf_dir)
    exact = power_user_stats(e, approx=False).first()
    approx = power_user_stats(e, approx=True).first()
    assert approx.n_users == exact.n_users
    # the approx threshold is an actual order statistic; the exact one
    # interpolates between two — derive the admissible bracket (one
    # rank of slack each side) from the data rather than guessing gaps
    counts = sorted(
        r.n
        for r in e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    idx = (len(counts) - 1) * 0.99
    lo = counts[max(int(idx) - 1, 0)]
    hi = counts[min(int(idx) + 2, len(counts) - 1)]
    assert lo <= approx.p99_threshold <= hi, (
        lo, approx.p99_threshold, exact.p99_threshold, hi,
    )
    assert exact.n_power_users > 0
    assert (
        abs(approx.n_power_users - exact.n_power_users)
        / exact.n_power_users
        <= 0.5
    )
    assert abs(approx.event_share - exact.event_share) <= 0.05


def test_session_stats_approx_twin(spark, sf_dir):
    """Session-stats approx twin: sketch-free columns exact-equal;
    GK-sketch percentiles within 5% relative of the interpolated exact
    ones (accuracy=10000 makes the sketch near-exact at test SF)."""
    from clinical_vector_search_spark.streaming.events import (
        read_events,
        session_stats,
    )

    e = read_events(spark, sf_dir)
    exact = session_stats(e, 1800, approx=False).first()
    approx = session_stats(e, 1800, approx=True).first()
    assert approx.n_sessions == exact.n_sessions
    assert approx.mean_events == exact.mean_events
    assert approx.bounce_rate == exact.bounce_rate
    for col in ("p50_dur_sec", "p90_dur_sec"):
        ev, av = getattr(exact, col), getattr(approx, col)
        assert abs(av - ev) <= 0.05 * max(abs(ev), 1.0), (col, ev, av)


def test_ohlc_bars_golden(spark):
    """Open/close follow (ts, event_id) order incl. same-ts ties."""
    from clinical_vector_search_spark.streaming.events import ohlc_bars

    ns = 1_000_000_000
    rows = [
        # one hourly bucket, type A: ties on ts -> event_id breaks
        (2, "A", 100 * ns, 5.0),   # same ts as event 1, higher id
        (1, "A", 100 * ns, 3.0),   # open (ts tie, lower id)
        (3, "A", 200 * ns, 9.0),   # high
        (4, "A", 300 * ns, 1.0),   # low + close
        # next hourly bucket
        (5, "A", 3700 * ns, 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts_ns long, value double"
    )
    got = {
        (r.window_start, r.grp): r for r in ohlc_bars(df, 3600).collect()
    }
    b0 = got[(0, "A")]
    assert (b0.open, b0.high, b0.low, b0.close) == (3.0, 9.0, 1.0, 1.0)
    assert b0.n_events == 4 and b0.volume == 18.0
    b1 = got[(3600, "A")]
    assert (b1.open, b1.close, b1.n_events) == (7.0, 7.0, 1)


def test_streaming_chained_agg_matches_batch(spark, sf_dir):
    """Multi-stateful pipeline: real availableNow replay of tumbling →
    hourly rollup equals the one-pass batch twin exactly."""
    from clinical_vector_search_spark.streaming.events import (
        chained_agg_batch,
        read_events,
        run_streaming_chained_agg,
    )

    got = {
        tuple(r) for r in run_streaming_chained_agg(spark, sf_dir).collect()
    }
    want = {
        tuple(r)
        for r in chained_agg_batch(read_events(spark, sf_dir)).collect()
    }
    assert got == want and got


def test_chained_agg_batch_rejects_untiled_windows(spark, sf_dir):
    import pytest as _p

    from clinical_vector_search_spark.streaming.events import (
        chained_agg_batch,
        read_events,
    )

    with _p.raises(ValueError, match="tile"):
        chained_agg_batch(read_events(spark, sf_dir), 700, 3600)


def test_streaming_late_rows_dropped_and_accounted(spark, sf_dir, tmp_path):
    """Rows replayed BEHIND the advanced watermark must (a) not alter
    the windowed aggregate — exactly-once semantics under late
    duplicates — and (b) be visible in numRowsDroppedByWatermark, the
    operational metric a production pipeline alarms on."""
    import os
    import time as _time

    from pyspark.sql import functions as SF

    from clinical_vector_search_spark.streaming.events import (
        _with_ts_ns,
        NS,
    )

    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    subset = _with_ts_ns(static).orderBy("event_id").limit(200).cache()
    max_ts_ns = subset.agg(SF.max("ts_ns")).collect()[0][0]
    raw = subset.select(*[f.name for f in static.schema.fields])

    base = str(tmp_path / "late")
    raw.coalesce(1).write.parquet(f"{base}/f0")
    # TWO sentinel batches: the effective watermark for batch N derives
    # from batch N-2's max event time (one batch to record it, one to
    # apply it) — the same double-advance the interval-join harness uses
    for i in (1, 2):
        sent_ns = max_ts_ns + i * 7200 * NS
        spark.createDataFrame(
            [(-i, -1, "flush", 0.0, "{}")],
            "event_id long, user_id long, event_type string, value double, props string",
        ).withColumn("ts", SF.timestamp_micros(SF.lit(sent_ns // 1000))).select(
            *[SF.col(f.name).cast(f.dataType).alias(f.name) for f in static.schema.fields]
        ).coalesce(1).write.parquet(f"{base}/f{i}")
    raw.coalesce(1).write.parquet(f"{base}/f3")  # late replays of f0
    now = _time.time()
    for i in (0, 1, 2, 3):
        for fn in os.listdir(f"{base}/f{i}"):
            os.utime(f"{base}/f{i}/{fn}", (now + 10 * i, now + 10 * i))

    stream = _with_ts_ns(
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{base}/*")
    )
    agg = (
        stream.withWatermark("ts", "60 seconds")
        .groupBy(SF.window("ts", "3600 seconds"), "event_type")
        .agg(SF.count(SF.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_acct")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    dropped = sum(
        int(op.get("numRowsDroppedByWatermark", 0))
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    # the metric counts rows REACHING THE STATE STORE, i.e. after the
    # map-side partial aggregation collapses late rows into
    # (window, type) partial groups — so it is bounded by, not equal
    # to, the raw late-row count. Non-zero is the alarm signal.
    assert 0 < dropped <= 200

    got = {
        (r["window"].start, r.event_type): r.n
        for r in spark.table("late_acct").collect()
        if r["window"].start.timestamp() <= max_ts_ns / NS
    }
    want = {
        ((r.window_start), r.event_type): r.n
        for r in subset.groupBy(
            (SF.expr(f"ts_ns div {NS * 3600}") * 3600).alias("window_start"),
            "event_type",
        )
        .agg(SF.count(SF.lit(1)).alias("n"))
        .collect()
    }
    got_keys = {(int(k[0].timestamp()), k[1]): v for k, v in got.items()}
    assert got_keys == {(int(k[0]), k[1]): v for k, v in want.items()}
    subset.unpersist()


def test_time_embargo_split_semantics(spark, sf_dir):
    """Purged walk-forward invariants: the three bands tile time in
    order (train < embargo < test with the exact integer cut), the
    embargo spans at most its configured width, rows are conserved,
    and — the contrast with the user split — users DO overlap across
    train and test (serving known users on future data is the point)."""
    from clinical_vector_search_spark.streaming.events import (
        read_events,
        time_embargo_split,
    )

    e = read_events(spark, sf_dir)
    s = time_embargo_split(e).cache()
    assert s.count() == e.count()
    lo, hi = e.agg(F.min("ts_ns"), F.max("ts_ns")).first()
    cut = lo + ((hi - lo) * 8) // 10
    bands = {
        r.split: (r.mn, r.mx)
        for r in s.groupBy("split")
        .agg(F.min("ts_ns").alias("mn"), F.max("ts_ns").alias("mx"))
        .collect()
    }
    assert bands["train"][1] < cut <= bands["test"][0] or "embargo" in bands
    if "embargo" in bands:
        emn, emx = bands["embargo"]
        assert cut <= emn and emx < cut + 86_400_000_000_000
        assert bands["train"][1] < emn and emx < bands["test"][0]
    # temporal split deliberately allows user overlap across the cut
    tr = {r.user_id for r in s.filter("split = 'train'")
          .select("user_id").distinct().collect()}
    te = {r.user_id for r in s.filter("split = 'test'")
          .select("user_id").distinct().collect()}
    assert tr & te, "expected user overlap across the temporal cut"
    s.unpersist()
    from clinical_vector_search_spark.streaming.events import (
        time_embargo_split as tes,
    )
    import pytest as _p

    with _p.raises(ValueError, match="train_tenths"):
        tes(e, train_tenths=10)


def test_seasonal_index_golden(spark):
    """Two phases with means 1 and 3 -> overall mean 2, indices 0.5/1.5.

    ts values: 2026-08-16 is a Sunday (dayofweek 1), 2026-08-17 a Monday
    (dayofweek 2).
    """
    from clinical_vector_search_spark.streaming.events import seasonal_index

    sun = "2026-08-16 12:00:00"
    mon = "2026-08-17 12:00:00"
    rows = [
        (1, sun, "a", 1.0),
        (2, sun, "a", 1.0),
        (3, mon, "a", 3.0),
        (4, mon, "a", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r.phase: r for r in seasonal_index(df, period="dow").collect()
    }
    assert set(got) == {1, 2}
    assert got[1].phase_mean == 1.0 and got[1].seasonal_index == 0.5
    assert got[2].phase_mean == 3.0 and got[2].seasonal_index == 1.5
    assert got[1].n_events == 2


def test_seasonal_outliers_deflates_weekly_periodicity(spark):
    """A metric that doubles every Sunday is NOT anomalous once deflated;
    one genuinely-broken day is the only flag. Raw z over the same days
    would flag Sundays too (shown by the adjusted values being flat)."""
    from clinical_vector_search_spark.streaming.events import (
        seasonal_outliers,
    )

    # 8 weeks of daily events: weekdays value 10, Sundays 20 (periodic),
    # plus one Wednesday spiked to 60 (true anomaly).
    import datetime

    start = datetime.date(2026, 3, 1)  # a Sunday
    rows = []
    eid = 0
    for d in range(56):
        day = start + datetime.timedelta(days=d)
        v = 20.0 if day.weekday() == 6 else 10.0
        if d == 31:  # a Wednesday
            v = 60.0
        rows.append((eid, f"{day} 09:00:00", "m", v))
        eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = seasonal_outliers(df, z_thresh=2.5).collect()
    assert len(out) == 1
    assert str(out[0].day) == "2026-04-01"
    assert out[0].day_total == 60.0


def test_ewma_bounded_matches_pandas_adjust_true(spark):
    """With k >= series length the bounded EWMA equals pandas
    ewm(adjust=True).mean(); first row equals its own value exactly."""
    import pandas as pd

    from clinical_vector_search_spark.streaming.events import ewma_bounded

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0]
    rows = [(i, 1, i * 10**9, v) for i, v in enumerate(vals)]
    rows.append((99, 2, 0, 7.0))  # singleton group
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_ns long, value double"
    )
    got = {
        (r.user_id, r.event_id): r.ewma
        for r in ewma_bounded(df, alpha=0.25, k=10).collect()
    }
    exp = pd.Series(vals).ewm(alpha=0.25, adjust=True).mean()
    for i in range(len(vals)):
        assert abs(got[(1, i)] - round(exp[i], 6)) < 1e-6
    assert got[(2, 99)] == 7.0


def test_ewma_bounded_truncates_to_k_tail(spark):
    """With k=2 only the last two observations matter: weights 1, 0.75."""
    from clinical_vector_search_spark.streaming.events import ewma_bounded

    rows = [(0, 1, 0, 100.0), (1, 1, 10**9, 2.0), (2, 1, 2 * 10**9, 4.0)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_ns long, value double"
    )
    got = {r.event_id: r.ewma for r in ewma_bounded(df, alpha=0.25, k=2).collect()}
    # row 2: (4*1 + 2*0.75) / (1 + 0.75) — the 100 two steps back is gone
    assert abs(got[2] - round((4 + 1.5) / 1.75, 6)) < 1e-6
    # NULL value rows are dropped, not poisoning the frame
    rows2 = rows + [(3, 1, 3 * 10**9, None)]
    df2 = spark.createDataFrame(
        rows2, "event_id long, user_id long, ts_ns long, value double"
    )
    assert sorted(
        r.event_id for r in ewma_bounded(df2, alpha=0.25, k=2).collect()
    ) == [0, 1, 2]


def test_cusum_closed_form_matches_recursion_and_detects_shift(spark):
    """The window-function CUSUM (cumsum - running min) must equal the
    sequential S_t = max(0, S_{t-1} + y_t) recursion exactly, and a mean
    shift after a stationary burn-in must raise the upper alarm at or
    after the true change day, never before."""
    import numpy as np

    from clinical_vector_search_spark.streaming.events import (
        cusum_changepoints,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(10.0, 1.0, 40)
    shifted = rng.normal(13.0, 1.0, 20)  # +3 sigma shift at day 40
    series = np.concatenate([base, shifted])
    import datetime

    start = datetime.date(2026, 1, 1)
    rows = [
        (i, f"{start + datetime.timedelta(days=i)} 12:00:00", "m", float(v))
        for i, v in enumerate(series)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = cusum_changepoints(
        df, burn_in_days=28, k_sigma=0.5, h_sigma=5.0
    ).collect()
    alarm_days = sorted(str(r.day) for r in out if r.alarm_up)
    assert alarm_days, "shift never detected"
    assert alarm_days[0] >= str(start + datetime.timedelta(days=40))
    # closed form == recursion, on the full scored series (alarmed rows)
    mu = series[:28].mean()
    sd = series[:28].std()
    s, seq = 0.0, {}
    for i, v in enumerate(series):
        s = max(0.0, s + (v - (mu + 0.5 * sd)))
        seq[str(start + datetime.timedelta(days=i))] = round(s, 6)
    for r in out:
        assert abs(r.s_up - seq[str(r.day)]) < 1e-6
