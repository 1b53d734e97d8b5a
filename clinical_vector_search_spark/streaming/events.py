"""Event-stream operators over the driver's ``events`` table.

The reference has no streaming surface (SURVEY.md §2.8); these are the
north-star extensions (§7 step 8) built on Structured Streaming, with
batch-mode twins for the DuckDB correctness oracle (a tumbling-window
aggregation is the same SQL in batch).

events.parquet may ship ``ts`` as parquet timestamp[us] (reads as
TIMESTAMP_NTZ / TIMESTAMP) or timestamp[ns] (reads as LongType nanoseconds
under ``spark.sql.legacy.parquet.nanosAsLong=true``, set by
session.get_spark). The readers below normalize BOTH shapes to the same
contract: ``ts_ns`` (long, epoch nanoseconds) + ``ts`` (TIMESTAMP) — via a
timezone-independent derivation, so correctness does not depend on the
caller's session timezone.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

NS = 1_000_000_000


def _with_ts_ns(df: DataFrame) -> DataFrame:
    """Normalize the scanned ``ts`` column to (ts_ns: long, ts: timestamp),
    branching on the dtype the parquet footer actually produced."""
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        # timestamp[ns] + nanosAsLong → already epoch-ns; derive ts below.
        # integer division — (ts_ns / 1000) in double loses exactness past
        # 2^53 (epoch-ns ≈ 1.7e18, ulp ≈ 256 ns), shifting µs by ±1
        df = df.withColumnRenamed("ts", "ts_ns")
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))
    if isinstance(dt, TimestampNTZType):
        # timestamp[us], isAdjustedToUTC=false → TIMESTAMP_NTZ. An NTZ→
        # TIMESTAMP cast would shift by the session timezone; a timestampdiff
        # against the NTZ epoch literal is timezone-INDEPENDENT and exact.
        us = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    else:
        # timestamp[us], isAdjustedToUTC=true → TIMESTAMP; already an instant
        us = F.unix_micros(F.col("ts"))
    return df.withColumn(
        "ts_ns", (us * F.lit(1000)).cast("long")
    ).withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts_ns (long, epoch ns) and ts (timestamp, µs resolution)."""
    return _with_ts_ns(spark.read.parquet(f"{sf_dir}/events.parquet"))


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``read_events``: file-source readStream over the
    same parquet (read-only), same ts_ns/ts derivation. Production points
    the same plan at a Kafka/file-drop source."""
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # the file source requires a DIRECTORY; the testdata table is a single
    # file, so stream the parent dir filtered down to it (read-only)
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _with_ts_ns(df)


def _replay_to_memory(
    df: DataFrame, output_mode: str, tag: str, timeout_sec: float
) -> DataFrame:
    """Run the streaming frame ``df`` as a bounded availableNow replay into
    a memory sink and return the sink's rows as a batch frame.

    The returned frame's analyzed plan holds the sink itself, so the
    catalog view the memory sink registers is dropped before returning —
    also on timeout or failure. Repeated calls leave no view behind, and
    the rows live exactly as long as the returned frame."""
    import uuid

    # awaitTermination rejects a timeout <= 0 only after start(), which
    # would leave the query running and its view registered
    if not timeout_sec > 0:
        raise ValueError(f"timeout_sec must be > 0, got {timeout_sec!r}")
    spark = df.sparkSession
    name = f"{tag}_{uuid.uuid4().hex[:12]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        # awaitTermination(timeout) returns False on timeout — the memory
        # table then holds a PARTIAL answer; fail loudly rather than
        # silently return an incomplete streaming result.
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(
                f"streaming query {name!r} did not terminate within "
                f"{timeout_sec}s; partial results discarded"
            )
        return spark.table(name)
    finally:
        q.stop()
        spark.catalog.dropTempView(name)


@contextmanager
def _sentinel_replay(
    spark: SparkSession,
    sf_dir: str,
    sentinel_types: tuple[str, ...],
    step_sec: int,
) -> Iterator[tuple[DataFrame, int]]:
    """Bounded replay of the events table that ADVANCES the watermark past
    every real event. Yields (stream, max real ts_ns): a streaming frame
    over a temp directory holding the data as ONE file plus two far-future
    sentinel files, read one file per micro-batch. The directory is
    removed on exit, so run the query inside the ``with`` block (a memory
    sink keeps its rows afterwards).

    Sentinel file i ∈ {1, 2} holds one row per entry of ``sentinel_types``
    at max_ts + i·``step_sec``, with negative event ids and user_id −1, so
    it never joins a real row; callers drop sentinel output by id or by
    window. The first sentinel batch moves the watermark past every real
    event, so state eviction emits what only the watermark can finalize
    (outer-join null rows, appended windows); the second covers what the
    first batch's eviction itself produced (rows inside the final
    watermark-delay tail, or a downstream stateful operator's input).
    ``step_sec`` must exceed the operator's window/range plus the
    watermark delay. Without sentinels an availableNow replay TERMINATES
    with that state never evicted."""
    import os
    import shutil
    import tempfile
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = f"{sf_dir}/events.parquet"
    static = spark.read.parquet(src)
    max_ts_ns = _with_ts_ns(static).agg(F.max("ts_ns")).collect()[0][0]
    schema = pq.read_schema(src)
    # parquet timestamps come in ms, us or ns
    ts_unit = {"ms": 1_000_000, "us": 1000, "ns": 1}[
        schema.field("ts").type.unit
    ]
    tmp = tempfile.mkdtemp(prefix="events_replay_")
    try:
        # ONE file for the data batch (a byte copy of the single-file
        # table, as read_events_stream reads it): multiple files would split
        # the data across micro-batches, and any event ordered after a
        # near-max-ts file would arrive BEHIND the advanced watermark
        # and be dropped as late (observed: one view-less click lost).
        # An unbounded production stream replays in event order from a
        # checkpointed source; this replay reproduces that by keeping
        # all data ahead of the first watermark advance.
        shutil.copyfile(src, f"{tmp}/f0.parquet")
        for i in (1, 2):
            ts = (max_ts_ns + i * step_sec * NS) // ts_unit
            rows = [
                {"event_id": -1000 * (j + 1) - i, "user_id": -1,
                 "event_type": t, "value": 0.0, "props": "{}", "ts": ts}
                for j, t in enumerate(sentinel_types)
            ]
            # the source file's own schema, so one streaming schema
            # covers all files
            pq.write_table(
                pa.Table.from_pylist(rows, schema=schema),
                f"{tmp}/f{i}.parquet",
            )
        # file mod-time orders the micro-batches: pin it explicitly
        # (sleeping between writes is slower and fs-resolution-fragile)
        now = time.time()
        for i in (0, 1, 2):
            os.utime(f"{tmp}/f{i}.parquet", (now + 10 * i, now + 10 * i))
        stream = _with_ts_ns(
            spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(tmp)
        )
        yield stream, max_ts_ns
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_streaming_tumbling(
    spark: SparkSession,
    sf_dir: str,
    window_sec: int = 300,
    timeout_sec: int = 300,
) -> DataFrame:
    """Execute the real streaming tumbling aggregation over the bounded
    events table (availableNow trigger → memory sink, complete mode) and
    return the final result as a batch DataFrame shaped exactly like
    ``tumbling_agg`` (window_start as epoch seconds) — so a bounded
    replay is directly comparable to the batch twin / SQL oracle."""
    agg = streaming_tumbling_counts(
        spark, read_events_stream(spark, sf_dir), window_sec
    )
    return _replay_to_memory(agg, "complete", "tumbling", timeout_sec).select(
        (F.unix_timestamp(F.col("window.start"))).alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def streaming_interval_join_pairs(
    events: DataFrame,
    join_type: str = "inner",
    max_delta_sec: int = 3600,
    watermark_sec: int = 60,
) -> DataFrame:
    """The stream-stream interval-join PLAN (unstarted) over a streaming
    events frame: clicks joined (``join_type``: inner, left_outer or
    full_outer) to same-user views from the preceding ``max_delta_sec``,
    inclusive both ends. Watermarks on BOTH event-time columns + the
    time-range condition are what let Spark bound the join state (views
    older than click_watermark − max_delta are dropped) and, for the
    outer types, emit the null side once the watermark proves no match
    can still arrive — tools/plan_audit.py asserts both for every join
    type."""
    wm = f"{watermark_sec} seconds"
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", wm)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
            "value",
        )
        .withWatermark("view_ts", wm)
    )
    return clicks.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (
            F.col("view_ts")
            >= F.col("click_ts") - F.expr(f"INTERVAL {max_delta_sec} SECONDS")
        ),
        join_type,
    )


def run_streaming_interval_join(
    spark: SparkSession,
    sf_dir: str,
    join_type: str = "inner",
    max_delta_sec: int = 3600,
    watermark_sec: int = 60,
    timeout_sec: int = 300,
) -> DataFrame:
    """REAL watermarked stream-stream interval join
    (:func:`streaming_interval_join_pairs`), executed as an availableNow
    replay of the bounded events table (:func:`_sentinel_replay`) into a
    memory sink and rolled up so it is hash-comparable to the batch/SQL
    oracle.

    ``join_type``:

    * ``"inner"`` — per-click (click_id, n_views, sum_view_value) for
      clicks with a preceding same-user view. Matches emit as soon as both
      sides arrive, so all of them land in the first, data-only batch.
    * ``"left_outer"`` — the same rollup, plus n_views=0 / sum NULL for
      view-less clicks: the classic streaming correctness trap. Spark can
      emit a click's null row only once the watermark proves no matching
      view can still arrive, so null rows surface in a micro-batch AFTER
      the watermark passes the click, never when the click is read.
    * ``"full_outer"`` — two-sided: ('click', click_id, n_matched,
      sum_value) per click as above, plus ('view_orphan', view_id, 0, own
      value) for every view no click picked up within ``max_delta_sec``
      after it — what a lost-attribution audit reads: impressions that
      never converted inside the window."""
    if join_type not in ("inner", "left_outer", "full_outer"):
        raise ValueError(f"unknown interval join type: {join_type!r}")
    # Sentinels carry the REAL event types: the watermark columns live
    # BEHIND the click/view filters, so a 'flush'-typed row would be
    # filtered out before the EventTimeWatermark node and advance
    # nothing. And the global watermark is the MIN across both sides, so
    # BOTH sides need one (observed otherwise: the last click of the
    # table — the one whose click_ts IS the click-side max — never got
    # its null row because the watermark stalled 60s short of it).
    with _sentinel_replay(
        spark, sf_dir, ("click", "view"), max_delta_sec + watermark_sec + 3600
    ) as (stream, _):
        raw = _replay_to_memory(
            streaming_interval_join_pairs(
                stream, join_type, max_delta_sec, watermark_sec
            ),
            "append",
            f"ssjoin_{join_type}",
            timeout_sec,
        )
    per_click = (
        raw.filter(F.col("click_id") >= 0)  # drop flush sentinels
        .groupBy("click_id")
        .agg(
            F.count("view_id").alias("n_views"),
            F.round(F.sum("value"), 6).alias("sum_view_value"),
        )
    )
    if join_type != "full_outer":
        return per_click
    orphan_views = raw.filter(
        F.col("click_id").isNull() & (F.col("view_id") >= 0)
    ).select(
        F.lit("view_orphan").alias("side"),
        F.col("view_id").alias("id"),
        F.lit(0).cast("long").alias("n_matched"),
        F.round(F.col("value"), 6).alias("sum_value"),
    )
    return per_click.select(
        F.lit("click").alias("side"),
        F.col("click_id").alias("id"),
        F.col("n_views").alias("n_matched"),
        F.col("sum_view_value").alias("sum_value"),
    ).unionByName(orphan_views)

def run_streaming_dedup(
    spark: SparkSession,
    sf_dir: str,
    timeout_sec: int = 300,
) -> DataFrame:
    """Streaming deduplication: first-seen (user_id, event_type) pairs over
    an availableNow replay of the bounded events table — the streaming twin
    of ``SELECT DISTINCT``. Output (append mode) carries exactly one row per
    distinct pair, so a bounded replay is hash-comparable to the batch/SQL
    oracle.

    State design: the dedup state is keyed by the pair; with the event-time
    watermark attached, production streams with replay-bounded duplicate
    horizons should use ``dropDuplicatesWithinWatermark`` so state ages out
    instead of growing with key cardinality. Here keys are bounded
    (users × event types), the exact-distinct contract of the oracle."""
    ev = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
    )
    dd = ev.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return _replay_to_memory(dd, "append", "dedup", timeout_sec)


def interval_join_batch(
    events: DataFrame, max_delta_sec: int = 3600
) -> DataFrame:
    """Batch twin of :func:`run_streaming_interval_join` over the same
    events DataFrame — per-click rollup of same-user views in the
    preceding window (µs domain)."""
    delta_us = max_delta_sec * 1_000_000
    ev = events.withColumn("ts_us", F.expr("ts_ns div 1000"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts_us").alias("click_us"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts_us").alias("view_us"),
        "value",
    )
    pairs = clicks.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_us") <= F.col("click_us"))
        & (F.col("view_us") >= F.col("click_us") - F.lit(delta_us)),
        "inner",
    )
    return pairs.groupBy("click_id").agg(
        F.count("*").alias("n_views"),
        F.round(F.sum("value"), 6).alias("sum_view_value"),
    )


def tumbling_agg(events: DataFrame, window_sec: int = 300) -> DataFrame:
    """Tumbling-window counts/sums per event_type. Batch twin of the
    streaming aggregation; window start exposed as epoch seconds (long) so
    the oracle comparison is timezone-proof."""
    # integer div — double division is inexact past 2^53 (see read_events)
    bucket = (
        F.expr(f"ts_ns div {NS * window_sec}") * F.lit(window_sec)
    ).alias("window_start")
    return (
        events.groupBy(bucket, "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.avg("value").alias("avg_value"),
        )
    )


def funnel_levels(
    events: DataFrame,
    steps: list[str],
    id_col: str = "user_id",
    ts_col: str = "ts_ns",
    type_col: str = "event_type",
) -> list[DataFrame]:
    """The lazy per-level frames behind :func:`funnel`: level i holds
    (id, t) = users who completed steps[0..i] in order, with t the greedy
    earliest completion time. Exposed so callers (and the physical-plan
    audit) can inspect or reuse the level chain; :func:`funnel` persists
    each level so the chain executes with one pushed-down events scan per
    step."""
    levels: list[DataFrame] = []
    reached = None
    for step in steps:
        ev_s = events.filter(F.col(type_col) == step).select(
            F.col(id_col), F.col(ts_col).alias("_ts")
        )
        if reached is None:
            cur = ev_s.groupBy(id_col).agg(F.min("_ts").alias("t"))
        else:
            cur = (
                ev_s.join(
                    reached.select(id_col, F.col("t").alias("_prev")),
                    id_col,
                )
                .filter(F.col("_ts") > F.col("_prev"))
                .groupBy(id_col)
                .agg(F.min("_ts").alias("t"))
            )
        levels.append(cur)
        reached = cur
    return levels


def funnel_window(
    events: DataFrame,
    steps: list[str],
    id_col: str = "user_id",
    ts_col: str = "ts_ns",
    type_col: str = "event_type",
) -> DataFrame:
    """Single-job funnel: the greedy per-user completion times t_1..t_k
    as CHAINED window minima over one user partitioning — t_i =
    min(ts of step-i events with ts > t_{i-1}) OVER (PARTITION BY user).
    The k Window operators share the partitioning, so the plan has ONE
    event-volume exchange (plus a tiny single-row count agg); the
    step-type isin filter is pushed to the scan. Fully lazy.

    Skew note: each WindowExec buffers one user's rows (spilling to
    disk), so a power-law bot user makes a straggler task — same unit of
    work as plain sessionize. :func:`funnel` strategy="levels" is the
    bounded-per-task alternative; "auto" (the default) probes the
    per-user histogram and dispatches.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    w = Window.partitionBy(id_col)
    df = events.filter(F.col(type_col).isin(list(steps))).select(
        id_col, ts_col, type_col
    )
    tcols = []
    for i, step in enumerate(steps):
        cond = F.col(type_col) == step
        if tcols:
            cond = cond & (F.col(ts_col) > F.col(tcols[-1]))
        name = f"_t{i + 1}"
        df = df.withColumn(name, F.min(F.when(cond, F.col(ts_col))).over(w))
        tcols.append(name)
    per_user = df.groupBy(id_col).agg(
        *[F.first(c).alias(c) for c in tcols]  # t_i constant per user
    )
    counts = per_user.agg(
        *[
            F.sum(F.col(c).isNotNull().cast("long")).alias(f"_n{i + 1}")
            for i, c in enumerate(tcols)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("step_idx"),
                F.lit(step).alias("step"),
                F.coalesce(F.col(f"_n{i + 1}"), F.lit(0)).alias("n_users"),
            )
            for i, step in enumerate(steps)
        ]
    )
    return (
        counts.select(
            F.coalesce(F.col("_n1"), F.lit(0)).alias("_base"),
            F.explode(rows).alias("_r"),
        )
        .select(
            F.col("_r.step_idx").alias("step_idx"),
            F.col("_r.step").alias("step"),
            F.col("_r.n_users").alias("n_users"),
            F.when(
                F.col("_base") > 0,
                F.round(F.col("_r.n_users") / F.col("_base"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("conv_rate"),
        )
    )


def funnel(
    events: DataFrame,
    steps: list[str],
    id_col: str = "user_id",
    ts_col: str = "ts_ns",
    type_col: str = "event_type",
    strategy: str = "auto",
    skew_threshold: int = 2_000_000,
) -> DataFrame:
    """Ordered-funnel analysis: how many users performed ``steps`` in
    strict timestamp order (view → click → purchase, each AFTER the
    previous). Returns one row per step: (step_idx, step, n_users,
    conv_rate) with conv_rate relative to step 1.

    Greedy earliest-completion is exact for existence: t_1 = a user's
    earliest step-1 event; t_i = earliest step-i event strictly after
    t_{i-1}; the user reaches step i iff t_i exists.

    ``strategy``:

    * ``"window"`` — :func:`funnel_window`: ONE lazy job, one
      event-volume shuffle, chained per-user window minima. The fast
      path; a WindowExec buffers (and spills) one user's rows per task.
    * ``"levels"`` — the bounded-per-task path: k filtered scans
      (event-type predicate pushed to the parquet scan), each level a
      map-side-combined min per user + a user-granularity join against
      the previous level. No per-user event buffering anywhere, so a
      bot with a billion events costs min() partials, not task memory —
      at the price of k sequential jobs (EAGER: levels are persisted,
      counted, and unpersisted; the result is a k-row local frame).
    * ``"auto"`` (default) — probe the per-user event histogram (one
      cheap map-side-combined agg, same dispatch as sessionize) and
      pick "levels" iff some user exceeds ``skew_threshold`` events.

    All strategies return identical values (equivalence-tested).
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    if strategy == "auto":
        # same histogram probe as choose_sessionize_strategy, but on the
        # funnel's own id column
        mx = events.groupBy(id_col).count().agg(F.max("count")).first()[0]
        strategy = "levels" if (mx or 0) > skew_threshold else "window"
    if strategy == "window":
        return funnel_window(events, steps, id_col, ts_col, type_col)
    if strategy != "levels":
        raise ValueError(f"unknown funnel strategy: {strategy!r}")
    spark = events.sparkSession
    levels = funnel_levels(events, steps, id_col, ts_col, type_col)
    rows = []
    try:
        for i, (step, cur) in enumerate(zip(steps, levels)):
            cur.persist()  # level i+1's join reads the CACHED level i
            rows.append((i + 1, step, cur.count()))
    finally:
        for df in levels:
            df.unpersist(blocking=False)
    n1 = rows[0][2]
    out = [
        (idx, step, n, round(n / n1, 6) if n1 > 0 else 0.0)
        for idx, step, n in rows
    ]
    return spark.createDataFrame(
        out, "step_idx int, step string, n_users bigint, conv_rate double"
    )


def retention_cohorts(
    events: DataFrame,
    horizons: list[int],
    day_sec: int = 86400,
    id_col: str = "user_id",
    ts_col: str = "ts_ns",
) -> DataFrame:
    """Cohort retention: group users by first-activity day, then for each
    horizon n report how many were active again exactly n days later.
    Returns (cohort_day, n_users, horizon, n_active, rate) — EVERY
    requested horizon appears for every cohort, with n_active = 0 when no
    user returned (a consumer can tell 0% retention from missing data);
    cohort_day in epoch days.

    Plan (r15): ONE event-volume shuffle — groupBy(user) collecting the
    distinct day SET (map-side combined; per-user state bounded by the
    day domain, never events). Cohort = array_min of the set, so the
    former separate (user, day) distinct, the min-day aggregation, AND
    the user-granularity activity join all collapse into expressions
    over the one set frame; the frame is pinned (``plan_cache.pin`` —
    recomputable persist, r16) so its two consumers (cohort sizes,
    offset counts) do not re-run the event scan. Final counts per (cohort, horizon) are tiny aggs,
    densified by a broadcast cross with the horizons list + left join.
    Exact distinct-user counts throughout (swap count_distinct for
    approx_count_distinct at trillion-row scale if ±2% suffices).
    """
    if not horizons:
        raise ValueError("retention_cohorts needs at least one horizon")
    from clinical_vector_search_spark.plan_cache import pin

    sets = pin(
        events.select(
            F.col(id_col),
            F.expr(f"{ts_col} div {day_sec * NS}").alias("day"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("day").alias("_days"))
    )
    rows = sets.select(
        F.array_min("_days").alias("cohort_day"),
        F.explode("_days").alias("day"),
    )
    sizes = (
        rows.filter(F.col("day") == F.col("cohort_day"))
        .groupBy("cohort_day")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    offsets = (
        rows.withColumn("horizon", F.col("day") - F.col("cohort_day"))
        .filter(F.col("horizon").isin([int(h) for h in horizons]))
        .groupBy("cohort_day", "horizon")
        .agg(F.count(F.lit(1)).alias("n_active"))  # (user, day) distinct
    )
    horizon_rows = events.sparkSession.createDataFrame(
        [(int(h),) for h in sorted({int(h) for h in horizons})],
        "horizon long",
    )
    return (
        sizes.crossJoin(F.broadcast(horizon_rows))
        .join(offsets, ["cohort_day", "horizon"], "left")
        .select(
            "cohort_day",
            "n_users",
            "horizon",
            F.coalesce("n_active", F.lit(0)).cast("long").alias("n_active"),
            F.round(
                F.coalesce("n_active", F.lit(0)) / F.col("n_users"), 6
            ).alias("rate"),
        )
    )


def sliding_agg(
    events: DataFrame, window_sec: int = 300, slide_sec: int = 60
) -> DataFrame:
    """Sliding-window counts/sums per event_type (batch twin of
    ``F.window(ts, window, slide)``). Each event belongs to
    window_sec/slide_sec overlapping windows; implemented as a JVM-side
    sequence+explode fan-out (no shuffle until the final aggregation —
    the same shape Structured Streaming uses internally).

    window_sec must be a multiple of slide_sec. Window start exposed as
    epoch seconds."""
    assert window_sec % slide_sec == 0, "window must be a multiple of slide"
    n_covering = window_sec // slide_sec
    # last covering window starts at the event's slide bucket; first starts
    # (n_covering-1) slides earlier — clamped at 0 for the epoch edge
    slide_bucket = F.expr(f"ts_ns div {NS * slide_sec}")
    starts = F.sequence(
        F.greatest(
            (slide_bucket - F.lit(n_covering - 1)) * F.lit(slide_sec),
            F.lit(0),
        ),
        slide_bucket * F.lit(slide_sec),
        F.lit(slide_sec),
    )
    return (
        events.withColumn("window_start", F.explode(starts))
        .groupBy("window_start", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )


def choose_sessionize_strategy(
    events: DataFrame, skew_threshold: int = 2_000_000
) -> str:
    """Pick "plain" vs "skew" sessionization from the per-user event-count
    histogram: one cheap map-side-combined aggregation (count per user →
    global max). Plain partitions the session window by user_id alone, so
    its unit of work is ONE USER'S WHOLE HISTORY in one sort task — fine
    until a power-law user (bot) exceeds a task's memory/runtime, at which
    point the salted variant's ~4 extra stitch stages (measured ~3.7×
    slower on uniform data) become cheap insurance. The threshold is
    events-per-user; 2M events ≈ tens of MB of sort buffer per task at
    this schema, comfortably inside an executor, with margin."""
    mx = events.groupBy("user_id").count().agg(F.max("count")).first()[0]
    return "skew" if (mx or 0) > skew_threshold else "plain"


def sessionize(
    events: DataFrame,
    gap_sec: int = 1800,
    strategy: str = "plain",
    range_sec: int = 86400,
    skew_threshold: int = 2_000_000,
) -> DataFrame:
    """Gap-based sessionization per user: a new session starts when the gap
    since the previous event exceeds ``gap_sec``. Classic lag + running-sum
    window plan — one shuffle on user_id. Returns per-session rollups.

    ``strategy``: "plain" (this window plan, 0-based ``session_seq``),
    "skew" (:func:`sessionize_skew`, bounded per-task work, 1-based
    ``session_num``), or "auto" — sample the per-user histogram via
    :func:`choose_sessionize_strategy` (one eager aggregation at
    plan-build time) and dispatch, normalizing the plain output to the
    skew-shaped 1-based ``session_num`` so callers see ONE schema
    whichever plan won. Session contents are identical across strategies
    (equivalence-tested in tests/test_events.py)."""
    if strategy == "skew":
        return sessionize_skew(events, gap_sec, range_sec)
    if strategy == "auto":
        picked = choose_sessionize_strategy(events, skew_threshold)
        if picked == "skew":
            return sessionize_skew(events, gap_sec, range_sec)
        plain = sessionize(events, gap_sec)
        return plain.select(
            "user_id",
            (F.col("session_seq") + 1).alias("session_num"),
            "n_events",
            "session_start_ns",
            "session_end_ns",
            "sum_value",
        )
    if strategy != "plain":
        raise ValueError(f"unknown sessionize strategy: {strategy!r}")
    w = Window.partitionBy("user_id").orderBy("ts_ns")
    gap_ns = gap_sec * NS
    with_flag = events.withColumn(
        "new_session",
        F.when(
            (F.col("ts_ns") - F.lag("ts_ns").over(w)) > F.lit(gap_ns), 1
        ).otherwise(0),
    )
    with_sid = with_flag.withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return with_sid.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts_ns").alias("session_start_ns"),
        F.max("ts_ns").alias("session_end_ns"),
        F.sum("value").alias("sum_value"),
    )


def run_streaming_enrich(
    spark: SparkSession,
    sf_dir: str,
    timeout_sec: int = 300,
) -> DataFrame:
    """Stream-static enrichment: the events STREAM joins a static dimension
    (customer, user_id = c_custkey) and rolls up per (mktsegment,
    event_type) — the canonical lookup-table pattern. The static side needs
    no watermark or state: Spark re-plans it per micro-batch (and
    broadcasts it when small), so dimension updates between batches are
    picked up for free. availableNow replay → memory sink, complete mode,
    hash-comparable to the batch/SQL oracle."""
    dim = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    ev = read_events_stream(spark, sf_dir).select(
        "user_id", "event_type", "value"
    )
    agg = (
        ev.join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    return _replay_to_memory(agg, "complete", "enrich", timeout_sec)


def run_streaming_sessionize(
    spark: SparkSession,
    sf_dir: str,
    gap_sec: int = 1800,
    timeout_sec: int = 300,
) -> DataFrame:
    """REAL Structured Streaming sessionization via ``F.session_window``:
    a session extends while events keep arriving within ``gap_sec`` of the
    latest one, executed as an availableNow replay of the bounded events
    table into a memory sink. Returns per-session (user_id,
    session_start_us, session_end_us, n_events, sum_value) where the end is
    last-event + gap (session_window's close semantics; a new session opens
    at diff >= gap — the batch twin's strict-> differs only on exact-equality
    gaps, measure-zero on µs data).

    Complete output mode keeps every session in state — correct for the
    bounded-replay/oracle contract here; an unbounded production stream
    uses append mode so the watermark finalizes and evicts closed sessions.
    """
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(
        F.session_window("ts", f"{gap_sec} seconds"), F.col("user_id")
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )
    return _replay_to_memory(agg, "complete", "sessw", timeout_sec).select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
        F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
        "n_events",
        "sum_value",
    )


def sessionize_skew(
    events: DataFrame, gap_sec: int = 1800, range_sec: int = 86400
) -> DataFrame:
    """Skew-resistant sessionization (VERDICT r3 task 8): same semantics as
    :func:`sessionize`, but no single task ever holds one user's whole
    history. ``sessionize`` partitions the window by user_id alone — at
    100 TB a power-law user (a bot with billions of events) turns into one
    straggler/OOM task. Here the timeline is salted by coarse time range:

      1. events shuffle ONCE on (user_id, rng) where rng = ts div range_sec
         — per-task data is bounded by one user-DAY (tunable), not one user,
         and this is the ONLY event-volume exchange in the plan (r16);
      2. session-start flags are computed locally with every range opening
         its own first run — no cross-range information touches event rows;
      3. partial per-range runs are stitched in one session-granularity
         window: a run merges into the previous one iff its start is within
         gap of the previous run's end (exact within AND across ranges —
         see the inline proof), then the running open-count numbers the
         sessions and one re-aggregation rolls them up — all at session
         granularity, orders of magnitude smaller.

    Requires range_sec >= gap_sec (otherwise a session could span an empty
    range and the boundary stitch would miss the merge). Returns the same
    per-session rollup columns as ``sessionize`` with ``session_num``
    (1-based per user) instead of ``session_seq``.

    Cost honesty: vs plain ``sessionize`` this pays the same ONE event
    shuffle (on the salted key) plus two session-granularity stitch
    stages (r16; the former spelling added an event-scale boundary
    aggregation and an event-scale summary join on top — both deleted),
    so on data whose heaviest user still fits one sort task
    ``sessionize`` remains slightly faster. This variant is insurance
    for the tail that breaks the plain plan — per-user histories too
    big for one task's memory/runtime — not a default replacement.
    """
    if range_sec < gap_sec:
        raise ValueError(
            f"range_sec ({range_sec}) must be >= gap_sec ({gap_sec}): a "
            "session could span an empty range and the stitch would miss it"
        )
    gap_ns = gap_sec * NS
    ev = events.withColumn("rng", F.expr(f"ts_ns div {range_sec * NS}"))

    # Local flags from ONE event shuffle on (user_id, rng) — the only
    # event-volume exchange in the plan (r16). Every range opens its
    # own local run (the first event is unconditionally new); whether a
    # range's first run CONTINUES the previous range's last session is
    # decided at SESSION granularity in the stitch below, where the
    # boundary timestamps are already present as partial-session
    # min/max — this deletes the former event-scale per-range boundary
    # aggregation AND the event-scale summary join that carried
    # prev_last_ts onto every event row (guide §2.4: the heavy rows
    # cross the network once; all stitch decisions ride on
    # session-granularity proxies).
    w_loc = Window.partitionBy("user_id", "rng").orderBy("ts_ns")
    ev = (
        ev.withColumn("prev_ts", F.lag("ts_ns").over(w_loc))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | ((F.col("ts_ns") - F.col("prev_ts")) > F.lit(gap_ns)),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "local_run",
            F.sum("new_session").over(
                w_loc.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )

    # partial per-range sessions (session granularity from here on);
    # the groupBy reuses the (user_id, rng) partitioning — no shuffle
    part = ev.groupBy("user_id", "rng", "local_run").agg(
        F.count("*").alias("n_events"),
        F.min("ts_ns").alias("session_start_ns"),
        F.max("ts_ns").alias("session_end_ns"),
        F.sum("value").alias("sum_value"),
    )
    # Stitch in ONE session-granularity window pass: partial runs
    # ordered by (rng, local_run) per user; a run opens a NEW session
    # iff its start is more than gap after the previous partial run's
    # end. Within a range consecutive runs satisfy start − prev_end >
    # gap by construction (that is what split them), so the rule is
    # exact there; across ranges it is exactly the old prev_last_ts
    # test (the previous partial IS the previous range's last run —
    # range_sec ≥ gap_sec guarantees a session never spans an EMPTY
    # range, and non-adjacent partials are > range_sec apart). The
    # running sum of opens is the 1-based session number. Partitioned
    # by user over SESSION rows (bounded: events/gap), not events, so
    # the skew-safety contract is preserved.
    w_sess = Window.partitionBy("user_id").orderBy("rng", "local_run")
    opened = part.withColumn(
        "_prev_end", F.lag("session_end_ns").over(w_sess)
    ).withColumn(
        "_open",
        F.when(
            F.col("_prev_end").isNull()
            | (
                (F.col("session_start_ns") - F.col("_prev_end"))
                > F.lit(gap_ns)
            ),
            1,
        ).otherwise(0),
    )
    return (
        opened.withColumn(
            "session_num",
            F.sum("_open").over(
                w_sess.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "session_num")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.min("session_start_ns").alias("session_start_ns"),
            F.max("session_end_ns").alias("session_end_ns"),
            F.sum("sum_value").alias("sum_value"),
        )
    )


def streaming_user_totals(events_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running (n_events, sum_value) maintained in keyed state and
    re-emitted on every update.

    The canonical shape for operators Structured Streaming lacks built-in
    (custom sessionization, decayed counters, online sketches): state is a
    typed tuple per key, updates arrive as Arrow batches, output mode
    Update. Input must be a STREAMING DataFrame with (user_id, value)."""
    import pandas as pd  # local import keeps module import light

    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_events long, sum_value double"
    state_schema = "n long, s double"

    def fn(key, pdfs, state):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def run_streaming_user_totals(
    spark: SparkSession,
    sf_dir: str,
    timeout_sec: int = 300,
) -> DataFrame:
    """Execute :func:`streaming_user_totals` (the applyInPandasWithState
    custom stateful operator) as an availableNow replay into a memory sink
    and reduce to the FINAL per-user totals. Update mode emits one row per
    key per micro-batch it received data in; since the running totals only
    grow, the final state is the max-``n_events`` row per user — robust to
    availableNow splitting the replay into several batches."""
    ev = read_events_stream(spark, sf_dir).select("user_id", "value")
    final = F.max(F.struct("n_events", "sum_value")).alias("_m")
    return (
        _replay_to_memory(
            streaming_user_totals(ev), "update", "utotals", timeout_sec
        )
        .groupBy("user_id")
        .agg(final)
        .select(
            "user_id",
            F.col("_m.n_events").alias("n_events"),
            F.round("_m.sum_value", 6).alias("sum_value"),
        )
    )


def streaming_tumbling_counts(
    spark: SparkSession, events: DataFrame, window_sec: int = 300
):
    """Watermarked event-time tumbling aggregation over any STREAMING
    events frame (the file-source replay of :func:`read_events_stream`,
    a temp parquet dir in tests; Kafka or a file drop in production —
    the same plan). Returns the unstarted aggregation."""
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", f"{window_sec} seconds"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    )
    return agg


def decayed_counts(
    events: DataFrame,
    half_life_sec: float,
    as_of_ns: int | None = None,
    keys: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Exponentially-decayed event counters per key — the recency-weighted
    popularity/activity signal (each event contributes
    2^(-(as_of - t) / half_life), so activity from one half-life ago counts
    half). Pure aggregation: one shuffle on the keys, map-side combined —
    the batch twin of a decayed-counter stateful stream.

    ``as_of_ns`` defaults to the max event time in the frame (computed
    in-plan via a broadcast 1-row aggregate, so the operator stays lazy).
    Returns keys + (decayed_count, decayed_value_sum, n_events)."""
    ev = events
    if as_of_ns is None:
        mx = events.agg(F.max("ts_ns").alias("_as_of"))
        ev = events.crossJoin(F.broadcast(mx))
        as_of_col = F.col("_as_of")
    else:
        as_of_col = F.lit(int(as_of_ns))
    age_hl = (as_of_col - F.col("ts_ns")).cast("double") / F.lit(
        half_life_sec * float(NS)
    )
    wgt = F.pow(F.lit(2.0), -age_hl)
    return ev.groupBy(*[F.col(k) for k in keys]).agg(
        F.sum(wgt).alias("decayed_count"),
        F.sum(wgt * F.col("value")).alias("decayed_value_sum"),
        F.count("*").alias("n_events"),
    )


def resample_gapfill(
    events: DataFrame,
    interval_sec: int = 3600,
    group_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-group time-series resample with gap filling — the
    dense-grid shape every downstream forecaster/chart needs: aggregate
    events into fixed ``interval_sec`` buckets, then EMIT EVERY bucket
    between each group's first and last event (missing buckets get
    n_events=0, v_sum NULL) plus a forward-filled value column
    (last non-null v_sum so far — the "carry the meter reading" rule).

    Output: (group, bucket_start epoch-sec, n_events, v_sum, v_ffill).

    Scale shape (r15): one shuffle for the bucket aggregate (map-side
    combined), then ONE window pass at EVENT-BUCKET granularity
    computes each bucket's successor (lead) and forward-fill value
    (last non-null so far); the dense grid is generated map-side by
    exploding each inter-event segment [bucket, next_bucket) — gap
    rows inherit the segment head's ffill value by construction, so
    the former grid-build groupBy, the grid→agg join, and the
    grid-granularity ffill window (a window over ~interval× more rows)
    all disappear: 4 exchanges → 2, no join (measured 1.13 s → ~0.8 s
    at sf0.1, identical rows). Grid size is bounded by
    time-span/interval per group — pick the interval for the span you
    densify (a year of hourly buckets is 8.8k rows per group; a year
    of SECONDS is 31M — that's a caller bug, not an operator regime).
    """
    bucket = (F.col("ts_ns") / F.lit(interval_sec * NS)).cast("long")
    agg = events.groupBy(
        F.col(group_col), bucket.alias("_b")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(value_col), 6).alias("v_sum"),
    )
    w = Window.partitionBy(group_col).orderBy("_b")
    seg = agg.select(
        group_col,
        "_b",
        "n_events",
        "v_sum",
        # ffill at event-bucket granularity: gap buckets inside a
        # segment all carry the head's value, so this IS the dense
        # grid's last-non-null-so-far
        F.last("v_sum", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_ffill"),
        F.lead("_b").over(w).alias("_nb"),
    )
    # explode each [bucket, next_bucket) segment: position 0 is the
    # real event bucket, later positions are the gap rows (n_events 0,
    # v_sum NULL) up to the group's last bucket, which has no successor
    # and emits itself alone — exactly the min..max grid
    return seg.select(
        group_col,
        F.posexplode(
            F.sequence(
                F.col("_b"),
                F.coalesce(F.col("_nb") - 1, F.col("_b")),
            )
        ).alias("_i", "_gb"),
        "n_events",
        "v_sum",
        "_ffill",
    ).select(
        group_col,
        (F.col("_gb") * interval_sec).alias("bucket_start"),
        F.when(F.col("_i") == 0, F.col("n_events"))
        .otherwise(F.lit(0)).alias("n_events"),
        F.when(F.col("_i") == 0, F.col("v_sum")).alias("v_sum"),
        F.col("_ffill").alias("v_ffill"),
    )


def attribution_linear(
    events: DataFrame,
    touch_types: list[str],
    conversion_type: str = "purchase",
    window_sec: int = 86400,
) -> DataFrame:
    """Linear multi-touch attribution: every conversion splits one unit
    of credit equally across the same user's touch events in the
    preceding ``window_sec`` (view/click before a purchase). Output is
    the marketing-report rollup (touch_type, n_touches,
    credit = Σ 1/n_touches_of_that_conversion, rounded 6dp);
    conversions with zero preceding touches contribute nothing (their
    credit is unattributable by definition).

    Scale shape: one user-key equi-join with a time-range predicate
    (same bucketed pattern as the as-of/interval family — the range
    filter rides the user-key shuffle), a per-conversion window count
    for the 1/n split, then a tiny touch_type rollup. No cartesian,
    no collect."""
    conv = events.filter(F.col("event_type") == conversion_type).select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts_ns").alias("c_ns"),
    )
    touches = events.filter(
        F.col("event_type").isin(list(touch_types))
    ).select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        F.col("event_type").alias("touch_type"),
        F.col("ts_ns").alias("t_ns"),
    )
    pairs = touches.join(
        conv,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("t_ns") <= F.col("c_ns"))
        & (F.col("t_ns") > F.col("c_ns") - F.lit(window_sec * NS)),
    )
    w = Window.partitionBy("conv_id")
    credited = pairs.withColumn(
        "credit", F.lit(1.0) / F.count(F.lit(1)).over(w)
    )
    return credited.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.round(F.sum("credit"), 6).alias("credit"),
    )


def session_paths(
    events: DataFrame,
    gap_sec: int = 1800,
    max_len: int = 10,
    min_sessions: int = 2,
) -> DataFrame:
    """Session path mining: the top event-type SEQUENCES users walk
    through a session ("view>click>purchase") — the navigation-pattern
    rollup behind funnel discovery (funnel() checks a GIVEN sequence;
    this surfaces which sequences exist). Sessions use the same
    inactivity-gap rule as sessionize(); a path is the first
    ``max_len`` events of a session in (ts, event_id) order, joined
    with '>'. Output: (path, n_sessions) for paths seen in ≥
    ``min_sessions`` sessions — the support cut keeps output (and the
    cross-engine hash) stable.

    Scale shape: one user-key shuffle carries the lag/cumsum session
    assignment AND the per-session collect (session granularity, path
    capped at max_len types — state per group is bounded); the final
    path count is a tiny aggregate. Deterministic: paths are built from
    sort_array over (ts_ns, event_id, type) structs — unique event ids
    break timestamp ties identically in any engine."""
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    new_s = F.when(
        F.lag("ts_ns").over(w).isNull()
        | (F.col("ts_ns") - F.lag("ts_ns").over(w) > gap_sec * NS),
        1,
    ).otherwise(0)
    assigned = events.select(
        "user_id", "event_id", "ts_ns", "event_type"
    ).withColumn(
        "_seq",
        F.sum(new_s).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sessions = assigned.groupBy("user_id", "_seq").agg(
        F.sort_array(
            F.collect_list(F.struct("ts_ns", "event_id", "event_type"))
        ).alias("_evs")
    )
    path = F.concat_ws(
        ">",
        F.transform(
            F.slice("_evs", 1, max_len), lambda x: x["event_type"]
        ),
    )
    return (
        sessions.select(path.alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .filter(F.col("n_sessions") >= min_sessions)
    )


def run_streaming_scd2_enrich(
    spark: SparkSession,
    sf_dir: str,
    max_user: int = 50,
    timeout_sec: int = 300,
) -> DataFrame:
    """Stream-static TEMPORAL enrichment: each event joins the SCD2
    dimension VERSION that was valid at the event's own timestamp
    (user key + ``valid_from <= ts < valid_to`` with an open-ended
    current version) — the point-in-time-correct lookup every
    feature-store/training pipeline needs (joining the CURRENT version
    instead silently leaks future state into past events).

    The range predicate rides the user-key equi-join on a broadcast
    static side; the stream stays stateless (no watermark needed —
    Spark re-plans the static side per micro-batch, which is also how
    dimension updates get picked up). Output: per (state-at-event-time,
    event_type) rollup, hash-comparable to the batch SQL twin."""
    from clinical_vector_search_spark.operators.temporal import scd2_merge

    ev_b = read_events(spark, sf_dir).filter(F.col("user_id") < max_user)
    empty = spark.createDataFrame(
        [],
        "user_id long, event_type string, valid_from long, valid_to long",
    )
    # the dimension tracks only the signup/purchase lifecycle states, so
    # the enriched (state, event_type) rollup is a real matrix — with a
    # dimension built from ALL events, state == event_type trivially and
    # a range-predicate bug would be invisible
    dim = scd2_merge(
        empty,
        ev_b.filter(F.col("event_type").isin("signup", "purchase"))
        .select("user_id", "event_type", "ts_ns"),
        "user_id", ["event_type"],
    ).select(
        F.col("user_id").alias("_d_user"),
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
    )
    stream = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("user_id") < max_user)
        .select("user_id", "event_type", "ts_ns", "value")
    )
    joined = stream.join(
        F.broadcast(dim),
        (F.col("user_id") == F.col("_d_user"))
        & (F.col("ts_ns") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts_ns") < F.col("valid_to"))),
    )
    agg = joined.groupBy("state", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return _replay_to_memory(agg, "complete", "scd2enrich", timeout_sec)


def time_weighted_avg(
    events: DataFrame,
    group_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Time-weighted mean of ``value_col`` per group: each observation is
    weighted by how long it was the CURRENT value (the gap to the group's
    next event), the standard irregular-time-series mean (a tumbling bar
    averages ticks equally; a sensor emitting on-change needs the
    holding-duration weight or rare-but-long-lived states vanish).

    twa = Σ value_i · (t_{i+1} − t_i) / (t_last − t_first), over events
    ordered by (ts_ns, event_id); the last event holds no interval and
    contributes only its timestamp. Groups whose span is zero (a single
    event, or all events on one timestamp) have no defined holding time
    and are excluded rather than divided by zero.

    Scale shape: one lag/lead window per group key — the same single
    group-key shuffle as sessionize; no self-join, no driver state.
    ``span_ns`` is a LONG sum of LONG gaps — integer-exact regardless of
    group span (a double sum loses ns past 2^53 ≈ 104 days·ns-scale);
    only the weighted numerator and the final division are double.

    Output: (group, n_events, span_ns, twa DOUBLE rounded 6).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.asc("ts_ns"), F.asc("event_id")
    )
    gap = F.lead("ts_ns").over(w) - F.col("ts_ns")
    stepped = events.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).alias("_v"),
        gap.alias("_gap"),
    )
    return (
        stepped.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_gap").alias("span_ns"),
            (
                F.sum(F.col("_v") * F.col("_gap").cast("double"))
                / F.sum("_gap").cast("double")
            ).alias("_twa"),
        )
        .filter(F.col("span_ns") > 0)
        .select(
            F.col("grp").alias(group_col),
            "n_events",
            "span_ns",
            F.round("_twa", 6).alias("twa"),
        )
    )


def power_user_stats(
    events: DataFrame,
    pct: float = 0.99,
    approx: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Pareto concentration of activity: users at or above the ``pct``
    event-count quantile and the share of ALL events they produce — the
    skew headline number behind salting decisions.

    ``approx=False`` (default, the oracle anchor) uses exact
    ``percentile`` — it accumulates every per-user count into one
    reducer, fine at user granularity here but a single-task memory
    cliff at 10⁹ users. ``approx=True`` is the scale spelling:
    ``percentile_approx`` (Greenwald-Khanna, bounded sketch that merges
    map-side), the same exact/approx twin convention as
    ``events_quantiles``. The threshold is rounded to 6 BEFORE the >=
    membership test either way (round-before-compare: an ulp at an
    integer-valued interpolated quantile flips membership).

    Output: one row (n_power_users, n_users, p99_threshold,
    event_share)."""
    per_user = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    q = (
        f"percentile_approx(n, {pct}, {accuracy})"
        if approx
        else f"percentile(n, {pct})"
    )
    thr = per_user.agg(
        F.round(F.expr(q), 6).alias("_thr"),
        F.sum("n").alias("_total"),
        F.count(F.lit(1)).alias("_users"),
    )
    return (
        per_user.crossJoin(F.broadcast(thr))
        .filter(F.col("n") >= F.col("_thr"))
        .agg(
            F.count(F.lit(1)).alias("n_power_users"),
            F.first("_users").alias("n_users"),
            F.round(F.first("_thr"), 6).alias("p99_threshold"),
            F.round(F.sum("n") / F.first("_total"), 6).alias("event_share"),
        )
    )


def session_stats(
    events: DataFrame,
    gap_sec: int = 1800,
    approx: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Session-level engagement summary composed on :func:`sessionize`:
    one row of (n_sessions, p50/p90 duration seconds, mean
    events/session, bounce rate = single-event fraction).

    ``approx=False`` (default, the oracle anchor) uses exact
    ``percentile`` over session durations — one reducer holds every
    session's duration, fine at session granularity at test SF but not
    at 10⁹ sessions. ``approx=True`` swaps in ``percentile_approx``
    (mergeable GK sketch) — the ``events_quantiles`` twin convention.
    Durations are µs-truncated BEFORE the subtraction (integer-exact),
    then one double division, the same op order as the oracle."""
    s = sessionize(events, gap_sec)
    dur = (
        (
            F.expr("session_end_ns div 1000")
            - F.expr("session_start_ns div 1000")
        )
        / F.lit(1_000_000.0)
    ).alias("_dur")
    if approx:
        p50 = f"percentile_approx(_dur, 0.5, {accuracy})"
        p90 = f"percentile_approx(_dur, 0.9, {accuracy})"
    else:
        p50, p90 = "percentile(_dur, 0.5)", "percentile(_dur, 0.9)"
    return s.select(dur, "n_events").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.round(F.expr(p50), 6).alias("p50_dur_sec"),
        F.round(F.expr(p90), 6).alias("p90_dur_sec"),
        F.round(F.avg("n_events"), 6).alias("mean_events"),
        F.round(
            F.avg((F.col("n_events") == 1).cast("double")), 6
        ).alias("bounce_rate"),
    )


def time_embargo_split(
    events: DataFrame,
    train_tenths: int = 8,
    embargo_ns: int = 86_400_000_000_000,
) -> DataFrame:
    """Walk-forward temporal split with an embargo gap: rows before the
    cut train, rows inside ``embargo_ns`` after it are DISCARDED from
    both sides (the embargo), the rest test. This is the
    evaluation-hygiene split for anything with temporal structure —
    features computed over trailing windows leak across a bare
    train/test boundary, and the embargo band absorbs exactly that
    window (de Prado's purged walk-forward, the time-series complement
    of the group-safe :func:`power_user_stats`-style user split).

    The cut is EXACT integer-ns arithmetic — ``lo + (hi−lo)·k div 10``
    — no float quantile, so the assignment is bit-identical across
    engines and re-runs (same contract as split_assign's md5 buckets).
    One bounded (min,max) aggregate broadcast back over the stream;
    the assignment itself is map-side. Unlike the user split, the SAME
    user may appear in train and test — that overlap is the point
    (models serve known users on future data); callers wanting both
    guarantees compose this with the user split.

    Returns the input rows + ``split`` ∈ {train, embargo, test}.
    """
    if not 0 < train_tenths < 10:
        raise ValueError("train_tenths must be in 1..9")
    b = events.agg(
        F.min("ts_ns").alias("_lo"), F.max("ts_ns").alias("_hi")
    )
    cut = F.col("_lo") + F.expr(
        f"((_hi - _lo) * {train_tenths}) div 10"
    )
    return (
        events.crossJoin(F.broadcast(b))
        .withColumn(
            "split",
            F.when(F.col("ts_ns") < cut, F.lit("train"))
            .when(F.col("ts_ns") < cut + F.lit(embargo_ns), F.lit("embargo"))
            .otherwise(F.lit("test")),
        )
        .drop("_lo", "_hi")
    )


def ohlc_bars(
    events: DataFrame,
    window_sec: int = 3600,
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """OHLC candle aggregation: per (group, tumbling window) the Open
    (first value by time), High, Low, Close (last value by time) plus
    volume — the time-series summarization finance/telemetry pipelines
    run as their first rollup.

    Open/close use ``min_by``/``max_by`` on a composite (ts_ns, event_id)
    order key so concurrent-timestamp ties break deterministically — the
    whole thing stays ONE map-side-combinable aggregation (first_value
    over a window would shuffle rows, then scan them again; min_by
    partials combine associatively, the 100 TB shape).

    The composite key is a zero-padded string ``ts_ns:event_id`` —
    lexicographic == numeric for non-negative fixed-width renders, and
    scalar-typed so it is portable (SQL engines' min_by commonly lack
    struct-ordered keys; a packed int64 would overflow at ns scale).

    Output: (window_start epoch-sec, group, open, high, low, close,
    n_events, volume)."""
    bucket = (
        F.expr(f"ts_ns div {NS * window_sec}") * F.lit(window_sec)
    ).alias("window_start")
    okey = F.concat(
        F.lpad(F.col("ts_ns").cast("string"), 19, "0"),
        F.lit(":"),
        F.lpad(F.col("event_id").cast("string"), 19, "0"),
    )
    return events.groupBy(bucket, F.col(group_col).alias("grp")).agg(
        F.min_by(value_col, okey).alias("open"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.max_by(value_col, okey).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(value_col), 6).alias("volume"),
    )


def chained_agg_batch(
    events: DataFrame, inner_sec: int = 300, outer_sec: int = 3600
) -> DataFrame:
    """Batch twin of :func:`run_streaming_chained_agg`: inner tumbling
    (inner_sec) counts/sums per event_type, re-aggregated into outer_sec
    windows (start-aligned — ``inner_sec`` must divide ``outer_sec``).
    Output: (window_start epoch-sec, event_type, n_inner, n_events,
    max_inner, sum_value rounded 6)."""
    if outer_sec % inner_sec:
        raise ValueError("inner windows must tile the outer window")
    b5 = (F.expr(f"ts_ns div {NS * inner_sec}") * F.lit(inner_sec)).alias(
        "b_in"
    )
    inner = events.groupBy(b5, "event_type").agg(
        F.count(F.lit(1)).alias("n_ev"), F.sum("value").alias("s_v")
    )
    b_out = (
        F.expr(f"b_in div {outer_sec}") * F.lit(outer_sec)
    ).alias("window_start")
    return inner.groupBy(b_out, "event_type").agg(
        F.count(F.lit(1)).alias("n_inner"),
        F.sum("n_ev").alias("n_events"),
        F.max("n_ev").alias("max_inner"),
        F.round(F.sum("s_v"), 6).alias("sum_value"),
    )


def run_streaming_chained_agg(
    spark: SparkSession,
    sf_dir: str,
    inner_sec: int = 300,
    outer_sec: int = 3600,
    watermark_sec: int = 60,
    timeout_sec: int = 300,
) -> DataFrame:
    """TWO stateful operators in ONE streaming query (multi-stateful
    pipelines, Spark 3.5+): a watermarked inner_sec tumbling aggregation
    whose FINALIZED windows feed a second, outer_sec windowed
    aggregation over the window struct — the streaming form of the
    pre-aggregate→rollup cascade every metrics pipeline runs, without
    landing the intermediate in a sink.

    Bounded replay (:func:`_sentinel_replay`): the events table replays
    as ONE file, then two far-future sentinel batches advance the
    watermark TWICE — once to flush the inner windows into the outer
    aggregation, once more to flush the outer windows to the sink
    (append mode emits a window only when the watermark passes it; a
    chained agg needs the advance to propagate through both operators).
    Sentinels carry a reserved event_type and land in their own
    far-future windows, excluded by the window_start ≤ max-real-ts cut.

    Returns the same shape as :func:`chained_agg_batch`, directly
    comparable to it / the SQL oracle.
    """
    with _sentinel_replay(
        spark, sf_dir, ("____flush",), outer_sec + watermark_sec + 3600
    ) as (stream, max_ts_ns):
        inner = (
            stream.withWatermark("ts", f"{watermark_sec} seconds")
            .groupBy(
                F.window("ts", f"{inner_sec} seconds"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n_ev"),
                F.sum("value").alias("s_v"),
            )
        )
        outer = inner.groupBy(
            F.window(F.col("window"), f"{outer_sec} seconds"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_inner"),
            F.sum("n_ev").alias("n_events"),
            F.max("n_ev").alias("max_inner"),
            F.round(F.sum("s_v"), 6).alias("sum_value"),
        )
        out = _replay_to_memory(outer, "append", "sschain", timeout_sec)
    return out.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start"),
        "event_type",
        "n_inner",
        "n_events",
        "max_inner",
        "sum_value",
    ).filter(F.col("window_start") <= F.lit(max_ts_ns // NS))


def seasonal_index(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    period: str = "dow",
) -> DataFrame:
    """Multiplicative seasonal index per (group, phase): the phase's mean
    value divided by the group's overall mean (index > 1: that weekday /
    hour runs hot). ``period`` is ``dow`` (1=Sunday..7, Spark/DuckDB
    agree on the 1-based Sunday origin via dayofweek) or ``hour``.

    Scale shape: ONE (group, phase)-granularity partial-aggregating
    shuffle over the events; the group totals are a rollup OF THAT
    aggregate (never a second pass over the data) and join back by
    broadcast at (group)-granularity. NULL values are excluded from both
    numerator and denominator (count(value), not count(*)).

    Output: (group, phase, n_events, phase_mean, seasonal_index) with
    doubles rounded to 6.
    """
    phase = (
        F.dayofweek("ts") if period == "dow" else F.hour("ts")
    ).cast("long")
    per = (
        events.select(
            F.col(group_col).alias("grp"),
            phase.alias("phase"),
            F.col(value_col).alias("_v"),
        )
        .groupBy("grp", "phase")
        .agg(
            F.count("_v").cast("long").alias("n_events"),
            F.sum("_v").alias("_sum"),
        )
    )
    tot = per.groupBy("grp").agg(
        F.sum("n_events").alias("_tn"), F.sum("_sum").alias("_ts")
    )
    return (
        per.join(F.broadcast(tot), "grp")
        .select(
            F.col("grp").alias(group_col),
            "phase",
            "n_events",
            F.round(F.col("_sum") / F.col("n_events"), 6).alias(
                "phase_mean"
            ),
            F.round(
                (F.col("_sum") / F.col("n_events"))
                / (F.col("_ts") / F.col("_tn")),
                6,
            ).alias("seasonal_index"),
        )
    )


def seasonal_outliers(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    z_thresh: float = 3.0,
) -> DataFrame:
    """Seasonally-adjusted daily anomalies: daily value totals per group,
    deflated by that day-of-week's seasonal index (so a quiet-Sunday dip
    or busy-Monday spike is NOT an anomaly), then z-scored within the
    group. A raw daily z-score flags every weekend of a weekly-periodic
    metric; dividing by the dow index first removes the expected
    component — the additive-decomposition anomaly detector's
    multiplicative cousin.

    The dow index here is computed over DAILY totals (7 rows per group),
    not raw events — the seasonality of the series being scored. Days
    with a zero or negative group std (constant adjusted series) flag
    nothing. The z is ROUNDED to 6dp before the > threshold compare on
    both engines (rounded-before-compare rule).

    Scale shape: day-granularity aggregation (the only events-sized
    shuffle), then 7-row and 1-row-per-group stat frames joined back by
    broadcast. Output: flagged (group, day, day_total, adjusted, z).
    """
    daily = (
        events.select(
            F.col(group_col).alias("grp"),
            F.to_date("ts").alias("day"),
            F.col(value_col).alias("_v"),
        )
        .groupBy("grp", "day")
        .agg(F.sum("_v").alias("day_total"))
    )
    dow = F.dayofweek(F.col("day")).cast("long")
    per_dow = (
        daily.select("grp", dow.alias("phase"), "day_total")
        .groupBy("grp", "phase")
        .agg(F.count("*").alias("_n"), F.sum("day_total").alias("_s"))
    )
    tot = per_dow.groupBy("grp").agg(
        F.sum("_n").alias("_tn"), F.sum("_s").alias("_ts")
    )
    idx = per_dow.join(F.broadcast(tot), "grp").select(
        "grp",
        "phase",
        (
            (F.col("_s") / F.col("_n")) / (F.col("_ts") / F.col("_tn"))
        ).alias("_idx"),
    )
    adj = (
        daily.withColumn("phase", dow)
        .join(F.broadcast(idx), ["grp", "phase"])
        .select(
            "grp",
            "day",
            "day_total",
            (F.col("day_total") / F.col("_idx")).alias("_adj"),
        )
    )
    st = adj.groupBy("grp").agg(
        F.avg("_adj").alias("_m"), F.stddev_pop("_adj").alias("_sd")
    )
    return (
        adj.join(F.broadcast(st), "grp")
        .filter(
            (F.col("_sd") > 0)
            & (
                F.round(
                    F.abs(F.col("_adj") - F.col("_m")) / F.col("_sd"), 6
                )
                > z_thresh
            )
        )
        .select(
            F.col("grp").alias(group_col),
            "day",
            F.round("day_total", 6).alias("day_total"),
            F.round("_adj", 6).alias("adjusted"),
            F.round(
                F.abs(F.col("_adj") - F.col("_m")) / F.col("_sd"), 6
            ).alias("z"),
        )
    )


def ewma_bounded(
    events: DataFrame,
    group_col: str = "user_id",
    value_col: str = "value",
    alpha: float = 0.25,
    k: int = 8,
) -> DataFrame:
    """Bounded-window exponentially-weighted moving average per group:
    for each event, ewma over the last ``k`` observations (inclusive)
    with weights (1-α)^age, normalized by the FINITE weight sum (pandas
    ``ewm(adjust=True)`` over a length-k tail). The recursive infinite-
    memory EWMA is a sequential scan — not expressible as a distributed
    window without carrying state row-to-row; the k-bounded form is the
    scale-correct spelling: per-row work is O(k), the frame never leaves
    the group's window, and truncation error is bounded by (1-α)^k
    (≈ 10% of mass at α=.25, k=8; pick k for the tolerance you need).

    Determinism: frame ordered by (ts_ns, event_id) — collect_list over
    a running ROWS frame preserves frame order on both engines. The
    normalizer uses each row's OWN frame length n ≤ k (early rows have
    shorter tails), so the first event's ewma equals its value exactly.

    Scale shape: one group-key window shuffle, zero joins, zero UDFs —
    the weighted fold is a higher-order expression (transform+aggregate).
    NULL observations are dropped up front (a NULL inside the fold would
    poison the whole frame's sum, not skip one term).

    Output: (group, event_id, ts_ns, value, ewma rounded 6).
    """
    events = events.filter(F.col(value_col).isNotNull())
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.asc("ts_ns"), F.asc("event_id"))
        .rowsBetween(-(k - 1), 0)
    )
    tail = F.collect_list(F.col(value_col)).over(w)
    decay = 1.0 - alpha
    df = events.select(
        F.col(group_col),
        "event_id",
        "ts_ns",
        F.col(value_col).alias("value"),
        tail.alias("_tail"),
    )
    n = F.size("_tail")
    num = F.aggregate(
        F.transform(
            "_tail",
            lambda x, i: x * F.pow(F.lit(decay), (n - 1 - i).cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    den = F.aggregate(
        F.transform(
            "_tail",
            lambda x, i: F.pow(F.lit(decay), (n - 1 - i).cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return df.select(
        group_col,
        "event_id",
        "ts_ns",
        "value",
        F.round(num / den, 6).alias("ewma"),
    )


def cusum_changepoints(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    burn_in_days: int = 28,
    k_sigma: float = 0.5,
    h_sigma: float = 5.0,
) -> DataFrame:
    """Two-sided CUSUM change-point detection over each group's daily
    mean series (Page 1954): flag days where the cumulative evidence of
    a mean shift exceeds h·σ, with slack k·σ absorbing noise.

    The textbook recursion S_t = max(0, S_{t-1} + (x_t − μ − kσ)) looks
    sequential, but has a closed form the distributed engine can run:
        S_t = U_t − min_{j ≤ t} U_j,   U = prefix-sum of (x − μ − kσ)
    — a running sum minus a running minimum, BOTH plain window
    functions over the group's day order. The lower side mirrors it with
    y = (μ − kσ) − x. No recursion, no state carried row-to-row, no UDF.

    Reference μ/σ come from each group's first ``burn_in_days`` days
    (estimating them over the full series would let the shifted regime
    contaminate its own baseline and mute the alarm). Groups whose
    burn-in std is 0 are excluded (no noise scale to calibrate against).

    Both statistics and the threshold are rounded to 6dp before the >
    compare (rounded-before-compare rule).

    Scale shape: one day-granularity aggregation over the events, then
    per-group windows (cumsum + running min) at day granularity and
    broadcast burn-in stat frames — nothing above |groups|·|days| rows
    after the first agg.

    Output: alarm rows (group, day, x, s_up, s_dn, alarm_up, alarm_dn).
    """
    daily = (
        events.select(
            F.col(group_col).alias("grp"),
            F.to_date("ts").alias("day"),
            F.col(value_col).alias("_v"),
        )
        .groupBy("grp", "day")
        .agg(F.avg("_v").alias("x"))
    )
    # pinned: consumed by the burn-in window (twice, via `first`)
    # and the scored series — unpinned, the event-scale day
    # aggregation ran three times (no exchange reuse across the
    # differently-pruned subtrees; r15). pin() = recomputable persist,
    # not localCheckpoint (r16)
    from clinical_vector_search_spark.plan_cache import pin

    daily = pin(daily)
    first = daily.groupBy("grp").agg(F.min("day").alias("_d0"))
    burn = (
        daily.join(F.broadcast(first), "grp")
        .filter(
            F.col("day") < F.date_add(F.col("_d0"), burn_in_days)
        )
        .groupBy("grp")
        .agg(
            F.avg("x").alias("_mu"),
            F.stddev_pop("x").alias("_sd"),
        )
        .filter(F.col("_sd") > 0)
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_stats = daily.join(F.broadcast(burn), "grp")
    y_up = F.col("x") - (F.col("_mu") + k_sigma * F.col("_sd"))
    y_dn = (F.col("_mu") - k_sigma * F.col("_sd")) - F.col("x")
    cum = with_stats.select(
        "grp",
        "day",
        "x",
        "_sd",
        F.sum(y_up).over(w).alias("_u"),
        F.sum(y_dn).over(w).alias("_d"),
    )
    s_up = F.col("_u") - F.min("_u").over(w)
    s_dn = F.col("_d") - F.min("_d").over(w)
    thr = F.round(F.lit(h_sigma) * F.col("_sd"), 6)
    scored = cum.select(
        "grp",
        "day",
        F.round("x", 6).alias("x"),
        F.round(s_up, 6).alias("s_up"),
        F.round(s_dn, 6).alias("s_dn"),
        (F.round(s_up, 6) > thr).alias("alarm_up"),
        (F.round(s_dn, 6) > thr).alias("alarm_dn"),
    )
    return scored.filter(F.col("alarm_up") | F.col("alarm_dn")).select(
        F.col("grp").alias(group_col),
        "day",
        "x",
        "s_up",
        "s_dn",
        "alarm_up",
        "alarm_dn",
    )
