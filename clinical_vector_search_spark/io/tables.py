"""Table readers/writers for the engine (SURVEY.md §2.1 S1–S7).

"Index = data": the reference's FAISS index files (S5/S6,
src/pipeline/pipeline.py:126-136) become normalized-embedding Parquet
tables here — building an index is `build_vector_index` writing Parquet,
searching is a query over it.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_vector_search_spark.functions import vector as V

def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S4: parquet scan of a driver testdata table."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S3: parquet sink."""
    df.write.mode(mode).parquet(path)


def run_write_jobs(*thunks) -> None:
    """Run independent driver actions (writes) CONCURRENTLY from a small
    thread pool (optimization guide §2.6): Spark's scheduler happily
    runs several jobs at once inside one application — actions are only
    sequential because driver code calls them sequentially. The
    maintained-index writers emit 3 independent outputs (postings/df/
    scalars or df/scalars/deleted) derived from one already-pinned
    upstream frame; written back to back, each job's straggler tail
    leaves the cluster idle (measured at sf0.1: 0.30+0.35+0.20 s
    sequential for the bm25 ingest trilogy). FIFO scheduling back-fills
    the next write's tasks onto freed executors. Exceptions propagate
    to the caller (all futures are awaited, first raise wins).

    Each thunk runs under the caller's job group, description and tags:
    PySpark's pinned threads start with empty local properties, so a
    bare pool thread's jobs would be unlabelled in the event log and
    out of reach of ``cancelJobGroup``. Each thunk is wrapped on its
    own because the wrapper hands its thread the one properties copy
    it took, and Spark writes per-job keys (the SQL execution id) into
    that object: threads sharing a copy would race on those keys."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    if len(thunks) == 1:
        thunks[0]()
        return
    spark = SparkSession.getActiveSession()
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(t)) for t in thunks
        ]
        for f in futures:
            f.result()


def write_csv_single(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S7: single-file CSV metric sink (coalesce(1) — metric tables are
    tiny by construction; never use for data-scale outputs)."""
    df.coalesce(1).write.mode(mode).csv(path, header=True)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned parquet sink (``path/col=value/...``): the
    layout that makes partition PRUNING possible — a filter on a partition
    column skips whole directories at plan time instead of reading and
    discarding rows. At 100 TB this is the difference between scanning one
    day and scanning three years; partition columns must be low-cardinality
    (date, lang, source), never high-cardinality ids (small-file
    explosion). Pruning is asserted in tests (the scan's partitionFilters,
    not data filters)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_partitioned(
    spark: SparkSession, path: str, basePath: str | None = None
) -> DataFrame:
    """Scan a partitioned layout; partition values come back as real
    columns recovered from the directory names."""
    reader = spark.read
    if basePath:
        reader = reader.option("basePath", basePath)
    return reader.parquet(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — Spark's second built-in columnar format. Same predicate-
    pushdown/column-pruning contract as parquet (ORC carries min/max +
    bloom-filter indexes per stripe), so a lake standardized on ORC gets
    the identical scan behavior."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (pushdown + pruning verified in tests/test_plan_audit)."""
    return spark.read.orc(path)


def build_vector_index(
    df: DataFrame, path: str, vec_col: str = "embedding"
) -> None:
    """S5 replacement: persist the L2-normalized vector table as Parquet.
    Searching this table with operators.knn is the reference's
    "load index + search" (pipeline_mode.py:38-49)."""
    normalized = df.withColumn(vec_col, V.l2_normalize(vec_col))
    write_parquet(normalized, path)


def upsert_vector_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: merge ``new_docs`` (raw vectors) into
    the persisted index at ``path`` — new rows win on id collision, so
    re-embedding a changed doc replaces its old vector. Completes the
    "index = data" lifecycle (build → query → INCREMENT) without a full
    rebuild: one scan of the old index + the delta, one shuffle on id.
    (The COMPRESSED-index twin is ``operators.pq.ivfpq_index_add`` —
    append-only FAISS ``add`` semantics over a trained (cluster, codes)
    table, zero corpus scan; this latest-wins merge is the raw-vector
    path where id collisions must replace.)

    At 100 TB you'd land deltas as date-partitioned files and compact on a
    schedule instead of rewriting — the merge plan (union → windowed
    latest-wins dedup) is the same; the rewrite here keeps the demo
    self-contained on plain Parquet. Writes to a temp dir then swaps so a
    failed merge never truncates the live index.

    Swap caveat (single-writer, enforced by :func:`compaction_lease`):
    between the two renames there is a brief window with NO directory
    at ``path`` — a concurrent reader mid-swap fails, and a crash
    inside the window leaves the data in ``<path>__old_<tag>``, which
    the next read, ingest or compaction renames back automatically
    (:func:`recover_interrupted_swap`); see :func:`_swap_directories`,
    which also carries the object-store caveat (rename is copy+delete
    there — prefer a versioned-directory + pointer-file layout)."""
    import uuid

    # lease FIRST: spark.read.parquet eagerly snapshots the file
    # listing, so a pre-lease snapshot races a concurrent upsert/
    # compaction completing in the window — its swap deletes the
    # snapshotted files and this merge dies with FileNotFoundException
    # at write time (loud, but an avoidable failure the lease exists to
    # serialize). Recover + read under the same exclusion as the swap.
    with compaction_lease(spark, path):
        # same marker check as every other swap-performing writer: a
        # batch sink sharing this directory announces ingest markers,
        # and this swap would silently delete its in-flight
        # subdirectory (no batch sink writes to a vector-index
        # directory today — the guard keeps the protocol uniform)
        _guard_no_ingest_in_flight(spark, path, None)
        recover_interrupted_swap(spark, path, deep=True, _leased=True)
        merged = _latest_wins_merge(
            spark.read.parquet(path), new_docs, id_col, vec_col
        )
        tag = uuid.uuid4().hex[:8]
        tmp = f"{path}__tmp_{tag}"
        merged.write.mode("overwrite").parquet(tmp)
        _swap_directories(spark, path, tmp, tag)


def _latest_wins_merge(
    old: DataFrame, new_docs: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """The shared merge plan of :func:`upsert_vector_index` and
    :func:`upsert_vector_index_versioned` (one code path — a change to
    the merge semantics must reach both storage layouts): normalize the
    incoming vectors, union with the live index, keep the newest row
    per id (window row_number on the generation tag). ``new_docs`` is
    assumed id-distinct (one delta row per doc); duplicate ids within a
    single delta tie on the generation tag."""
    from pyspark.sql import Window

    old = old.withColumn("_gen", F.lit(0))
    incoming = (
        new_docs.withColumn(vec_col, V.l2_normalize(vec_col))
        .select(*old.drop("_gen").columns)
        .withColumn("_gen", F.lit(1))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_gen"))
    return (
        old.unionByName(incoming)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_gen")
    )


VERSION_POINTER = "_CURRENT"


def versioned_publish(
    df: DataFrame, path: str, keep: int = 2
) -> str:
    """Object-store-safe publication: the pointer-file alternative to
    the move-aside swap (:func:`_swap_directories` documents why the
    swap needs atomic directory rename — object stores implement that
    as N copies + N deletes, leaving a long mid-swap window where the
    live NAME is absent or partial). Layout: each publish writes a
    COMPLETE immutable ``<path>/v-<n>/`` parquet directory, then
    atomically replaces the single small ``<path>/_CURRENT`` pointer
    file with the new version name (:func:`_atomic_small_file` — one
    small-object PUT on S3-like stores: readers observe the old pointer
    or the new pointer, never a missing one, and every version a
    pointer can name is already complete). No crash ordering can leave
    a reader without a complete dataset:

    * crash mid-version-write → pointer untouched, readers still serve
      the previous version; the orphan directory is skipped by the
      next publish's version numbering and pruned once superseded;
    * crash after the pointer flip → the publish simply completed
      (pruning is best-effort cleanup, re-done next publish).

    ``keep`` retains that many versions BELOW the new pointer (default
    2 = current + one predecessor) so a reader that resolved the old
    pointer just before a publish can still finish its scan — the
    grace window is one full publish cadence, vs zero for the in-place
    swap. Returns the new version name. Single writer assumed (wrap in
    :func:`compaction_lease` when multiple jobs may publish, as
    :func:`upsert_vector_index_versioned` does); readers never need a
    lease — the whole point of the layout."""
    if keep < 1:
        raise ValueError(f"keep must be >= 1, got {keep}")
    spark = df.sparkSession
    jvm, fs, _ = _hadoop_fs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    base = path.rstrip("/")
    versions = sorted(
        st.getPath().getName()
        for st in fs.globStatus(P(f"{base}/v-*")) or []
        if st.isDirectory()
    )
    prev = current_version(spark, path)
    nxt = (
        max((int(v.split("-")[1]) for v in versions), default=0) + 1
    )
    new_name = f"v-{nxt:06d}"
    df.write.mode("overwrite").parquet(f"{base}/{new_name}")
    _atomic_small_file(
        spark, base, VERSION_POINTER, new_name.encode("utf-8")
    )
    # best-effort prune. Orphans from crashed publishes (numbered ABOVE
    # the previous pointer — they were never pointed, possibly partial)
    # are deleted unconditionally and NEVER count toward `keep`:
    # otherwise a newest-by-name retention would keep a partial orphan
    # while evicting the complete grace versions readers may still be
    # scanning. Every surviving version below the pointer was itself
    # pointed once (this same rule purged its orphans when it
    # published), so the `keep` retention slots go to genuinely
    # complete predecessors, newest first. A crash mid-prune just
    # leaves extra complete directories, re-pruned next publish.
    protect = {new_name}
    if prev is not None:
        protect.add(prev)
    orphans = [
        v for v in versions
        if v not in protect and (prev is None or v > prev)
    ]
    complete = [v for v in versions if v not in protect and v not in orphans]
    for v in orphans:
        fs.delete(P(f"{base}/{v}"), True)
    extra = max(0, keep - len(protect))
    for v in complete[: max(0, len(complete) - extra)]:
        fs.delete(P(f"{base}/{v}"), True)
    return new_name


def current_version(spark: SparkSession, path: str) -> str | None:
    """Resolve the ``_CURRENT`` pointer of a :func:`versioned_publish`
    layout; None when nothing has ever been published."""
    jvm, fs, _ = _hadoop_fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(
        f"{path.rstrip('/')}/{VERSION_POINTER}"
    )
    if not fs.exists(p):
        return None
    return _read_small_file(fs, p).decode("utf-8").strip()


def read_versioned(spark: SparkSession, path: str) -> DataFrame:
    """Read the current version of a :func:`versioned_publish` layout:
    resolve the pointer, scan that immutable directory. No lease, no
    self-heal, no retry loop — the pointer is a single small object
    whose replace is atomic, and the directory it names was complete
    before the pointer could name it."""
    ver = current_version(spark, path)
    if ver is None:
        raise FileNotFoundError(
            f"no {VERSION_POINTER} pointer under {path!r} — nothing has "
            "been published (versioned_publish) yet"
        )
    return spark.read.parquet(f"{path.rstrip('/')}/{ver}")


def upsert_vector_index_versioned(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    keep: int = 2,
) -> str:
    """:func:`upsert_vector_index` on the :func:`versioned_publish`
    layout — the raw-vector index as the pattern demonstration for
    rename-less object stores: same latest-wins merge plan (union →
    windowed dedup), but the result lands as a NEW immutable version
    directory and goes live via the atomic pointer replace, so readers
    never observe the mid-swap absent window the in-place variant
    documents. Writers still serialize under the lease (two concurrent
    merges would both base on the same old version and the second
    pointer flip would silently drop the first's rows); readers are
    lease-free."""
    with compaction_lease(spark, path):
        try:
            old = read_versioned(spark, path)
        except FileNotFoundError:
            merged = new_docs.withColumn(vec_col, V.l2_normalize(vec_col))
            return versioned_publish(merged, path, keep)
        merged = _latest_wins_merge(old, new_docs, id_col, vec_col)
        return versioned_publish(merged, path, keep)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) parquet table
    in the session catalog.

    Bucketing is the 100 TB co-location primitive: two tables bucketed on
    the same key with the same bucket count join with ZERO Exchange (each
    bucket pair joins locally), and a groupBy on the bucket key skips its
    shuffle too — the one-time shuffle at write time is amortized over
    every later join/agg, exactly the "index = data" lifecycle the vector
    and BM25 indexes follow. ``sort=True`` additionally sorts within
    buckets so sort-merge joins skip their sort step.

    Uses ``saveAsTable`` (bucketing metadata lives in the catalog; plain
    ``.parquet(path)`` cannot record bucketing). Pick ``n_buckets`` so a
    bucket of the BIG table fits an executor's memory at target scale —
    e.g. 100 TB / 32768 buckets ≈ 3 GB/bucket.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    if path is not None:
        w = w.option("path", path)  # external table at an explicit location
    w.saveAsTable(table)


def build_bm25_index_table(
    docs: DataFrame, path: str, id_col: str = "doc_id", text_col: str = "text"
) -> None:
    """Materialize the BM25 postings index as Parquet ("index = data").

    The lazy ``bm25_index`` plan re-derives its tokenize→explode subtree
    ~4× inside one DAG (Spark has no cross-DAG common-subexpression reuse),
    so an unmaterialized one-shot build scans the corpus 4 times — at
    100 TB the scan dominates everything else. Building the index as a
    batch job (this function) and scoring against the persisted table
    makes index build a one-scan-amortized cost, exactly like the vector
    index. Read it back with ``read_bm25_index``."""
    from clinical_vector_search_spark.operators.bm25 import bm25_index

    write_parquet(bm25_index(docs, id_col, text_col), path)


def read_bm25_index(spark: SparkSession, path: str) -> DataFrame:
    """Scan a materialized BM25 postings index (S6 analog)."""
    return spark.read.parquet(path)


def print_topk(
    results: DataFrame,
    text_col: str = "snippet",
    limit: int = 50,
) -> list[str]:
    """S9: formatted stdout result sink (reference pipeline_mode.py:46-49:
    ``[rank] score=… id=… | snippet``). Collects ≤ limit rows (top-k results
    are tiny by construction) and returns the printed lines for testing."""
    rows = results.orderBy("query_id", "rank").limit(limit).collect()
    lines = []
    for r in rows:
        score = f"{r['score']:.4f}" if "score" in r.__fields__ else "-"
        snip = r[text_col] if text_col in r.__fields__ else ""
        lines.append(f"q={r['query_id']} [{r['rank']}] score={score} "
                     f"id={r['doc_id']} | {snip}")
    print("\n".join(lines))
    return lines


def plot_metrics(metric_table: DataFrame, out_dir: str) -> list[str]:
    """S8: PNG plot sink for the evaluation metric table (reference
    evaluation.py:353-398 bar charts). Driver-side matplotlib over the
    collected (tiny) metric table; gated on matplotlib being installed —
    returns the written paths, or [] with a message when unavailable."""
    try:
        import matplotlib  # noqa: F401
    except ImportError:
        print("plot_metrics: matplotlib not installed — skipping PNG sink")
        return []
    import os as _os

    import matplotlib.pyplot as plt

    pdf = metric_table.toPandas()
    _os.makedirs(out_dir, exist_ok=True)
    paths = []
    for col in pdf.columns:
        if col == "query_id" or pdf[col].dtype.kind not in "fi":
            continue
        fig, ax = plt.subplots()
        ax.bar(pdf["query_id"].astype(str), pdf[col])
        ax.set_xlabel("query")
        ax.set_ylabel(col)
        p = _os.path.join(out_dir, f"{col}.png")
        fig.savefig(p)
        plt.close(fig)
        paths.append(p)
    return paths


def is_absence_error(e) -> bool:
    """True when an ``AnalysisException`` means the path genuinely holds
    no data yet (missing directory / no readable files) — the ONLY
    conditions a probe-or-empty reader may swallow. Anything else
    (schema corruption, bad columns, access problems) must propagate,
    or an empty-frame substitute silently drops data (the
    ingest_neardup_batch failure mode)."""
    cond = None
    for attr in ("getCondition", "getErrorClass"):
        f = getattr(e, attr, None)
        if f is not None:
            try:
                cond = f()
            except Exception:
                cond = None
            if cond:
                break
    return cond in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    recursive: bool = False,
    break_stale_lease_after_sec: float | None = None,
) -> int:
    """Small-files compaction — the maintenance job every incremental
    pipeline needs: streaming/upsert sinks accumulate many tiny files, and
    at 100 TB scan cost is dominated by file-open overhead once files drop
    below ~tens of MB. Rewrites the directory into ⌈bytes/target⌉
    size-targeted files (temp-dir + swap, same crash-safety as
    upsert_vector_index; single-writer ENFORCED by
    :func:`compaction_lease`, crash window self-healed by
    :func:`recover_interrupted_swap`). Returns the new file count.

    Uses round-robin repartition (not coalesce): coalesce(n) would chain
    narrow onto the upstream plan and skew output file sizes to the
    original file layout.

    ``recursive=True`` lists leaf files recursively — for sinks that
    write one plain subdirectory per batch (the idempotent
    ``dedup.ingest_neardup_batch`` layout). Do NOT use it on Hive
    ``key=value``-partitioned directories: recursive listing disables
    partition inference, so the partition column would be dropped."""
    with compaction_lease(spark, path, break_stale_lease_after_sec):
        _guard_no_ingest_in_flight(spark, path, break_stale_lease_after_sec)
        recover_interrupted_swap(spark, path, deep=True, _leased=True)
        return _compact_parquet_leased(spark, path, target_file_bytes, recursive)


def _compact_parquet_leased(
    spark: SparkSession,
    path: str,
    target_file_bytes: int,
    recursive: bool,
) -> int:
    """:func:`compact_parquet` body, for callers already holding the
    lease (``compact_batched`` — the lease is not reentrant)."""
    reader = spark.read
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    df = reader.parquet(path)
    return _rewrite_and_swap(df, path, target_file_bytes)


def _dir_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` through its own Hadoop FileSystem —
    the sizing input for ⌈bytes/target⌉ compaction, working wherever
    the data lives (the old ``inputFiles()`` + ``os.path.getsize``
    spelling silently failed off local disk)."""
    _, fs, jpath = _hadoop_fs(spark, path)
    return fs.getContentSummary(jpath).getLength()


def _swap_directories(spark: SparkSession, path: str, tmp: str, tag: str):
    """The shared move-aside swap, through the data's own Hadoop
    FileSystem: old renames aside, new renames in, old deletes last — a
    crash leaves either the old or the new directory recoverable, never
    neither (though between the two renames the live NAME is briefly
    absent — the documented mid-swap window; a crash inside it leaves
    the data in ``<path>__old_<tag>``, and the next read, ingest or
    compaction SELF-HEALS by renaming it back —
    :func:`recover_interrupted_swap`).
    Single-writer, enforced by :func:`compaction_lease` in every caller.
    Rename is atomic-enough on local/HDFS; object stores implement it
    as copy+delete — there, prefer a versioned-directory + pointer-file
    layout over in-place swaps entirely."""
    jvm, fs, jpath = _hadoop_fs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    old = f"{path}__old_{tag}"
    if not fs.rename(jpath, P(old)):
        raise IOError(f"swap failed: could not move {path!r} to {old!r}")
    if not fs.rename(P(tmp), jpath):
        raise IOError(
            f"swap failed mid-window: {path!r} is absent; its data is "
            f"intact at {old!r} and the new copy at {tmp!r} — the next "
            "read, ingest or compaction of this path self-heals by renaming "
            f"{old!r} back (recover_interrupted_swap)"
        )
    fs.delete(P(old), True)


def _lease_path(path: str) -> str:
    return path.rstrip("/") + "__COMPACT_LEASE"


class LeaseHeldError(IOError):
    """The compaction lease is held by another writer — distinct from
    other IO failures so readers healing a crashed swap can wait for
    the holder instead of dying (see recover_interrupted_swap)."""


def _try_claim_lease(fs, jlock, payload: bytes) -> bool:
    """One atomic ``fs.create(lock, overwrite=False)`` claim attempt.
    HDFS makes the exclusive create atomic server-side; the local FS
    check-then-create is atomic-enough for a maintenance lease. Returns
    False when the lock already exists, raises on anything else."""
    try:
        out = fs.create(jlock, False)
    except Exception as e:  # noqa: BLE001 — py4j wraps the Java class
        # match the already-exists condition SPECIFICALLY: a bare
        # "exist" substring also matches "does not exist" failures
        # (e.g. a missing parent path), which would masquerade a real
        # IO error as LeaseHeldError and send the operator chasing a
        # phantom concurrent writer
        msg = str(e)
        if (
            "FileAlreadyExistsException" in msg
            or "already exists" in msg.lower()
        ):
            return False
        raise
    try:
        out.write(bytearray(payload))
    finally:
        out.close()
    return True


@contextlib.contextmanager
def compaction_lease(
    spark: SparkSession,
    path: str,
    break_stale_after_sec: float | None = None,
):
    """Single-writer enforcement for the move-aside swap: an exclusive
    lease file (``<path>__COMPACT_LEASE``) claimed with atomic
    ``fs.create(lock, overwrite=False)`` through the data's own Hadoop
    FS, held for the duration of a compaction/upsert. Two concurrent
    compactors on one path get one winner and one LOUD error instead of
    interleaved renames (which could nest a temp directory inside the
    live one — Hadoop ``rename`` onto an existing directory moves the
    source INSIDE it).

    The lease is released in a ``finally``, so an ordinary failure
    (e.g. a crash inside the swap window) leaves NO lease and the next
    reader/compactor self-heals unattended. Only a hard kill strands
    the lease file; ``break_stale_after_sec`` is the override knob —
    when set, a lease older than that many seconds is deleted and
    re-claimed. Pick it longer than any legitimate compaction AND any
    legitimate ingest: the same knob clears stale ingest markers
    (:func:`_guard_no_ingest_in_flight`), so a live batch write running
    past the bound would have its markers cleared and the compactor's
    swap could delete its in-flight subdirectory — a long ingest should
    call the ``touch()`` the :func:`ingest_markers` context yields to
    keep its markers visibly live."""
    import json
    import os as _os
    import socket
    import time

    jvm, fs, _ = _hadoop_fs(spark, path)
    jlock = jvm.org.apache.hadoop.fs.Path(_lease_path(path))
    payload = json.dumps(
        {
            "pid": _os.getpid(),
            "host": socket.gethostname(),
            "acquired_unix": time.time(),
        }
    ).encode("utf-8")
    if not _try_claim_lease(fs, jlock, payload):
        holder, age = "<unreadable>", None
        try:
            holder = _read_small_file(fs, jlock).decode("utf-8", "replace")
            age = time.time() - (
                fs.getFileStatus(jlock).getModificationTime() / 1000.0
            )
        except Exception:  # noqa: BLE001 — racing holder may delete it
            pass
        stale = (
            break_stale_after_sec is not None
            and age is not None
            and age > break_stale_after_sec
        )
        if stale:
            # break ATOMICALLY via rename-to-unique-name: exactly one of
            # two concurrent breakers wins the rename — a bare delete
            # would let breaker B delete breaker A's freshly-claimed
            # lease and both proceed into the swap
            import uuid

            broken = jvm.org.apache.hadoop.fs.Path(
                f"{_lease_path(path)}.broken-{uuid.uuid4().hex}"
            )
            if fs.rename(jlock, broken):
                # verify what we renamed away IS the measured-stale lease:
                # rename-to-unique only serializes renames of the same
                # NAME — breaker A may have broken the stale lease and
                # re-claimed a FRESH one at jlock before our rename, in
                # which case we just renamed away A's live lease. Rename
                # preserves mtime (local/HDFS), so age discriminates.
                b_age = time.time() - (
                    fs.getFileStatus(broken).getModificationTime() / 1000.0
                )
                if b_age <= break_stale_after_sec:
                    # a fresh lease, not the stale one we measured: put
                    # it back and report held
                    if not fs.rename(broken, jlock):
                        # a third claim landed at jlock meanwhile — two
                        # writers now believe they hold it; refuse loudly
                        # and leave both files for a human
                        raise IOError(
                            f"lease break race on {path!r}: renamed away "
                            f"a FRESH lease (now at {broken}) and could "
                            f"not restore it because a new lease exists "
                            f"at {_lease_path(path)!r} — inspect both "
                            "and delete the stale one manually"
                        )
                    raise LeaseHeldError(
                        f"compaction lease for {path!r} was re-claimed "
                        "by another writer while breaking the stale "
                        "lease — it is legitimately held; retry later"
                    )
                fs.delete(broken, False)
            # losers fall through to the ordinary claim race below
        if not stale or not _try_claim_lease(fs, jlock, payload):
            raise LeaseHeldError(
                f"compaction lease for {path!r} is already held (lease "
                f"file {_lease_path(path)!r}, holder {holder}, age "
                f"{age if age is None else round(age, 1)}s): another "
                "writer is compacting/upserting this directory. If that "
                "writer crashed hard (only a hard kill strands the "
                "lease), delete the lease file or pass "
                "break_stale_lease_after_sec."
            )
    try:
        yield
    finally:
        # release only OUR lease: if a stale-breaker replaced it while we
        # ran past break_stale_after_sec, the file at jlock is the new
        # holder's — a bare delete would strand THEM mid-swap unprotected
        try:
            current = _read_small_file(fs, jlock)
        except Exception:  # noqa: BLE001 — already broken/removed
            current = None
        if current == payload:
            fs.delete(jlock, False)


def recover_interrupted_swap(
    spark: SparkSession,
    path: str,
    deep: bool = False,
    _leased: bool = False,
) -> bool:
    """Self-heal the :func:`_swap_directories` mid-swap crash window
    (reference ancestor: the single-file index persistence at
    src/pipeline/pipeline.py:134, which has no crash story at all —
    a torn write loses the index).

    A crash between the swap's two renames leaves the live NAME absent
    with the data intact at ``<path>__old_<tag>`` — previously a manual
    rename. This preamble restores it automatically. Its callers: the
    two protocol halves every maintained-index kit goes through —
    :func:`read_batches` (every index read) and :func:`open_batch`
    (every batch ingest, before it writes ``<path>/<batch>`` and so
    recreates the live name) — plus :func:`read_sidecar` and every
    compactor/upserter (``deep=True``, under the lease):

    - live path present: nothing to heal (the fast read path is one
      ``fs.exists``). With ``deep=True`` (compactors, which already
      hold the lease) any lingering ``__old_*`` sibling — a crash AFTER
      the second rename but before the final delete; the live data is
      the newer copy — is deleted, completing the crashed swap's last
      step and keeping the at-most-one-``__old`` invariant the absence
      recovery relies on.
    - live path absent + exactly one ``__old_*`` sibling: rename it
      back (under the :func:`compaction_lease` unless the caller
      already holds it; if the lease is held by someone else, WAIT for
      the live name to reappear — the holder is another reader healing
      or a compactor inside its ms-scale swap window — rather than
      failing the read), after clearing stale ``__compact_*``/
      ``__tmp_*`` temps — the temp copy never went live and a re-run
      regenerates it. Returns True.
    - live path absent + no ``__old_*`` sibling (the common serving-read
      case, e.g. an index's not-yet-created ``deleted/`` directory):
      return False with ZERO lease traffic, so concurrent readers of an
      absent directory never contend.
    - live path absent + multiple ``__old_*`` siblings: refuse LOUDLY —
      ambiguity means a protocol violation (two crashed swaps without
      recovery is impossible under the lease), so a human must pick.

    All renames/deletes go through the data's own Hadoop FS, same
    discipline as the fence manifest."""
    import time

    jvm, fs, jpath = _hadoop_fs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    base = path.rstrip("/")

    def _olds():
        return [st.getPath() for st in (fs.globStatus(P(base + "__old_*")) or [])]

    if fs.exists(jpath):
        if deep:
            for op in _olds():
                fs.delete(op, True)
            # prune an EMPTY ingest-marker sibling: every ingest_markers
            # exit removes its marker files but the directory persists,
            # so without this a maintained index accumulates one junk
            # sibling per stat directory forever. Non-recursive delete
            # only — if a marker raced in (an ingest that will abort on
            # its lease re-check), the delete fails and we leave it.
            mdir = P(_marker_dir(path))
            try:
                if fs.exists(mdir) and len(fs.listStatus(mdir)) == 0:
                    fs.delete(mdir, False)
            except Exception:  # noqa: BLE001 — a marker raced in; keep it
                pass
        return False
    if not _olds():
        # genuinely fresh/absent path (the common serving-read case for
        # e.g. an index's not-yet-created deleted/ directory): nothing
        # to heal, and — deliberately — NO lease traffic, so concurrent
        # readers of an absent directory never contend
        return False
    if not _leased:
        try:
            with compaction_lease(spark, path):
                return _heal_under_lease(fs, P, base, jpath, path, _olds)
        except LeaseHeldError:
            # another reader is healing this path right now (ms), or a
            # compactor is inside its swap window (ms-seconds): wait for
            # the live name to reappear instead of failing the read
            for _ in range(20):
                time.sleep(0.5)
                if fs.exists(jpath):
                    return False
            raise
    return _heal_under_lease(fs, P, base, jpath, path, _olds)


def _heal_under_lease(fs, P, base, jpath, path, _olds) -> bool:
    """:func:`recover_interrupted_swap`'s critical section — caller
    holds the compaction lease."""
    if fs.exists(jpath):  # a racing writer healed it first
        return False
    olds = _olds()
    if not olds:
        return False
    if len(olds) > 1:
        raise IOError(
            f"cannot self-heal {path!r}: the live directory is absent "
            f"and MULTIPLE move-aside copies exist ({[str(o) for o in olds]}) "
            "— ambiguous; inspect and rename the correct one back "
            "manually"
        )
    for pref in ("__compact_", "__tmp_"):
        for st in fs.globStatus(P(base + pref + "*")) or []:
            fs.delete(st.getPath(), True)
    if not fs.rename(olds[0], jpath):
        raise IOError(
            f"self-heal failed: could not rename {olds[0]} back to "
            f"{path!r}"
        )
    return True


TRAINED_SIDECAR = "_TRAINED.json"


def publish_sidecar(spark: SparkSession, index_path: str, payload: bytes):
    """Atomically (re)publish a maintained index's hidden
    ``_TRAINED.json`` sidecar — the storage machinery shared by every
    index that keeps corpus-global trained state next to its per-doc
    rows (IVF-PQ centroids+codebooks via ``pq.write_trained_state``;
    SemDeDup centroids via ``dedup.write_semantic_state``). Hidden
    files are invisible to every parquet listing (Spark skips ``_``/
    ``.`` prefixes) and living INSIDE the directory means the
    compactors' move-aside swap carries the state atomically with the
    rows it interprets (:func:`_rewrite_and_swap` preserves it across
    every rewrite). Published by hidden-tmp + FileContext ATOMIC
    overwrite rename — a plain ``FileSystem.rename`` refuses to
    clobber, and delete-then-rename would open a crash window with NO
    state at all (old one already deleted, new one still a hidden
    tmp): readers would silently fall into their "caller keeps the
    state" branch with the actual geometry lost."""
    # legacy stray cleanup: pre-r15 write_trained_state named its tmp
    # files .<uuid>.trained.tmp, which the generalized
    # _atomic_small_file glob (.<name>.*.tmp) never matches — clear
    # them here or a pre-r15 crashed publish's stray lives forever
    jvm, fs, _ = _hadoop_fs(spark, index_path)
    P = jvm.org.apache.hadoop.fs.Path
    for st in fs.globStatus(
        P(f"{index_path.rstrip('/')}/.*.trained.tmp")
    ) or []:
        fs.delete(st.getPath(), False)
    _atomic_small_file(spark, index_path, TRAINED_SIDECAR, payload)


def _atomic_small_file(
    spark: SparkSession, dir_path: str, name: str, payload: bytes
) -> None:
    """Atomically (re)place one small file ``<dir_path>/<name>``:
    hidden-tmp write + FileContext OVERWRITE rename. On local/HDFS the
    rename is atomic; on an object store a single-file replace maps to
    one PUT of the destination object (then a delete of the source) —
    readers observe the old bytes or the new bytes, never a missing or
    torn file. This single-small-object property is what the
    pointer-file layouts here (:func:`publish_sidecar`,
    :func:`versioned_publish`) are built on, and what a DIRECTORY
    move-aside swap cannot offer on rename-less stores."""
    import uuid

    jvm, fs, _ = _hadoop_fs(spark, dir_path)
    P = jvm.org.apache.hadoop.fs.Path
    base = dir_path.rstrip("/")
    # clear tmp strays from previously crashed publishes (hidden, so
    # harmless to readers, but they would accumulate forever)
    for st in fs.globStatus(P(f"{base}/.{name}.*.tmp")) or []:
        fs.delete(st.getPath(), False)
    tmp = P(f"{base}/.{name}.{uuid.uuid4().hex}.tmp")
    dst = P(f"{base}/{name}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(payload))
    finally:
        out.close()
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        spark._jsc.hadoopConfiguration()
    )
    ren = jvm.org.apache.hadoop.fs.Options.Rename
    opts = spark.sparkContext._gateway.new_array(ren, 1)
    opts[0] = ren.OVERWRITE
    fc.rename(tmp, dst, opts)


def _rewrite_and_swap(
    df: DataFrame,
    path: str,
    target_file_bytes: int,
    sidecar: bytes | None = None,
) -> int:
    """Shared rewrite machinery of :func:`compact_parquet`,
    :func:`compact_tombstoned` and ``pq.reindex_ivfpq``: size the data
    directory, write ``df`` as ⌈bytes/target⌉ round-robin files to a
    temp sibling, then swap (:func:`_swap_directories`). One code path
    so a fix to the sizing or swap discipline reaches every compactor;
    every filesystem touch goes through the data's own Hadoop FS, so
    compaction works wherever the data lives. Returns the new file
    count.

    ``sidecar``: bytes to install as ``_TRAINED.json`` INSIDE the temp
    directory before the swap — the trained-state sidecar of a
    maintained IVF-PQ index publishes ATOMICALLY with the codes it
    encodes (a single rename brings both live; no ordering exists where
    serving sees codes encoded against a state nobody has). When
    ``sidecar`` is None and the live directory already carries one, it
    is PRESERVED into the rewrite — otherwise every ordinary compaction
    would silently strip the index's trained state. Hidden (leading
    underscore), so parquet listings never see it."""
    import math
    import uuid

    spark = df.sparkSession
    nbytes = _dir_bytes(spark, path)
    n = max(1, math.ceil(nbytes / target_file_bytes))
    tag = uuid.uuid4().hex[:8]
    tmp = f"{path}__compact_{tag}"
    df.repartition(n).write.mode("overwrite").parquet(tmp)
    jvm, fs, _ = _hadoop_fs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    if sidecar is None:
        src = P(f"{path.rstrip('/')}/{TRAINED_SIDECAR}")
        if fs.exists(src):
            sidecar = _read_small_file(fs, src)
    if sidecar is not None:
        out = fs.create(P(f"{tmp}/{TRAINED_SIDECAR}"), True)
        try:
            out.write(bytearray(sidecar))
        finally:
            out.close()
    _swap_directories(spark, path, tmp, tag)
    return n


def reindex_under_leases(
    spark: SparkSession,
    index_path: str,
    tombstone_path: str | None,
    build_fn,
    target_file_bytes: int = 128 * 1024 * 1024,
    break_stale_lease_after_sec: float | None = None,
) -> None:
    """The shared leased retrain-and-rewrite harness of
    ``pq.reindex_ivfpq`` and ``dedup.reindex_semantic`` — one code path
    so a fix to the exclusion/fence/swap/clear ordering reaches every
    reindexer (the same argument :func:`_rewrite_and_swap` makes for
    the compactors). TWO leases in fixed order (index then tombstone —
    the delete writers' guards watch the TOMBSTONE path's lease, so
    holding it for the whole long job turns a concurrent delete into a
    loud refusal instead of a batch silently wiped by the clear-LAST
    delete), ingest guards on both paths, deep mid-swap self-heal, then
    ``build_fn() -> (df, sidecar_bytes)`` computes the rebuilt rows and
    trained-state payload UNDER the exclusion (surviving membership
    must be derived inside it), the folded batch names are fenced (a
    redelivery encoded/assigned under the OLD geometry must refuse),
    the rewrite+swap installs the sidecar atomically with the rows it
    interprets, and the tombstone directory clears LAST (its ids are
    physically absent only after the swap — same ordering argument as
    :func:`compact_tombstoned`)."""
    import contextlib

    with contextlib.ExitStack() as _stack:
        _stack.enter_context(
            compaction_lease(spark, index_path, break_stale_lease_after_sec)
        )
        if tombstone_path is not None:
            _stack.enter_context(
                compaction_lease(
                    spark, tombstone_path, break_stale_lease_after_sec
                )
            )
        _guard_no_ingest_in_flight(
            spark, index_path, break_stale_lease_after_sec
        )
        if tombstone_path is not None:
            _guard_no_ingest_in_flight(
                spark, tombstone_path, break_stale_lease_after_sec
            )
        recover_interrupted_swap(spark, index_path, deep=True, _leased=True)
        df, sidecar = build_fn()
        record_compacted_batches(
            spark, index_path, _list_batch_subdirs(spark, index_path)
        )
        _rewrite_and_swap(df, index_path, target_file_bytes, sidecar=sidecar)
        if tombstone_path is not None:
            jvm, fs, _ = _hadoop_fs(spark, tombstone_path)
            fs.delete(jvm.org.apache.hadoop.fs.Path(tombstone_path), True)


def compact_batched(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    break_stale_lease_after_sec: float | None = None,
) -> int:
    """:func:`compact_parquet` for batch-id-OVERWRITE maintained sinks
    (the ``dedup.ingest_neardup_batch`` / ``pq.ivfpq_index_add`` /
    ``bm25.bm25_index_add`` layouts) plus the redelivery fence those
    sinks need: records the batch subdirectory names it folds in a
    sibling fence manifest, so the add paths REFUSE a late at-least-once
    redelivery of an already-folded batch instead of recreating its
    subdirectory next to the compacted copy of the same rows — which
    every reader would silently double-count (wrong BM25 df/n_docs/
    sum_dl, duplicate codes rows). Without the fence, batch-id
    overwrite is idempotent only UP TO the last compaction.

    Fence protocol (storage-agnostic, like the compactor's sizing and
    swap since r12): batch names are recorded through the SAME
    Hadoop FileSystem the data uses — an append-only SIBLING manifest
    directory (``{path}__COMPACTED_MANIFEST``) of immutable JSON
    fragments, one per compaction, read as their union. Sibling, not
    inside ``path``: it must survive the compactor's move-aside swap.
    The fragment is written BEFORE the rewrite+swap, so every crash
    ordering is safe: a crash mid-fragment-write leaves only a hidden
    ``.fence-…tmp`` the union read skips (fragments are published by a
    single rename — re-run the compaction; the batch subdirectories
    are still in place); a crash after the
    fragment but before the swap over-fences names whose directories
    still exist — their redelivery is refused, and the refusal message
    detects this state (subdirectory still present) and directs the
    operator to RE-RUN the compaction, which folds the surviving
    directory and makes the fence accurate; re-ingesting under a fresh
    id in that state would double-count, which is why the guard says
    not to. Fragments
    are never rewritten in place, so there is no truncate-and-dump
    corruption window and no lost-fence rename window. Single-writer:
    do not compact while a batch write can be in flight.
    """
    with compaction_lease(spark, path, break_stale_lease_after_sec):
        _guard_no_ingest_in_flight(spark, path, break_stale_lease_after_sec)
        recover_interrupted_swap(spark, path, deep=True, _leased=True)
        folded = _list_batch_subdirs(spark, path)
        record_compacted_batches(spark, path, folded)
        return _compact_parquet_leased(
            spark, path, target_file_bytes, recursive=True
        )


def _hadoop_fs(spark: SparkSession, path: str):
    """(jvm, FileSystem, Path) for ``path`` resolved through the Spark
    Hadoop configuration — the same filesystem the data reads/writes
    use, so the fence works wherever the data lives (local, HDFS,
    object storage), with zero ``os.*`` calls."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _list_batch_subdirs(spark: SparkSession, path: str) -> list:
    """Non-hidden batch subdirectory names under ``path`` — the names a
    compaction is about to fold — listed through the data's own FS."""
    _, fs, jpath = _hadoop_fs(spark, path)
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(jpath)
        if st.isDirectory()
        and not st.getPath().getName().startswith(("_", "."))
    )


def _manifest_dir(path: str) -> str:
    return path.rstrip("/") + "__COMPACTED_MANIFEST"


def _compacted_marker(path: str) -> str:
    # legacy single-file marker (pre-manifest protocol): read-only now
    return path.rstrip("/") + "__COMPACTED_BATCHES"


def record_compacted_batches(spark: SparkSession, path: str, names) -> None:
    """Append one immutable JSON fragment naming ``names`` to the fence
    manifest of ``path``. No-op on an empty list. Never rewrites an
    existing fragment — the fence set is monotone-growing, so the union
    read needs no replace step. Fragment CREATION is atomic too: the
    bytes land under a hidden ``.fence-…tmp`` name (which
    :func:`compacted_batches` skips) and a single ``fs.rename``
    publishes them, so a crash mid-write leaves only an ignorable temp
    — it can never strand a partial fragment that blocks every later
    ingest guard on the index (see :func:`compact_batched` for the
    crash orderings)."""
    import json
    import uuid

    names = sorted(set(names))
    if not names:
        return
    jvm, fs, _ = _hadoop_fs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    hexid = uuid.uuid4().hex
    tmp = P(f"{_manifest_dir(path)}/.fence-{hexid}.json.tmp")
    frag = P(f"{_manifest_dir(path)}/fence-{hexid}.json")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(names).encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, frag):
        raise IOError(
            f"fence fragment publish failed: could not rename {tmp} to "
            f"{frag}"
        )


def compacted_batches(path: str, spark: SparkSession | None = None) -> set:
    """Batch subdirectory names already folded into ``path`` by
    :func:`compact_batched` / :func:`compact_tombstoned`: the union of
    every manifest fragment, plus the legacy single-file marker if one
    exists from an older layout (empty when neither exists). Raises on
    an unparseable fragment — a loud, recoverable signal (fragments are
    published atomically by rename, so this means external corruption:
    delete the bad fragment and re-run the compaction; see
    :func:`compact_batched`), never a silent empty set."""
    import json

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "compacted_batches needs an active SparkSession to reach "
            "the index's filesystem"
        )
    jvm, fs, _ = _hadoop_fs(spark, path)
    names: set = set()
    legacy = jvm.org.apache.hadoop.fs.Path(_compacted_marker(path))
    if fs.exists(legacy):
        names |= set(json.loads(_read_small_file(fs, legacy)))
    mdir = jvm.org.apache.hadoop.fs.Path(_manifest_dir(path))
    if fs.exists(mdir):
        for st in fs.listStatus(mdir):
            # skip hidden names: in-flight .fence-*.tmp fragments from
            # record_compacted_batches (published by rename, so a crash
            # mid-write leaves only these — never a partial fragment)
            if st.getPath().getName().startswith((".", "_")):
                continue
            names |= set(json.loads(_read_small_file(fs, st.getPath())))
    return names


def _read_small_file(fs, jpath) -> bytes:
    stream = fs.open(jpath)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def validate_run_id(run_id) -> None:
    """run_id becomes part of a sink subdirectory NAME, so it must be a
    single safe path segment: a ``/`` would nest directories (the
    compaction fence's top-level listing then records the wrong name and
    the redelivery guard never matches), and a leading ``_``/``.`` makes
    the entry hidden to parquet readers and to the fence listing — both
    silently reopen the double-count hole the fence exists to close.
    Allowed: ``[A-Za-z0-9-][A-Za-z0-9_-]*`` (or None). Shared by every
    batch-id-overwrite maintained sink (through :func:`open_batch`)."""
    import re

    if run_id is None:
        return
    if not re.fullmatch(r"[A-Za-z0-9-][A-Za-z0-9_-]*", str(run_id)):
        raise ValueError(
            f"run_id {run_id!r} is not a safe path segment: use only "
            "letters, digits, '-' and '_', not starting with '_' or '.'"
        )


def batch_subdir(prefix: str, run_id, batch_id) -> str:
    """The canonical maintained-sink subdirectory name:
    ``{prefix}-{batch_id}``, namespaced to ``{prefix}-{run_id}-{batch_id}``
    when a run_id is given (streaming batch ids are unique only per
    checkpoint — see ``dedup.ingest_neardup_batch`` for the full
    contract). Validates the run_id."""
    validate_run_id(run_id)
    return (
        f"{prefix}-{run_id}-{batch_id}" if run_id else f"{prefix}-{batch_id}"
    )


def guard_batch_not_compacted(path: str, subdir: str) -> None:
    """Raise when ``subdir`` was already folded by
    :func:`compact_batched` or :func:`compact_tombstoned` — the
    at-least-once redelivery that can no
    longer be made idempotent (its rows live in the compacted flat
    files; a recreated subdirectory would double-count them). Called by
    :func:`open_batch` for every batch-id-overwrite sink before it runs
    a job.

    Also refuses while ``path``'s COMPACTION LEASE is held (r13,
    :func:`guard_no_compaction_in_flight`): a batch subdirectory
    written while the compactor is mid-run lands in the directory the
    swap is about to move aside and DELETE — silent data loss. The
    guard turns that race into a loud failure the at-least-once
    redelivery retries after the lease clears. One-directional by
    design: ingests are unleased idempotent overwrites, so the reverse
    ordering (ingest in flight when a compaction STARTS) remains the
    documented quiesce-before-compacting contract."""
    guard_no_compaction_in_flight(path)
    if subdir in compacted_batches(path):
        # the remedy depends on whether the fenced subdirectory still
        # exists: the fence fragment is written BEFORE the rewrite+swap,
        # so after a mid-compaction crash the name is fenced while its
        # directory (and rows) are still in place — there, re-ingesting
        # under a fresh id would DOUBLE-COUNT next to the surviving
        # subdirectory; the fix is to re-run the compaction (idempotent)
        spark = SparkSession.getActiveSession()
        jvm, fs, _ = _hadoop_fs(spark, path)
        still_there = fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{subdir}")
        )
        remedy = (
            "this batch's subdirectory STILL EXISTS next to the fence — "
            "a compaction crashed between its fence write and its swap; "
            "re-run the compaction to fold it (do NOT re-ingest: that "
            "would double-count the surviving rows)"
            if still_there
            else "quiesce the stream before compacting, or re-ingest "
            "these rows under a fresh batch id"
        )
        raise ValueError(
            f"batch subdirectory {subdir!r} under {path!r} was already "
            "folded by compact_batched; redelivery after compaction "
            f"cannot be idempotent — {remedy}"
        )


def guard_no_compaction_in_flight(
    path: str, spark: SparkSession | None = None
) -> None:
    """Refuse a batch write while ``path``'s compaction lease is held —
    one ``fs.exists`` through the data's own Hadoop FS. Closes the
    ingest-during-compaction data-loss race: the compactor's swap moves
    the whole directory aside and deletes it, so a ``batch-N``
    subdirectory landing there mid-compaction would vanish silently
    (or double-count if the rewrite's recursive read caught part of
    it). With the guard the ingest fails LOUDLY and the at-least-once
    redelivery lands it after the lease clears; streaming sinks
    (``foreachBatch``) fail the micro-batch and replay it on restart —
    idempotent by the batch-id-overwrite contract. A lease stranded by
    a hard-killed compactor blocks ingest until it is removed (or a
    compaction with ``break_stale_lease_after_sec`` reclaims it) — the
    loud-over-lossy trade every fence here makes."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "guard_no_compaction_in_flight needs an active SparkSession "
            "to reach the index's filesystem"
        )
    jvm, fs, _ = _hadoop_fs(spark, path)
    jlock = jvm.org.apache.hadoop.fs.Path(_lease_path(path))
    if fs.exists(jlock):
        holder = "<unreadable>"
        try:
            holder = _read_small_file(fs, jlock).decode("utf-8", "replace")
        except Exception:  # noqa: BLE001 — racing holder may delete it
            pass
        raise LeaseHeldError(
            f"batch write to {path!r} refused: a compaction/upsert holds "
            f"the lease ({_lease_path(path)!r}, holder {holder}) and its "
            "swap would silently DELETE a subdirectory written now — "
            "retry after the compaction finishes (at-least-once "
            "redelivery makes the retry safe); if the holding writer "
            f"was hard-killed, remove the lease file. "
            f"{_render_state(spark, path)}"
        )


# --- the maintained-index batch protocol, written once ----------------
# Sink half: open_batch (before any job) + write_batch. Reader half:
# read_batches (+ fence_redeletes for the replayed-text delete sinks).
# Every kit's add/delete/read calls these and spells out no step itself.


def open_batch(
    spark: SparkSession, prefix: str, run_id, batch_id, dirs: list[str]
) -> str:
    """Sink half, step 1 — call before the batch runs any job: validate
    ``run_id`` and name the batch subdirectory (:func:`batch_subdir`;
    ``run_id`` namespaces a new streaming query/checkpoint), then for
    each target directory self-heal a crashed swap
    (:func:`recover_interrupted_swap`) and refuse a held lease or a
    batch a compaction already folded (:func:`guard_batch_not_compacted`
    — batch-id overwrite is idempotent only UP TO the last compaction).
    The heal comes first: writing ``dir/<sub>`` while the swap's data
    sits at ``dir__old_<tag>`` recreates the live name, readers then
    see a live path and never heal, and the next deep compaction
    deletes the stranded rows. Returns the subdirectory name."""
    sub = batch_subdir(prefix, run_id, batch_id)
    for d in dirs:
        recover_interrupted_swap(spark, d)
        guard_batch_not_compacted(d, sub)
    return sub


def write_batch(
    spark: SparkSession, sub: str, outputs: dict, ordered: bool = False
) -> None:
    """Sink half, step 2: announce :func:`ingest_markers` on every
    target directory and OVERWRITE each ``{dir: frame}`` output at
    ``dir/<sub>`` — batch-id overwrite is what makes at-least-once
    retries bit-identical. The writes run concurrently
    (:func:`run_write_jobs`); ``ordered=True`` runs them one after
    another in dict order, for an output whose plan scans another
    target (the pair probes read the index this batch also writes: a
    retry's concurrent overwrite of ``index/<sub>`` would delete files
    the probe is reading)."""
    jobs = [
        lambda d=d, df=df: df.write.mode("overwrite").parquet(f"{d}/{sub}")
        for d, df in outputs.items()
    ]
    with ingest_markers(spark, list(outputs)):
        if ordered:
            for job in jobs:
                job()
        else:
            run_write_jobs(*jobs)


def read_batches(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    tombstones: str | None = None,
    key: str = "doc",
    optional: bool = False,
    skip_batch: str | None = None,
) -> DataFrame | None:
    """Reader half: self-heal a crashed swap, then list ``path``
    recursively — the per-batch subdirectories plus the flat files a
    compaction leaves. ``schema`` fixes the read schema for directories
    with a fixed writer contract, skipping the per-file footer
    inference that grows with the batch count. ``tombstones`` names a
    delete directory whose ``key`` ids are dropped by a broadcast
    anti-join (absent or empty: nothing is deleted; it must stay
    broadcast-sized between ``compact_tombstoned`` runs). The one
    absence rule: with ``optional=True`` a path that genuinely holds no
    data (:func:`is_absence_error`) returns None; every other analysis
    error propagates, because an empty substitute for an unreadable
    index silently drops data.

    ``skip_batch`` leaves out the rows of that batch subdirectory, by
    each file's PARENT directory name (an exact match; substring
    containment over the URI would also match an ancestor of that
    name). A sink that anti-joins its output against the directory it
    writes passes its own batch name, so a retry sees the directory as
    its first attempt did instead of anti-joining itself away and
    overwriting its own earlier output with nothing."""
    from pyspark.errors import AnalysisException

    recover_interrupted_swap(spark, path)
    reader = spark.read.option("recursiveFileLookup", "true")
    if schema is not None:
        reader = reader.schema(schema)
    try:
        df = reader.parquet(path)
    except AnalysisException as e:
        if optional and is_absence_error(e):
            return None
        raise
    if skip_batch is not None:
        parent = F.element_at(F.split(F.input_file_name(), "/"), -2)
        df = df.filter(parent != skip_batch)
    if tombstones is not None:
        dead = read_batches(spark, tombstones, optional=True)
        if dead is not None:
            df = df.join(F.broadcast(dead.select(key)), key, "left_anti")
    return df


def fence_redeletes(
    spark: SparkSession,
    batch: DataFrame,
    tombstones: str,
    sub: str,
    id_col: str,
) -> DataFrame:
    """The re-delete fence of the delete-by-replay sinks (BM25, TF-IDF):
    drop the rows of ``batch`` whose id already has a ``doc`` tombstone
    under ``tombstones`` — deleting a doc twice would subtract its stat
    deltas twice. The batch's own ``sub`` tombstones are skipped
    (``read_batches(skip_batch=)``), so a retry sees the index as its
    first attempt did. Broadcast: the tombstone set is bounded by the
    compaction cadence."""
    dead = read_batches(spark, tombstones, optional=True, skip_batch=sub)
    if dead is None:
        return batch
    already = dead.select(F.col("doc").alias(id_col))
    return batch.join(F.broadcast(already), id_col, "left_anti")


def read_sidecar(spark: SparkSession, index_path: str) -> bytes | None:
    """The ``_TRAINED.json`` bytes :func:`publish_sidecar` installed in
    ``index_path``, or None when it carries none. Self-heals a crashed
    swap first: the sidecar lives inside the directory, so a bare
    existence check would read a recoverable index as stateless."""
    recover_interrupted_swap(spark, index_path)
    jvm, fs, _ = _hadoop_fs(spark, index_path)
    p = jvm.org.apache.hadoop.fs.Path(
        f"{index_path.rstrip('/')}/{TRAINED_SIDECAR}"
    )
    return _read_small_file(fs, p) if fs.exists(p) else None


def streaming_index_ingest(
    stream: DataFrame,
    add_fn,
    checkpoint_path: str | None = None,
    run_id: str | None = None,
):
    """The shared streaming twin of every maintained index's batch add —
    the ``foreachBatch`` contract lives HERE, once, so a fix to it
    (validate-before-start ordering, trigger choice, checkpoint
    handling) reaches all indexes: validate the run_id BEFORE the
    stream starts (not mid-batch), compose ``add_fn(batch_df,
    batch_id, run_id)`` under an ``availableNow`` trigger, wire the
    optional checkpoint, return the started ``StreamingQuery``. Callers
    pass their index's batch add directly, e.g. ``lambda df, bid, rid:
    bm25_index_add(spark, df, bid, index_path, run_id=rid)``.
    Idempotency comes from the adds themselves (batch-id overwrite);
    streaming batch ids are unique only per CHECKPOINT — pass a
    distinct ``run_id`` when extending an index from a new
    query/checkpoint."""
    validate_run_id(run_id)

    def _ingest(batch_df, bid):
        add_fn(batch_df, bid, run_id)

    writer = stream.writeStream.foreachBatch(_ingest).trigger(
        availableNow=True
    )
    if checkpoint_path is not None:
        writer = writer.option("checkpointLocation", checkpoint_path)
    return writer.start()


def _marker_dir(path: str) -> str:
    return path.rstrip("/") + "__INGEST_MARKERS"


def maintenance_state(spark: SparkSession, path: str) -> dict:
    """One-call diagnosis of a maintained directory's protocol state —
    everything an operator staring at a refused ingest/compaction would
    otherwise hand-inspect across four sibling paths:

    - ``lease``: ``{"holder": <payload>, "age_sec": float}`` when the
      compaction lease is held, else ``None``
    - ``markers``: live ingest markers as ``[{"name", "age_sec"}]``
    - ``old_siblings``: ``<path>__old_*`` move-aside copies (a crashed
      swap awaiting self-heal, or — with the live path present — a
      crash after the second rename awaiting the deep pass)
    - ``fenced_batches``: batch subdirectory names already folded by a
      compaction (redelivery of these is refused)
    - ``path_exists``: whether the live directory itself is present

    Read-only; takes no lease. Rendered into the refusal messages of
    :func:`guard_no_compaction_in_flight` and
    :func:`_guard_no_ingest_in_flight`."""
    import json
    import time

    jvm, fs, jpath = _hadoop_fs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    base = path.rstrip("/")
    now = time.time()

    lease = None
    jlock = P(_lease_path(path))
    if fs.exists(jlock):
        holder, age = "<unreadable>", None
        try:
            holder = json.loads(_read_small_file(fs, jlock))
        except Exception:  # noqa: BLE001 — racing holder may delete it
            pass
        try:
            age = now - fs.getFileStatus(jlock).getModificationTime() / 1000.0
        except Exception:  # noqa: BLE001
            pass
        lease = {"holder": holder, "age_sec": age}

    markers = []
    mdir = P(_marker_dir(path))
    if fs.exists(mdir):
        for st in fs.listStatus(mdir):
            markers.append(
                {
                    "name": st.getPath().getName(),
                    "age_sec": now - st.getModificationTime() / 1000.0,
                }
            )

    olds = [
        str(st.getPath())
        for st in (fs.globStatus(P(base + "__old_*")) or [])
    ]
    return {
        "lease": lease,
        "markers": markers,
        "old_siblings": olds,
        "fenced_batches": sorted(compacted_batches(path, spark)),
        "path_exists": bool(fs.exists(jpath)),
    }


def _render_state(spark: SparkSession, path: str) -> str:
    """Compact one-line maintenance_state rendering for error messages
    (best-effort: diagnosis must never mask the original refusal)."""
    try:
        s = maintenance_state(spark, path)
        lease = s["lease"]
        lease_s = (
            "none"
            if lease is None
            else f"held {round(lease['age_sec'], 1)}s by {lease['holder']}"
        )
        return (
            f"state: lease={lease_s}; markers="
            f"{[m['name'] for m in s['markers']]}; old_siblings="
            f"{s['old_siblings']}; fenced_batches={len(s['fenced_batches'])}"
        )
    except Exception as e:  # noqa: BLE001
        return f"state: <unavailable: {e}>"


@contextlib.contextmanager
def ingest_markers(spark: SparkSession, paths: list[str]):
    """Shared-mode presence markers for a batch write — the reverse
    direction of :func:`guard_no_compaction_in_flight` (r13): one tiny
    marker file per target directory (``<path>__INGEST_MARKERS/m-<id>``,
    a sibling, so it survives and never pollutes the data listing),
    created before the writes and removed after. The compactors check
    the marker directory AFTER acquiring the lease and refuse loudly
    while any batch write is in flight — the swap would otherwise
    silently delete a subdirectory being written.

    Handshake (no ordering can lose data silently): the ingest checks
    the lease, announces its markers, then RE-checks the lease — a
    compactor that slipped in between listed markers before ours
    existed and may already be rewriting, so the ingest aborts loudly
    (markers removed, redelivery retries); a compactor arriving after
    the markers sees them and aborts loudly itself. Both-abort is
    possible (rare) and safe — both sides retry. A crashed ingest
    strands its markers; the compactor's ``break_stale_lease_after_sec``
    knob clears markers older than the bound — which therefore must
    exceed the longest LEGITIMATE ingest too, not just the longest
    compaction. A batch write expected to run longer should call the
    ``touch()`` this context manager YIELDS (periodically, from the
    driver) — it re-stamps every marker's mtime so liveness stays
    distinguishable from a crash."""
    import time
    import uuid

    jvm, fs, _ = _hadoop_fs(spark, paths[0])
    P = jvm.org.apache.hadoop.fs.Path
    markers = []
    for p in paths:
        guard_no_compaction_in_flight(p, spark)

    def touch() -> None:
        now_ms = int(time.time() * 1000)
        for m in markers:
            fs.setTimes(m, now_ms, now_ms)

    try:
        for p in paths:
            m = P(f"{_marker_dir(p)}/m-{uuid.uuid4().hex}")
            fs.create(m, True).close()
            markers.append(m)
        for p in paths:  # re-check: close the announce race
            guard_no_compaction_in_flight(p, spark)
        yield touch
    finally:
        for m in markers:
            fs.delete(m, False)


def _guard_no_ingest_in_flight(
    spark: SparkSession, path: str, break_stale_after_sec: float | None
) -> None:
    """Compactor-side half of the :func:`ingest_markers` handshake:
    called AFTER the lease is held. Live markers → refuse loudly;
    markers older than ``break_stale_after_sec`` (a crashed ingest —
    the same knob that breaks a stranded lease) are cleared. The bound
    must therefore exceed the longest legitimate INGEST as well as the
    longest compaction — a live batch write running past it loses its
    markers and the swap can delete its in-flight subdirectory; long
    ingests keep themselves visibly live via the ``touch()`` that
    :func:`ingest_markers` yields."""
    import time

    jvm, fs, _ = _hadoop_fs(spark, path)
    mdir = jvm.org.apache.hadoop.fs.Path(_marker_dir(path))
    if not fs.exists(mdir):
        return
    live = []
    for st in fs.listStatus(mdir):
        age = time.time() - st.getModificationTime() / 1000.0
        if break_stale_after_sec is not None and age > break_stale_after_sec:
            fs.delete(st.getPath(), False)
        else:
            live.append(st.getPath().getName())
    if live:
        raise IOError(
            f"compaction of {path!r} refused: batch writes in flight "
            f"(markers {live} under {_marker_dir(path)!r}) — the swap "
            "would silently delete a subdirectory being written. "
            "Quiesce ingest first; if a marker belongs to a crashed "
            "ingest, pass break_stale_lease_after_sec (it clears "
            f"markers older than the bound too) or remove it. "
            f"{_render_state(spark, path)}"
        )


def compact_tombstoned(
    spark: SparkSession,
    data_path: str,
    tombstone_path: str,
    id_col: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    break_stale_lease_after_sec: float | None = None,
) -> int:
    """Physical erasure for tombstone-maintained indexes — the deferred
    half of ``pq.ivfpq_index_delete`` and ``bm25.bm25_index_delete``:
    rewrite the data directory MINUS tombstoned ids (recursive reads of
    both per-batch-subdir layouts, broadcast anti-join), swap with the
    same discipline as :func:`compact_parquet`, then clear the tombstone
    directory LAST. Crash ordering: before the swap the live data is
    untouched; DURING the swap the same mid-swap window as
    ``compact_parquet``/``upsert_vector_index`` applies (a crash between
    the two moves leaves ``data_path`` absent with the data intact at
    ``__old_<tag>`` — the next read, ingest or compaction restores it via
    :func:`recover_interrupted_swap`); between swap and clear the stale
    tombstones anti-join against already-erased ids and match nothing,
    so re-running completes the clear. After the clear, a previously
    deleted id may be re-ingested. Returns the new file count. No-op
    (returns 0) when the tombstone directory is absent/empty.
    Single-writer swap caveat as ``compact_parquet``.

    Like :func:`compact_batched`, the per-batch subdirectories this
    rewrite folds into flat files are recorded in the fence manifest
    BEFORE the swap — otherwise a late at-least-once redelivery of an
    already-folded ingest batch would pass
    :func:`guard_batch_not_compacted`, recreate its ``batch-{id}``
    subdirectory next to the compacted copy of the same rows (silently
    double-counting every surviving row in every reader), and resurrect
    the physically erased ids."""
    from pyspark.errors import AnalysisException

    rec = spark.read.option("recursiveFileLookup", "true")
    # cheap lease-free absence probe only — the common "no deletes
    # pending" no-op stays zero-lease-traffic
    try:
        rec.parquet(tombstone_path)
    except AnalysisException as e:
        if not is_absence_error(e):
            raise
        return 0
    # TWO leases, data then tombstone (fixed order — no other writer
    # claims both, so no deadlock): holding the TOMBSTONE path's lease
    # for the whole job is what actually excludes the delete writers —
    # their guards/markers check the tombstone path, not the data path,
    # so a data-lease-only compactor would let a delete batch commit
    # between the snapshot below and the clear-LAST delete and then
    # silently wipe it (resurrected doc; for BM25 the batch's negative
    # stat deltas in sibling dirs would survive the wipe — permanently
    # inconsistent idf/avgdl). With the lease held, a concurrent delete
    # refuses loudly and retries after.
    with compaction_lease(spark, data_path, break_stale_lease_after_sec), \
            compaction_lease(spark, tombstone_path,
                             break_stale_lease_after_sec):
        _guard_no_ingest_in_flight(
            spark, data_path, break_stale_lease_after_sec
        )
        # a delete batch mid-write when we claimed the lease
        _guard_no_ingest_in_flight(
            spark, tombstone_path, break_stale_lease_after_sec
        )
        # snapshot the tombstone LISTING under both leases + guards:
        # spark.read.parquet eagerly freezes the InMemoryFileIndex, so
        # an earlier snapshot would miss a tombstone batch committed
        # before the exclusion — absent from `dead` yet wiped by the
        # clear-LAST delete below: silently lost deletes.
        try:
            dead = rec.parquet(tombstone_path).select(id_col)
        except AnalysisException as e:
            if not is_absence_error(e):
                raise
            return 0  # a racing compactor cleared it first — nothing to do
        recover_interrupted_swap(spark, data_path, deep=True, _leased=True)
        record_compacted_batches(
            spark, data_path, _list_batch_subdirs(spark, data_path)
        )
        survivors = rec.parquet(data_path).join(
            F.broadcast(dead), id_col, "left_anti"
        )
        n = _rewrite_and_swap(survivors, data_path, target_file_bytes)
        jvm, fs, _ = _hadoop_fs(spark, tombstone_path)
        # LAST — see ordering argument above
        fs.delete(jvm.org.apache.hadoop.fs.Path(tombstone_path), True)
    return n


def publish_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key_col: str,
    hash_cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic content-addressed shard publisher — the final stage
    of a training-data pipeline: freeze a prepared corpus into
    ``n_shards`` reproducible shards plus a verifiable manifest.

    Shard assignment is ``md5(key) pmod n_shards`` — a pure function of
    the KEY, so it is stable across runs, partitioning, cluster size,
    and engine (NOT Spark's internal hashpartitioning, which is
    implementation-defined); re-publishing the same rows always yields
    byte-identical shard membership, and a trainer can locate any key's
    shard with one hash. Data is written Hive-partitioned by ``shard``
    (each shard prunable independently; downstream loaders read
    ``shard=K`` directories in parallel).

    The manifest is one row per shard: (shard, n_rows, content_hash,
    min_key, max_key) where content_hash is the order-invariant XOR of
    per-row md5-longs over ``hash_cols`` (defaults to ``[key_col]``) —
    the same injective netstring rendering as ``dataset_fingerprint``,
    so a consumer can re-derive and verify any shard without trusting
    the publisher. Entirely map-side until the |shards|-row combine.

    The manifest is derived from ``spark.read.parquet(path + "/data")``
    — the WRITTEN files, not a re-evaluation of the input lineage — so
    even a nondeterministic input frame cannot publish data and a
    manifest that disagree (the manifest describes what a consumer will
    actually read, and the roundtrip proves the published artifact
    end-to-end). Returns the manifest as read back from
    ``path``/_manifest.
    """
    from clinical_vector_search_spark.functions.hashing import md5_long

    hash_cols = hash_cols or [key_col]

    def frame(c: str) -> F.Column:
        tagged = F.when(F.col(c).isNull(), F.lit("N")).otherwise(
            F.concat(F.lit("V"), F.col(c).cast("string"))
        )
        return F.concat(F.length(tagged).cast("string"), F.lit(":"), tagged)

    rendered = F.concat_ws("|", *[frame(c) for c in hash_cols])
    sharded = df.withColumn(
        "shard",
        F.pmod(md5_long(F.col(key_col).cast("string")), F.lit(n_shards)),
    )
    sharded.write.mode("overwrite").partitionBy("shard").parquet(
        f"{path}/data"
    )
    spark = df.sparkSession
    written = spark.read.parquet(f"{path}/data").withColumn(
        "shard", F.col("shard").cast("long")
    )
    manifest = (
        written.withColumn("_h", md5_long(rendered))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(_h)").alias("content_hash"),
            F.min(key_col).alias("min_key"),
            F.max(key_col).alias("max_key"),
        )
    )
    manifest.write.mode("overwrite").parquet(f"{path}/_manifest")
    return spark.read.parquet(f"{path}/_manifest")


def verify_shard_manifest(
    spark: SparkSession,
    path: str,
    key_col: str,
    hash_cols: list[str] | None = None,
) -> DataFrame:
    """Consumer-side verification of a ``publish_shards`` artifact:
    re-derives each shard's (n_rows, content_hash) from the published
    DATA and full-outer-compares against the manifest. Returns the
    mismatching shards — empty means the artifact verifies. The caller
    passes the same (key_col, hash_cols) contract the publisher used;
    nothing else is trusted. Runs entirely from the directory (a
    partition-pruned scan per shard at most — here one full scan with a
    map-side combine)."""
    from clinical_vector_search_spark.functions.hashing import md5_long

    hash_cols = hash_cols or [key_col]

    def frame(c: str) -> F.Column:
        tagged = F.when(F.col(c).isNull(), F.lit("N")).otherwise(
            F.concat(F.lit("V"), F.col(c).cast("string"))
        )
        return F.concat(F.length(tagged).cast("string"), F.lit(":"), tagged)

    rendered = F.concat_ws("|", *[frame(c) for c in hash_cols])
    derived = (
        spark.read.parquet(f"{path}/data")
        .withColumn("_h", md5_long(rendered))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(_h)").alias("content_hash"),
        )
    )
    man = spark.read.parquet(f"{path}/_manifest").select(
        "shard",
        F.col("n_rows").alias("m_rows"),
        F.col("content_hash").alias("m_hash"),
    )
    return (
        derived.join(man, "shard", "full_outer")
        .filter(
            ~(
                F.col("n_rows").eqNullSafe(F.col("m_rows"))
                & F.col("content_hash").eqNullSafe(F.col("m_hash"))
            )
        )
        .select("shard", "n_rows", "m_rows", "content_hash", "m_hash")
    )


def route_dead_letters(
    df: DataFrame,
    path: str,
    bad,
    meter_name: str = "dead_letter_meter",
) -> dict:
    """Split-don't-drop ingestion sink with ONE data pass: rows where
    ``bad`` (a boolean Column) holds are routed to a dead-letter
    partition instead of being silently dropped, and the quality meter
    (total rows, dead rows) rides the SAME write job as an
    ``Observation`` — the same zero-extra-scan pattern as
    :func:`write_audit_publish`; a separate counting aggregation would
    rescan the batch, which at 100 TB doubles ingestion cost.

    The split is ``partitionBy(_dead)`` on an int 0/1 flag (int, not
    boolean, so partition-value inference round-trips the type), so ONE
    write job produces both outputs and downstream readers get the main
    data with a pruned scan of ``_dead=0`` — no second pass, no
    corrupt-rows-in-band. Returns the observed ``{"n_rows", "n_dead"}``
    (pytest asserts these equal the aggregated counts).
    """
    from pyspark.sql import Observation

    obs = Observation(meter_name)
    (
        df.withColumn("_dead", bad.cast("boolean").cast("int"))
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_dead").alias("n_dead"),
        )
        .write.mode("overwrite")
        .partitionBy("_dead")
        .parquet(path)
    )
    return dict(obs.get)


def write_audit_publish(
    df: DataFrame,
    path: str,
    metrics: dict,
    check,
) -> dict:
    """Write-audit-publish with a SINGLE data pass: the quality metrics
    ride the write job as an ``Observation`` (zero extra scans — a
    separate audit query would rescan what was just written, which at
    100 TB doubles the job), the gate ``check(metrics_dict) -> bool``
    runs on the driver, and only a passing write is atomically renamed
    from the staging directory to ``path``. A failing gate removes the
    staged output and raises — downstream readers can never observe a
    bad publish.

    ``metrics`` maps metric name → aggregate Column (count/sum/avg/...);
    the realized values are returned. Same single-writer swap caveat as
    ``upsert_vector_index``/``compact_parquet``; all publish renames go
    through the data's own Hadoop FileSystem (:func:`_swap_directories`
    discipline), so the gate works wherever the data lives.
    """
    import uuid

    from pyspark.sql import Observation

    spark = df.sparkSession
    jvm, fs, jpath = _hadoop_fs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    staged = f"{path}__staged_{uuid.uuid4().hex[:12]}"
    obs = Observation("wap_gate")
    try:
        df.observe(
            obs, *[c.alias(k) for k, c in metrics.items()]
        ).write.mode("overwrite").parquet(staged)
        got = dict(obs.get)
        if not check(got):
            raise ValueError(
                f"write_audit_publish gate failed for {path!r}: {got}"
            )
    except Exception:
        fs.delete(P(staged), True)
        raise
    old = f"{path}__old_{uuid.uuid4().hex[:12]}"
    if fs.exists(jpath):
        if not fs.rename(jpath, P(old)):
            raise IOError(f"publish failed: could not move {path!r} aside")
    if not fs.rename(P(staged), jpath):
        raise IOError(
            f"publish failed mid-window: {path!r} is absent; prior data "
            f"is intact at {old!r}, the audited new copy at {staged!r}"
        )
    fs.delete(P(old), True)
    return got
