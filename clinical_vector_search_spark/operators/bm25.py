"""BM25 Okapi lexical scoring as a pure DataFrame subplan (SURVEY.md R2).

Reference: rank_bm25.BM25Okapi over lower().split() tokens
(src/pipeline/pipeline.py:166-176), rebuilt per query — the per-query
rebuild is the reference flaw this module fixes: here the corpus statistics
are a reusable DataFrame "index" built once (cacheable), and scoring is a
join against it. No driver actions in the score path — n_docs/avgdl/idf all
live IN the plan (1-row aggregates cross-joined broadcast-style), so the
whole thing is lazy, cacheable, and scales horizontally.

Formula parity with rank_bm25 BM25Okapi defaults (k1=1.5, b=0.75,
epsilon=0.25):

  idf(t)   = ln((N - df + 0.5) / (df + 0.5))          # Robertson — can go <0
  avg_idf  = mean of RAW idf over the whole vocabulary (negatives included)
  idf'(t)  = epsilon * avg_idf  if idf(t) < 0  else idf(t)
  score(d) = Σ_{t in query, with multiplicity}
               idf'(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

Duplicate query terms score once PER OCCURRENCE (rank_bm25.get_scores loops
the query list), implemented as a multiplicity weight joined in.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clinical_vector_search_spark.functions import text as TXT

K1 = 1.5
B = 0.75
EPSILON = 0.25  # rank_bm25 BM25Okapi default


def _idf_with_floor(dfreq: DataFrame, stats: DataFrame) -> DataFrame:
    """(term, idf, n_docs, avgdl) from a (term, df) frame and a 1-row
    (n_docs, avgdl) frame — the Robertson idf with the rank_bm25 epsilon
    floor (negatives → EPSILON · mean raw idf over the whole vocabulary).
    THE single spelling shared by the one-shot builder
    (:func:`bm25_index`) and the maintenance reconstruction
    (:func:`bm25_read_index`): their bit-identical-scores contract is
    only as strong as these expressions staying one code path.

    Deliberately LAZY (r16): the raw-idf vocabulary is consumed twice
    (the epsilon floor's mean, then the scoring join), but both
    consumers are vocabulary-granularity subtrees that execute as
    CONCURRENT broadcast futures inside the one scoring job — a
    measured pin here (eager persist) added a serial driver action per
    serve call for zero wall-clock win (A/B at sf0.1: pinned reps
    [6.1, 5.4, 2.9] vs lazy [3.5, 3.4, 2.8] s for the full
    add+read+score family), and the duplicated work is two scans of
    the vocabulary-granularity stats, never the corpus."""
    raw_idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    idf_tbl = dfreq.crossJoin(F.broadcast(stats)).withColumn("raw_idf", raw_idf)
    avg_idf = idf_tbl.agg(F.avg("raw_idf").alias("avg_idf"))
    return idf_tbl.crossJoin(F.broadcast(avg_idf)).withColumn(
        "idf",
        F.when(
            F.col("raw_idf") < 0, F.lit(EPSILON) * F.col("avg_idf")
        ).otherwise(F.col("raw_idf")),
    ).select("term", "idf", "n_docs", "avgdl")


def bm25_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize: bool = False,
) -> DataFrame:
    """Build the reusable BM25 index: one row per (doc, term) with every
    statistic scoring needs: (doc, term, tf, dl, idf, n_docs, avgdl).

    Lazy — no driver actions. Cache the result to amortize across queries
    (``bm25_index(docs).cache()``); at scale the postings are partitioned
    by term and the 1-row stats are broadcast by AQE.

    Plan shape (r15): ``dl`` rides the explode into the (doc, term)
    aggregation (one extra long per shuffle row, constant within the
    group) instead of being joined on afterwards — that join cost a
    second corpus tokenize pass AND a postings-granularity doc-key
    shuffle for a value the map side already knew (guide §2.3/§2.4).
    Values are identical by construction: dl is functionally dependent
    on doc. ``stats`` still aggregates over ALL docs (zero-token docs
    have no postings but do count toward n_docs/avgdl).

    ``materialize=True`` pins the (doc, term, tf, dl) frame with an
    eager recomputable persist (``plan_cache.pin``): the lazy plan consumes it for dfreq
    (twice, through the epsilon-floor's vocabulary mean) AND the final
    posting join, and Spark reuses none of those subtrees — a one-shot
    build-and-score pays 3 corpus tokenize+shuffle passes for one
    index (r15, verified: 5 parquet scans, 0 ReusedExchange in the
    plan). Pinned, the corpus is tokenized and shuffled ONCE; stats
    keeps its own plain scan (zero-token docs). Default False keeps
    the documented lazy contract for callers that cache the result.
    """
    toks = docs.select(
        F.col(id_col).alias("doc"), TXT.tokenize(text_col).alias("tokens")
    )
    doclens = toks.select("doc", F.size("tokens").alias("dl"))
    terms = toks.select(
        "doc", F.size("tokens").alias("dl"), F.explode("tokens").alias("term")
    )
    tf = terms.groupBy("doc", "term").agg(
        F.count("*").alias("tf"), F.first("dl").alias("dl")
    )
    if materialize:
        # pin() = recomputable persist, not localCheckpoint (r16):
        # same one-tokenize-pass reuse, but a lost executor recomputes
        # instead of killing the job at scale
        from clinical_vector_search_spark.plan_cache import pin

        tf = pin(tf)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = doclens.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    return tf.join(_idf_with_floor(dfreq, stats), "term")


def bm25_score_index(
    index: DataFrame,
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Score every document against ``query_terms`` using a prebuilt index;
    returns (doc_id, bm25). Docs with zero term overlap score 0.0 (kept —
    the reference's argsort over the dense score vector keeps them too,
    pipeline.py:174-175)."""
    counts = Counter(query_terms)
    spark = index.sparkSession
    qdf = spark.createDataFrame(
        [(t, float(c)) for t, c in counts.items()], "term string, qw double"
    )
    matched = index.join(F.broadcast(qdf), "term")
    term_score = (
        F.col("qw")
        * F.col("idf")
        * (
            F.col("tf") * F.lit(k1 + 1.0)
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            )
        )
    )
    scores = (
        matched.select("doc", term_score.alias("s"))
        .groupBy("doc")
        .agg(F.sum("s").alias("bm25"))
    )
    return (
        docs.select(F.col(id_col).alias("doc"))
        .join(scores, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col("bm25"), F.lit(0.0)).alias("bm25"),
        )
    )


def bm25_score(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """One-shot convenience: build index + score. For repeated queries build
    the index once with :func:`bm25_index` and use :func:`bm25_score_index`.
    Build-and-score-once by definition, so the index is materialized
    (see bm25_index materialize)."""
    return bm25_score_index(
        bm25_index(docs, id_col, text_col, materialize=True),
        docs, query_terms, id_col, k1, b,
    )


def bm25_topk_set(
    index: DataFrame,
    queries: list[tuple[object, list[str]]],
    topk: int,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    round_to: int | None = None,
) -> DataFrame:
    """Score a whole query SET against one prebuilt index in ONE plan:
    (query_id, doc_id, bm25, rank) with rank ≤ topk per query.

    One broadcast join + one (query_id, doc) aggregation + one windowed
    top-k — no per-query driver loop (the reference rebuilds and rescans
    per query, pipeline.py:171-172; a loop of per-query plans repeats that
    flaw at the job level). Docs with zero term overlap are excluded: they
    can never outrank a matching doc, and materializing N_docs × N_queries
    zero rows is exactly the crossJoin this plan exists to avoid.
    Ties broken by doc id ascending.

    ``round_to`` rounds scores to N decimals BEFORE ranking: group-sum
    reassociation makes mathematically-equal scores differ by ~1 ulp
    across engines (and across runs at scale), flipping the doc-id
    tie-break at the top-k cut. Rounded ranking makes the cut
    deterministic — use it wherever the result feeds a cross-engine or
    cross-run comparison.
    """
    rows = []
    for qid, terms in queries:
        for t, c in Counter(terms).items():
            rows.append((qid, t, float(c)))
    spark = index.sparkSession
    # schema inferred so query ids keep their native type (int or string)
    qdf = spark.createDataFrame(rows, ["query_id", "term", "qw"])
    return bm25_topk_set_df(index, qdf, topk, id_col, k1, b, round_to)


def bm25_topk_set_df(
    index: DataFrame,
    query_terms: DataFrame,
    topk: int,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    round_to: int | None = None,
) -> DataFrame:
    """DataFrame-native variant of :func:`bm25_topk_set`: the query set
    arrives as (query_id, term, qw) rows instead of a driver-side list, so
    the whole retrieval — including query tokenization upstream — stays in
    the plan with no collect. This is the scale path: a 1M-query batch is
    just a bigger broadcast (or, past broadcast size, a shuffle join on
    term). Same plan from here on: one join + one (query_id, doc)
    aggregation + one windowed top-k."""
    from pyspark.sql import Window

    matched = index.join(F.broadcast(query_terms), "term")
    term_score = (
        F.col("qw")
        * F.col("idf")
        * (
            F.col("tf") * F.lit(k1 + 1.0)
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            )
        )
    )
    # one exchange for BOTH the (query_id, doc) aggregation and the
    # windowed top-k: hash-partitioning by query_id satisfies the
    # ClusteredDistribution of the groupBy (its keys are a superset) AND
    # the window's partitionBy, so Spark inserts no further shuffle —
    # without this the plan pays two back-to-back exchanges
    scores = (
        matched.select("query_id", F.col("doc").alias(id_col), term_score.alias("s"))
        .repartition("query_id")
        .groupBy("query_id", id_col)
        .agg(F.sum("s").alias("bm25"))
    )
    if round_to is not None:
        scores = scores.withColumn("bm25", F.round("bm25", round_to))
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc(id_col))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
    )


def bm25_index_add(
    spark,
    new_docs: DataFrame,
    batch_id: int,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    run_id: str | None = None,
) -> None:
    """Incremental BM25 index maintenance — the lexical-retrieval member
    of the maintenance trilogy next to ``dedup.minhash_pairs_incremental``
    and ``pq.ivfpq_index_add``: fold a batch of NEW documents into a
    persisted index with cost ∝ batch, never rescanning or rewriting old
    postings. (The reference rebuilds its BM25 state from scratch per
    query, pipeline.py:166-176; a per-ingest full rebuild repeats that
    flaw at corpus scale.)

    The persisted state is ADDITIVE SUFFICIENT STATISTICS, not the
    scoring view — global stats (idf, avgdl, the rank_bm25 epsilon
    floor) change with EVERY ingest, so baking them into posting rows
    would force a corpus-wide rewrite per batch. Instead:

      ``postings/batch-N``  (doc, term, tf, dl) — per-doc, immutable;
      ``df/batch-N``        (term, df)          — the batch's term
                            document-counts, additive because each doc
                            arrives in exactly ONE batch (the
                            append-only corpus contract, same as FAISS
                            ``add``; updates go through a dedup/delete
                            pass first);
      ``scalars/batch-N``   (n_docs, sum_dl)    — one exact-integer row.

    :func:`bm25_read_index` reconstructs the scoring view from these at
    vocabulary granularity. Storage (batch-id overwrite, compaction
    fence, ``run_id``, markers) is the shared sink half,
    ``io.tables.open_batch`` / ``write_batch``; compact each
    subdirectory with ``io.tables.compact_batched``."""
    from clinical_vector_search_spark.io.tables import open_batch, write_batch

    dirs = [f"{index_path}/{s}" for s in ("postings", "df", "scalars")]
    bsub = open_batch(spark, "batch", run_id, batch_id, dirs)
    toks = new_docs.select(
        F.col(id_col).alias("doc"), TXT.tokenize(text_col).alias("tokens")
    ).localCheckpoint()  # consumed by postings, df and scalars
    doclens = toks.select("doc", F.size("tokens").alias("dl"))
    # dl rides the explode into the (doc, term) aggregation — same
    # join-free shape as bm25_index (r15): the former tf⋈doclens join
    # cost a batch-postings doc-key shuffle for a map-side-known value
    tf = (
        toks.select(
            "doc", F.size("tokens").alias("dl"),
            F.explode("tokens").alias("term"),
        )
        .groupBy("doc", "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )
    postings = tf.select("doc", "term", "tf", "dl")
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scalars = doclens.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    # three INDEPENDENT outputs of the one checkpointed toks frame,
    # written concurrently (guide §2.6)
    write_batch(spark, bsub, dict(zip(dirs, (postings, dfreq, scalars))))


def bm25_read_index(spark, index_path: str) -> DataFrame:
    """Reconstruct the :func:`bm25_index`-shaped scoring view from an
    :func:`bm25_index_add`-maintained directory: fold the per-batch df
    deltas (one vocabulary-granularity sum) and scalar rows (a
    batches-count-row sum — exact BIGINT moments, so avgdl is
    bit-identical to the one-shot ``F.avg``: integer-valued doubles sum
    exactly below 2^53), rebuild idf + the epsilon floor through the
    ONE shared spelling (:func:`_idf_with_floor` — the same code path
    :func:`bm25_index` runs, so the two can never drift), and join onto
    the appended postings. Same output schema (doc, term, tf, dl, idf, n_docs,
    avgdl) — ``bm25_score_index`` / ``bm25_topk_set`` consume it
    unchanged, so the scores equal a full one-shot rebuild (the oracle
    contract of the ``bm25_incremental`` entry). Lazy; postings are
    touched only by the downstream query-term join, and the vocabulary
    refold's two consumers run as concurrent broadcast futures in the
    scoring job (see :func:`_idf_with_floor`). The delete
    tombstones are broadcast — they must stay broadcast-sized between
    ``compact_tombstoned`` runs (same caveat as compact_tombstoned's
    own broadcast of dead ids; compaction cadence bounds the set).
    Every directory is read through the shared reader half
    (``io.tables.read_batches``: swap self-heal, recursive listing);
    df/ and scalars/ have a FIXED writer contract, so they are read
    with a fixed schema, while postings/ and deleted/ carry the
    caller's id type and keep inference."""
    from clinical_vector_search_spark.io.tables import read_batches

    postings = read_batches(
        spark, f"{index_path}/postings", tombstones=f"{index_path}/deleted"
    )
    # fold add AND delete deltas; a term whose df reaches 0 has no live
    # postings and must leave the vocabulary, or the epsilon floor's
    # avg(raw_idf) would include phantom terms a true rebuild never sees
    dfreq = (
        read_batches(spark, f"{index_path}/df", "term string, df long")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .filter(F.col("df") > 0)
    )
    stats = (
        read_batches(
            spark, f"{index_path}/scalars", "n_docs long, sum_dl long"
        )
        .agg(
            F.sum("n_docs").alias("_n"),
            F.sum("sum_dl").alias("_sdl"),
        )
        .select(
            F.col("_n").cast("double").alias("n_docs"),
            (F.col("_sdl").cast("double") / F.col("_n").cast("double")).alias(
                "avgdl"
            ),
        )
    )
    return postings.join(_idf_with_floor(dfreq, stats), "term")


def bm25_index_delete(
    spark,
    deleted_docs: DataFrame,
    batch_id: int,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    run_id: str | None = None,
) -> None:
    """Delete half of the BM25 maintenance lifecycle (the takedown path
    a 100 TB corpus needs): remove documents from an
    :func:`bm25_index_add`-maintained index WITHOUT rewriting postings —
    the same additive algebra run in reverse. Delete-by-replay
    contract: the caller supplies the doc rows AS INGESTED (same text);
    the batch then contributes

      ``df/del-{id}``      (term, −df) — NEGATIVE term doc-counts;
      ``scalars/del-{id}`` (−n_docs, −sum_dl) — negative exact ints;
      ``deleted/del-{id}`` (doc,)     — tombstones for the postings.

    :func:`bm25_read_index` folds the negative deltas into the same
    vocabulary-granularity sums (dropping terms whose df reaches 0, so
    the epsilon-floor vocabulary matches a true rebuild) and anti-joins
    the broadcast tombstones — the reconstructed view is value-identical
    to a one-shot :func:`bm25_index` over the surviving corpus
    (tests/test_bm25.py). Physical erasure of tombstoned postings
    happens at the next compaction (rewrite minus tombstones, then
    clear ``deleted/``), exactly like ``pq.ivfpq_index_delete``.
    Idempotent THREE ways: (a) batch-id overwrite of its own
    ``del-{id}`` subdirectories (the shared sink half; a redelivery
    after ``compact_batched`` is refused — it would double-SUBTRACT);
    (b) re-deleting an ALREADY-DELETED doc under a fresh batch id is a
    no-op, not a silent double-subtract: the batch is anti-joined
    against the existing ``deleted/`` tombstones (broadcast — the
    accumulated tombstone set since the last ``compact_tombstoned``,
    which must therefore stay broadcast-sized between compactions,
    compaction cadence bounds it; without the fence the df/n_docs/
    sum_dl deltas of a twice-deleted doc would drift idf/avgdl — see
    ``io.tables.fence_redeletes``, which also keeps a retry from
    anti-joining itself away); (c) duplicate rows of one doc WITHIN a batch
    collapse to one. The one unfenceable window: after
    ``compact_tombstoned`` clears ``deleted/``, a replayed delete of a
    physically erased doc is indistinguishable from deleting a
    never-ingested doc — which the replay contract already forbids."""
    from clinical_vector_search_spark.io.tables import (
        fence_redeletes,
        open_batch,
        write_batch,
    )

    dirs = [f"{index_path}/{s}" for s in ("df", "scalars", "deleted")]
    dsub = open_batch(spark, "del", run_id, batch_id, dirs)
    batch = fence_redeletes(
        spark, deleted_docs.dropDuplicates([id_col]), dirs[2], dsub, id_col
    )
    toks = batch.select(
        F.col(id_col).alias("doc"), TXT.tokenize(text_col).alias("tokens")
    ).localCheckpoint()  # consumed by df, scalars and tombstones
    tf = (
        toks.select("doc", F.explode("tokens").alias("term"))
        .groupBy("doc", "term")
        .agg(F.count("*").alias("tf"))
    )
    neg_df = tf.groupBy("term").agg((-F.count("*")).alias("df"))
    neg_scalars = toks.select("doc", F.size("tokens").alias("dl")).agg(
        (-F.count("*")).alias("n_docs"), (-F.sum("dl")).alias("sum_dl")
    )
    tomb = toks.select("doc").distinct()
    write_batch(spark, dsub, dict(zip(dirs, (neg_df, neg_scalars, tomb))))
