"""Sparse TF-IDF cosine retrieval — the inverted-index twin of the dense
ANN family (operators/knn.py) and the cosine twin of BM25
(operators/bm25.py; reference scores rank_bm25 at src/pipeline/
pipeline.py:171-175 — this module covers the classic tf-idf VSM scoring
the same retrieval stacks ship beside it).

Why a separate operator when dense kNN exists: at 100 TB the sparse
formulation never materializes a dense vector per document — scoring is
a posting-list equi-join on ``term`` (only terms the query mentions are
touched), one (query, doc) aggregation, and a windowed top-k. Query
volume scales by broadcasting the (query_id, term, weight) frame, or
past broadcast size by letting the term join shuffle — both shapes are
plain hash joins Catalyst already optimizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clinical_vector_search_spark.functions import text as TXT


def tfidf_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Posting-list index: one row per (doc, term) with
    (tf, idf, w = tf·idf).

    idf = ln(n_docs / df) — the plain VSM formulation (SQL-mirrorable;
    df ≥ 1 for every indexed term so the log argument is ≥ 1 whenever
    the term exists). Lazy plan, no driver actions; cache to amortize
    across query batches (same lifecycle as bm25_index).

    Deliberately does NOT carry the doc norm: joining norms onto every
    posting row costs a postings-wide doc-key shuffle that scoring then
    throws away (only query-term postings survive the match). Norms
    live in the doc-granularity :func:`tfidf_doc_norms` frame and join
    AFTER the (query, doc) aggregation — measured ~2× off this
    operator's bench time at sf0.1."""
    toks = docs.select(
        F.col(id_col).alias("doc"), TXT.tokenize(text_col).alias("tokens")
    )
    terms = toks.select("doc", F.explode("tokens").alias("term"))
    tf = terms.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = toks.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    idf_tbl = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "term", F.log(F.col("n_docs") / F.col("df")).alias("idf")
    )
    return tf.join(idf_tbl, "term").withColumn(
        "w", F.col("tf") * F.col("idf")
    )


def tfidf_doc_norms(index: DataFrame) -> DataFrame:
    """(doc, norm = ||doc tf-idf vector||₂) from the posting index —
    one doc-key aggregate, built once per index lifecycle."""
    return index.groupBy("doc").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )


def tfidf_cosine_topk(
    index: DataFrame,
    query_terms: DataFrame,
    k: int,
    round_to: int = 6,
    norms: DataFrame | None = None,
    idf_tbl: DataFrame | None = None,
) -> DataFrame:
    """Top-k docs per query by tf-idf cosine over the posting lists:
    (query_id, rank, doc_id, score). ``query_terms`` is a
    (query_id, term, qtf) frame — DataFrame-native so upstream query
    tokenization stays in the plan (same scale contract as
    bm25_topk_set_df).

    Query weights use the INDEX idf (qw = qtf·idf); out-of-vocabulary
    query terms contribute nothing — including to the query norm — the
    standard VSM treatment (an OOV term has no defined idf). Docs with
    zero term overlap are excluded (they can never outrank a match and
    materializing them is the crossJoin this plan avoids).

    Scores are rounded to ``round_to`` BEFORE ranking: the (query, doc)
    group-sum reassociates across engines/runs, and an ulp difference
    at the top-k cut would flip the doc-id tie-break (same contract as
    bm25_topk_set round_to).

    Zero-norm sides are EXCLUDED before the division (ANSI mode would
    raise): a document composed entirely of corpus-universal terms
    (every idf 0) or a query whose in-vocabulary terms all have idf 0
    has no direction in VSM space — its cosine is undefined, not 0.

    ``norms`` / ``idf_tbl`` let a serving layer hand in the two
    index-lifecycle side frames — (doc, norm>0) from
    :func:`tfidf_doc_norms` and the distinct (term, idf) table — built
    (and cached) ONCE per index instead of re-derived from the postings
    on every query batch. Scoring then scans the postings exactly once
    (the term match); values are identical by construction (r15
    measured warm 2.26 s → 1.6 s at sf0.1 with both cached)."""
    # idf lookup for QUERY terms only: semi-filter the postings by a
    # broadcast of the (small) query term set BEFORE the distinct — a
    # distinct over the full posting list would shuffle vocabulary-
    # granularity rows to answer a |q|-term question (measured ~2x off
    # this operator's bench time at sf0.1)
    qterms = query_terms.select("term").distinct()
    if idf_tbl is not None:
        vocab_idf = idf_tbl.join(F.broadcast(qterms), "term").select(
            "term", "idf"
        )
    else:
        vocab_idf = (
            index.join(F.broadcast(qterms), "term")
            .select("term", "idf")
            .distinct()
        )
    qw = query_terms.join(F.broadcast(vocab_idf), "term").select(
        "query_id", "term", (F.col("qtf") * F.col("idf")).alias("qw")
    )
    qnorm = qw.groupBy("query_id").agg(
        F.sqrt(F.sum(F.col("qw") * F.col("qw"))).alias("qnorm")
    )
    qside = F.broadcast(
        qw.join(qnorm, "query_id").filter(F.col("qnorm") > 0)
    )
    # one exchange for BOTH the (query_id, doc) aggregation and the
    # final windowed top-k: hash-partitioning by query_id satisfies the
    # groupBy's ClusteredDistribution (its keys are a superset) AND the
    # window's partitionBy — the same single-shuffle spelling as
    # bm25_topk_set_df (r15; previously agg and window each paid one).
    # SERVING-path only (norms/idf_tbl handed in — the shape it was
    # measured on): partitioning by query_id alone caps aggregation
    # parallelism at |queries|, wrong for the default path's few-queries-
    # over-huge-corpus case (ADVICE r15) — there the (query_id, doc) agg
    # keeps full hash parallelism and the window pays its own exchange
    matched = index.join(qside, "term")
    if norms is not None or idf_tbl is not None:
        matched = matched.repartition("query_id")
    dots = (
        matched
        .groupBy("query_id", "doc")
        .agg(
            F.sum(F.col("w") * F.col("qw")).alias("_dot"),
            F.first("qnorm").alias("qnorm"),
        )
    )
    # norms join AFTER aggregation: (query, doc) granularity rows meet
    # the doc-granularity norm frame — never the full posting list
    if norms is None:
        norms = tfidf_doc_norms(index).filter(F.col("norm") > 0)
    scored = (
        dots.join(norms, "doc")
        .select(
            "query_id",
            "doc",
            F.round(
                F.col("_dot") / (F.col("norm") * F.col("qnorm")), round_to
            ).alias("score"),
        )
    )
    win = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", F.col("doc").alias("doc_id"), "score"
        )
    )


def tfidf_index_add(
    spark,
    new_docs: DataFrame,
    batch_id: int,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    run_id: str | None = None,
) -> None:
    """Incremental TF-IDF index maintenance — the VSM twin of
    ``bm25.bm25_index_add`` (r12 verdict task 7): fold a batch of NEW
    documents into a persisted index with cost ∝ batch, never
    rescanning or rewriting old postings. (The reference rebuilds its
    lexical scorer from scratch per query, src/pipeline/
    pipeline.py:166-176; a per-ingest full rebuild repeats that flaw at
    corpus scale — same motivation as the BM25 lifecycle.) The persisted state is
    ADDITIVE SUFFICIENT STATISTICS, not the scoring view — idf changes
    with every ingest (n_docs and df both move), so baking ``w = tf·idf``
    into posting rows would force a corpus-wide rewrite per batch:

      ``postings/batch-N``  (doc, term, tf) — per-doc, immutable;
      ``df/batch-N``        (term, df)      — additive because each doc
                            arrives in exactly ONE batch (append-only
                            corpus contract; updates go through a
                            dedup/delete pass first);
      ``scalars/batch-N``   (n_docs,)       — one exact-integer row.

    :func:`tfidf_read_index` refolds idf at vocabulary granularity.
    Storage is the shared sink half (``io.tables.open_batch`` /
    ``write_batch``), as for the BM25 twin."""
    from clinical_vector_search_spark.io.tables import open_batch, write_batch

    dirs = [f"{index_path}/{s}" for s in ("postings", "df", "scalars")]
    bsub = open_batch(spark, "batch", run_id, batch_id, dirs)
    toks = new_docs.select(
        F.col(id_col).alias("doc"), TXT.tokenize(text_col).alias("tokens")
    ).localCheckpoint()  # consumed by postings, df and scalars
    tf = (
        toks.select("doc", F.explode("tokens").alias("term"))
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scalars = toks.agg(F.count(F.lit(1)).alias("n_docs"))
    write_batch(spark, bsub, dict(zip(dirs, (tf, dfreq, scalars))))


def tfidf_index_delete(
    spark,
    deleted_docs: DataFrame,
    batch_id: int,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    run_id: str | None = None,
) -> None:
    """Delete half of the TF-IDF maintenance lifecycle — the same
    delete-by-replay algebra as ``bm25.bm25_index_delete`` run over the
    VSM statistics: the caller supplies the doc rows AS INGESTED, and
    the batch contributes ``df/del-N`` (term, −df), ``scalars/del-N``
    (−n_docs) and ``deleted/del-N`` (doc,) tombstones; postings files
    are untouched (physical erasure happens at the next
    ``compact_tombstoned``). Idempotent the same three ways: batch-id
    overwrite (the shared sink half); re-deleting an ALREADY-deleted
    doc is a fenced no-op (``io.tables.fence_redeletes``);
    within-batch duplicates collapse. The one unfenceable window — same
    as the BM25 twin: after ``compact_tombstoned`` clears ``deleted/``,
    a replayed delete of a physically erased doc is indistinguishable
    from deleting a never-ingested doc (it would double-subtract
    df/n_docs), which the delete-by-replay contract already forbids —
    deletes must not be replayed across a compaction boundary."""
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
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    neg_df = tf.groupBy("term").agg((-F.count(F.lit(1))).alias("df"))
    neg_scalars = toks.agg((-F.count(F.lit(1))).alias("n_docs"))
    tomb = toks.select("doc").distinct()
    write_batch(spark, dsub, dict(zip(dirs, (neg_df, neg_scalars, tomb))))


def tfidf_read_index(spark, index_path: str) -> DataFrame:
    """Reconstruct the :func:`tfidf_index`-shaped view (doc, term, tf,
    idf, w) from a :func:`tfidf_index_add`-maintained directory: fold
    the per-batch df deltas and n_docs scalars (exact integer sums —
    each doc lives in exactly one batch, so the folded statistics equal
    the one-shot build's), anti-join the broadcast delete tombstones,
    drop terms whose df reached 0 (their vocabulary entry must vanish
    exactly as a one-shot build over survivors never sees them), and
    refold ``idf = ln(n_docs/df)`` at vocabulary granularity. The
    output is value-identical to ``tfidf_index`` over the surviving
    corpus, so :func:`tfidf_doc_norms` / :func:`tfidf_cosine_topk`
    consume it unchanged. Lazy; postings are touched only by the
    downstream query-term join. Every directory goes through the shared
    reader half (``io.tables.read_batches``), the fixed-contract stat
    directories with a fixed schema (see the bm25 twin)."""
    from clinical_vector_search_spark.io.tables import read_batches

    postings = read_batches(
        spark, f"{index_path}/postings", tombstones=f"{index_path}/deleted"
    )
    dfreq = (
        read_batches(spark, f"{index_path}/df", "term string, df long")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .filter(F.col("df") > 0)
    )
    n_docs = read_batches(spark, f"{index_path}/scalars", "n_docs long").agg(
        F.sum("n_docs").cast("double").alias("n_docs")
    )
    idf_tbl = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "term", F.log(F.col("n_docs") / F.col("df")).alias("idf")
    )
    return postings.join(idf_tbl, "term").withColumn(
        "w", F.col("tf") * F.col("idf")
    )


def trigram_postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character-trigram posting list (pg_trgm style): one row per
    (doc, DISTINCT lowercase trigram). The index that turns substring /
    fuzzy search from a full corpus scan into a posting intersection —
    the character-level sibling of the tf-idf term postings above.
    Expression-level (transform over an index sequence, no UDF); docs
    shorter than 3 chars contribute nothing (CASE-guarded: Spark's
    sequence(1, 0) would DESCEND, not return empty)."""
    grams = F.expr(
        f"CASE WHEN length(lower({text_col})) >= 3 THEN "
        f"array_distinct(transform(sequence(1, length(lower({text_col})) - 2), "
        f"i -> substring(lower({text_col}), i, 3))) "
        "ELSE array() END"
    )
    return docs.select(F.col(id_col), F.explode(grams).alias("trigram"))


def trigram_search(
    postings: DataFrame,
    docs: DataFrame,
    pattern: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring search through the trigram index: candidates are docs
    whose postings contain ALL of the pattern's trigrams (a doc
    containing the substring necessarily contains every one — pruning
    is lossless), verified with an exact ``contains`` on the candidate
    set only.

    Scale shape: the pattern's trigrams are a literal IN-list pushed to
    the postings scan; the intersection is one count-distinct agg at
    candidate granularity; the expensive exact contains touches ONLY
    candidates (semi-join), never the corpus. Patterns shorter than 3
    chars have no trigrams — callers fall back to a scan (raised)."""
    p = pattern.lower()
    pats = sorted({p[i:i + 3] for i in range(len(p) - 2)})
    if not pats:
        raise ValueError("pattern must be >= 3 chars for trigram search")
    cand = (
        postings.filter(F.col("trigram").isin(pats))
        .groupBy(id_col)
        .agg(F.countDistinct("trigram").alias("_m"))
        .filter(F.col("_m") == len(pats))
        .select(id_col)
    )
    return docs.join(cand, id_col, "left_semi").filter(
        F.contains(F.lower(F.col(text_col)), F.lit(p))
    )


def trigram_index_add(
    spark,
    new_docs: DataFrame,
    batch_id: int,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    run_id: str | None = None,
) -> None:
    """Incremental trigram-index maintenance — the fourth maintained
    index on the shared lifecycle protocol (r14; the parameterized
    contract suite in tests/test_maintained_index.py gave it the full
    add/delete/compact/stream ladder by writing one kit). Structurally
    the SIMPLEST member: :func:`trigram_postings` rows are per-doc facts
    with no corpus-global statistics at all (no df, no scalars — the
    search intersects posting sets, it never folds idf), so the state
    is one directory of immutable per-batch postings plus tombstones:

      ``postings/batch-N``  (doc, trigram) — per-doc, immutable.

    Cost ∝ batch (one map-side explode of the batch — zero joins, zero
    corpus rescan); storage is the shared sink half
    (``io.tables.open_batch`` / ``write_batch``)."""
    from clinical_vector_search_spark.io.tables import open_batch, write_batch

    postings = f"{index_path}/postings"
    bsub = open_batch(spark, "batch", run_id, batch_id, [postings])
    grams = trigram_postings(new_docs, text_col, id_col).select(
        F.col(id_col).alias("doc"), "trigram"
    )
    write_batch(spark, bsub, {postings: grams})


def trigram_index_delete(
    spark,
    deleted_ids: DataFrame,
    batch_id: int,
    index_path: str,
    id_col: str = "doc_id",
    run_id: str | None = None,
) -> None:
    """Delete half of the trigram lifecycle: ids are TOMBSTONED
    (``deleted/del-N``) and filtered out at read time by a broadcast
    anti-join; postings are never rewritten (physical erasure happens
    at the next ``io.tables.compact_tombstoned`` over
    ``postings``/``deleted``). Because the index keeps NO corpus-global
    statistics, deletes need only ids — no delete-by-replay of the doc
    text, no negative deltas, and re-deleting an already-deleted doc is
    inherently a no-op (a duplicate tombstone row changes nothing) —
    the degenerate, and therefore simplest, instance of the shared
    protocol."""
    from clinical_vector_search_spark.io.tables import open_batch, write_batch

    deleted = f"{index_path}/deleted"
    dsub = open_batch(spark, "del", run_id, batch_id, [deleted])
    tomb = deleted_ids.select(F.col(id_col).alias("doc")).distinct()
    write_batch(spark, dsub, {deleted: tomb})


def trigram_read_index(spark, index_path: str, id_col: str = "doc_id"):
    """Read a maintained trigram index back as the
    :func:`trigram_postings`-shaped frame (``id_col``, trigram):
    the shared reader half (``io.tables.read_batches``: mid-swap
    self-heal, recursive postings scan, broadcast tombstone anti-join)
    — :func:`trigram_search` consumes it unchanged."""
    from clinical_vector_search_spark.io.tables import read_batches

    postings = read_batches(
        spark, f"{index_path}/postings", tombstones=f"{index_path}/deleted"
    )
    return postings.select(F.col("doc").alias(id_col), "trigram")
