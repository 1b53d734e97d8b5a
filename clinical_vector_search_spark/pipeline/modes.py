"""End-to-end mode entry points (SURVEY.md §3; reference src/main.py:8-46
dispatching baseline/dp/fhe/rag via src/pipeline/pipeline_mode.py).

Each mode is one callable over the driver testdata layout: documents
(doc_id, text, ...) + embeddings (vec_id, embedding, ...). The reference's
positional FAISS-id identity becomes the explicit doc_id == vec_id key the
testdata ships.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_vector_search_spark.functions import text as TXT
from clinical_vector_search_spark.functions import vector as V
from clinical_vector_search_spark.io.tables import read_table
from clinical_vector_search_spark.operators.knn import knn
from clinical_vector_search_spark.pipeline.dp import build_dp_index_pd, dp_query_vec
from clinical_vector_search_spark.pipeline.embedding import hash_embed, hash_embed_pd
from clinical_vector_search_spark.pipeline.rag import rag_pipeline
from clinical_vector_search_spark.plan_cache import (
    begin_build,
    end_build,
    tracked_cache as _tracked_cache,
    unpersist_all,
)

# Prepared-plan cache: mode DataFrames are immutable lazy plans, and
# BUILDING one costs real driver time (~0.9 s for rag_mode — ~2k py4j
# round-trips of expression construction + eager parquet-footer analysis)
# while RE-EXECUTING an already-analyzed plan costs ~0.2 s. A serving
# layer holds the plan and re-executes per request (the prepared-statement
# lifecycle), so the mode entry points do the same, keyed by Spark
# application id + every argument. Caveats: a plan binds its parquet file
# listing at read time, so a directory whose FILES change needs a fresh
# session (testdata is immutable per run); and the dict is FIFO-bounded so
# a long-lived server sweeping many distinct arg tuples can't grow the
# driver without limit. Each entry owns the .cache() handles its build
# created (registered via _tracked_cache), and eviction unpersists them —
# without that, MEMORY_AND_DISK blocks evicted from storage memory would
# spill to executor DISK and stay there until app exit, an unbounded leak
# on a long-lived server sweeping many distinct arg tuples.
_PLAN_CACHE: dict[tuple, tuple[DataFrame, list[DataFrame]]] = {}
_PLAN_CACHE_MAX = 64
_PLAN_LOCK = threading.Lock()


def _cached_plan(spark: SparkSession, key: tuple, build) -> DataFrame:
    full_key = (spark.sparkContext.applicationId, *key)
    with _PLAN_LOCK:
        hit = _PLAN_CACHE.get(full_key)
    if hit is None:
        # Build outside the lock (expensive; handle registry is
        # thread-local so concurrent builds can't interleave).
        begin_build()
        try:
            df = build()
        except BaseException:
            unpersist_all(end_build())
            raise
        handles = end_build()
        with _PLAN_LOCK:
            hit = _PLAN_CACHE.get(full_key)
            if hit is not None:
                # Lost the race: another thread cached this key first.
                # Drop OUR handles; theirs stay owned by the entry.
                evict = [handles]
            else:
                evict = []
                while len(_PLAN_CACHE) >= _PLAN_CACHE_MAX:
                    _, old = _PLAN_CACHE.pop(next(iter(_PLAN_CACHE)))
                    evict.append(old)
                _PLAN_CACHE[full_key] = (df, handles)
                hit = (df, handles)
        for old in evict:
            unpersist_all(old)
    return hit[0]


def load_corpus(
    spark: SparkSession, sf_dir: str, cache: bool = True
) -> tuple[DataFrame, DataFrame]:
    """documents + normalized embeddings (doc_id-keyed) from testdata.

    The normalized corpus is cached by default: every mode reads it at
    least twice (query side + index side), and "the index is built once
    and queried many times" is the reference's own lifecycle (FAISS file,
    pipeline.py:134). Spark's CacheManager dedups by canonicalized plan,
    so repeated mode calls share one materialization. At 100 TB the same
    role is played by persisting the normalized table (io.tables.
    build_vector_index); cache=False opts out for one-shot scans.
    """
    docs = read_table(spark, sf_dir, "documents")
    vecs = (
        read_table(spark, sf_dir, "embeddings")
        .select(
            F.col("vec_id").alias("doc_id"),
            V.l2_normalize("embedding").alias("embedding"),
        )
    )
    if cache:
        vecs = _tracked_cache(vecs)
    return docs, vecs


def make_queries(vecs: DataFrame, n: int = 10) -> DataFrame:
    """Deterministic query set: the first ``n`` corpus vectors
    (query_id = doc_id). Self-retrieval is the reference's own sanity
    check: top-1 of each query must be itself with score ≈ 1."""
    return vecs.filter(F.col("doc_id") < n).select(
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def baseline_mode(
    spark: SparkSession, sf_dir: str, k: int = 10, n_queries: int = 10
) -> DataFrame:
    """Reference baseline mode (pipeline_mode.py:32-49): exact kNN over the
    normalized corpus, join-back to documents, snippet projection (P9/S9).
    Returns (query_id, rank, doc_id, score, snippet) as a prepared plan
    (see _PLAN_CACHE)."""

    def build() -> DataFrame:
        docs, vecs = load_corpus(spark, sf_dir)
        queries = make_queries(vecs, n_queries)
        results = knn(queries, vecs, k)
        return (
            results.join(docs.select("doc_id", "text"), "doc_id")
            .select(
                "query_id",
                "rank",
                "doc_id",
                F.round("score", 6).alias("score"),
                TXT.snippet("text", 200).alias("snippet"),
            )
            # top-k output is ≤ n_queries·k rows BY CONSTRUCTION: a
            # global orderBy would run the range-partitioner SAMPLING
            # job + a range exchange just to order ~100 rows; one
            # single-partition exchange + local sort is the same total
            # order with one fewer job (measured ~50-100ms off the
            # warm floor). Never do this to an unbounded result.
            .repartition(1)
            .sortWithinPartitions("query_id", "rank")
        )

    return _cached_plan(spark, ("baseline", sf_dir, k, n_queries), build)


def embed_mode(
    spark: SparkSession, sf_dir: str, dim: int = 64, k: int = 10, n_queries: int = 10
) -> DataFrame:
    """Text→vector→kNN end-to-end: hash-embed the documents table (V1
    fallback encoder), then self-query the first n docs' embeddings."""
    docs = read_table(spark, sf_dir, "documents")
    vecs = hash_embed(docs, dim).cache()  # normalized; read by both kNN sides
    queries = vecs.filter(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return knn(queries, vecs, k)


def dp_mode(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    n_queries: int = 10,
    sigma: float = 0.15,
    attr_dim: int = 64,
) -> DataFrame:
    """DP mode (pipeline_mode.py:56-113): attribute sentence → hash-embed →
    noised 0.3-weighted concat with 0.7-weighted text vec → kNN with
    zero-padded queries.

    The embed and index-build stages are Arrow-batched numpy kernels —
    the reference's own model-per-executor shape (embedding.py:31-41);
    the ``evaluation_metrics`` entry hash-checks the top-k against the
    DuckDB oracle. Returns a prepared plan (see _PLAN_CACHE)."""

    def build() -> DataFrame:
        docs, vecs = load_corpus(spark, sf_dir)
        attrs = docs.select(
            "doc_id", TXT.attr_sentence("lang", "source").alias("attr_text")
        )
        attr_vecs = hash_embed_pd(attrs, attr_dim, text_col="attr_text")
        joined = vecs.join(
            attr_vecs.select("doc_id", F.col("embedding").alias("attr_vec")),
            "doc_id",
        )
        # cached: the noised index is the reusable artifact (built once,
        # queried per query set — reference builds its DP FAISS index once,
        # pipeline_mode.py:87-91); kNN's rescore join reads it twice
        dp_index = _tracked_cache(build_dp_index_pd(
            joined, "embedding", "attr_vec", "doc_id", sigma=sigma
        ))
        queries = make_queries(vecs, n_queries)
        dp_q = dp_query_vec(queries, "query_vec", attr_dim)
        return knn(
            dp_q.select("query_id", F.col("dp_query_vec").alias("query_vec")),
            dp_index.select("doc_id", F.col("dp_vec").alias("embedding")),
            k,
        )

    return _cached_plan(
        spark, ("dp", sf_dir, k, n_queries, sigma, attr_dim), build
    )


def fhe_mode(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_queries: int = 5,
    out_dim: int = 16,
    subset_n: int = 300,
) -> DataFrame:
    """FHE mode (pipeline_mode.py:120-191): deterministic subset → random
    projection → re-normalize → (encrypted-or-plaintext) kNN. The scoring
    is plaintext here (TenSEAL absent — SURVEY §7b); the ranking contract
    is identical either way per the reference's own overlap criterion."""
    from clinical_vector_search_spark.pipeline.fhe import encrypted_topk_demo

    vecs = read_table(spark, sf_dir, "embeddings")
    queries = vecs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return encrypted_topk_demo(
        queries, vecs, k, in_dim=64, out_dim=out_dim, subset_n=subset_n
    )


def rag_mode(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    n_queries: int = 5,
    candidate_k: int = 40,
    bm25_topk: int = 40,
    lam: float = 0.5,
) -> DataFrame:
    """RAG mode (pipeline_mode.py:198-264): hybrid kNN ∪ BM25 → MMR.
    Query text = the query doc's own text (self-retrieval setup).
    Returns a prepared plan (see _PLAN_CACHE): identical invocations
    reuse the analyzed DataFrame and only re-execute."""

    def build() -> DataFrame:
        docs, vecs = load_corpus(spark, sf_dir)
        # cached: the query batch feeds THREE plan consumers (kNN query
        # side, query tokenization, the MMR gather broadcast) — without the
        # cache each re-runs the filter+join subplan. A query batch is
        # bounded by construction, so this holds at any corpus scale.
        queries = (
            vecs.filter(F.col("doc_id") < n_queries)
            .join(
                docs.select("doc_id", F.col("text").alias("query_text")),
                "doc_id",
            )
            .select(
                F.col("doc_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
                "query_text",
            )
        )
        queries = _tracked_cache(queries)
        return rag_pipeline(queries, vecs, docs, k, candidate_k, bm25_topk, lam)

    return _cached_plan(
        spark,
        ("rag", sf_dir, k, n_queries, candidate_k, bm25_topk, lam),
        build,
    )
