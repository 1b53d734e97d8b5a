"""kNN properties: self-retrieval, cross-strategy parity, LSH recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_vector_search_spark.functions import vector as V
from clinical_vector_search_spark.operators.knn import knn, knn_l2, knn_lsh

DIM = 64


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(
            F.col("vec_id").alias("doc_id"),
            V.l2_normalize("embedding").alias("embedding"),
        )
        .cache()
    )


@pytest.fixture(scope="module")
def queries(corpus):
    return corpus.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


def test_self_top1(corpus, queries):
    """kNN top-1 of a corpus vector is itself with score ≈ 1 (SURVEY §5)."""
    res = knn(queries, corpus, 3).filter(F.col("rank") == 1).collect()
    assert len(res) == 5
    for r in res:
        assert r.doc_id == r.query_id
        assert abs(r.score - 1.0) < 1e-6


def test_strategies_identical(corpus, queries):
    """partial_topk (mapInPandas merge) ≡ window (crossJoin) bit-for-bit."""
    a = sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in knn(queries, corpus, 10, strategy="partial_topk").collect()
    )
    b = sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in knn(queries, corpus, 10, strategy="window").collect()
    )
    assert a == b


def test_k_larger_than_corpus(spark):
    docs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "doc_id long, embedding array<double>"
    )
    q = spark.createDataFrame(
        [(7, [1.0, 0.0])], "query_id long, query_vec array<double>"
    )
    res = knn(q, docs, 10).collect()
    assert len(res) == 2  # clamped to corpus size


def test_lsh_recall_vs_exact(corpus, queries):
    """V5 contract: recall vs exact, not id parity (SURVEY §7a)."""
    k = 10
    exact = {
        (r.query_id, r.doc_id) for r in knn(queries, corpus, k).collect()
    }
    approx = {
        (r.query_id, r.doc_id)
        for r in knn_lsh(queries, corpus, k, dim=DIM, n_planes=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # 4 planes / 16 buckets on 500 random docs: self-match must survive
    # (same vector → same bucket) so recall is strictly positive
    assert recall > 0.05
    # every query's self-match is in its own bucket
    selfs = {(r, r) for r in range(5)}
    assert selfs <= approx

def test_knn_l2_matches_ip_on_normalized_vectors(spark, sf_dir):
    """On L2-normalized vectors, ascending-L2 and descending-IP rankings
    must agree (L2^2 = 2 - 2cos); on raw vectors they may differ."""
    from clinical_vector_search_spark.functions import vector as V
    from clinical_vector_search_spark.operators.knn import knn, knn_l2

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", V.l2_normalize("embedding").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    d = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    ip = {(r.query_id, r.rank): r.doc_id for r in knn(q, d, 10).collect()}
    l2 = {(r.query_id, r.rank): r.doc_id for r in knn_l2(q, d, 10).collect()}
    assert ip == l2 and len(ip) == 30

def test_knn_l2_strategies_agree(spark, sf_dir):
    """L2 window and partial_topk strategies must produce identical
    rankings and (rescored) distances on raw embeddings."""
    from clinical_vector_search_spark.operators.knn import knn_l2

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    d = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    a = sorted(tuple(r) for r in knn_l2(q, d, 10, strategy="window").collect())
    b = sorted(
        tuple(r) for r in knn_l2(q, d, 10, strategy="partial_topk").collect()
    )
    assert a == b and len(a) == 40


def test_range_search_broadcast_guard_fallback(spark, sf_dir, monkeypatch):
    """The broadcast bound is enforced: above RANGE_BROADCAST_MAX_QUERIES
    the plan must switch to the partitioned cartesian (no broadcast of
    the query batch) and return IDENTICAL results."""
    import clinical_vector_search_spark.operators.knn as knn_mod
    from clinical_vector_search_spark.functions import vector as V

    vecs = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", V.l2_normalize("embedding").alias("embedding"))
    )
    q = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    base = {
        (r.query_id, r.vec_id, round(r.score, 9))
        for r in knn_mod.range_search(
            q, vecs, 0.2, doc_id="vec_id"
        ).collect()
    }
    monkeypatch.setattr(knn_mod, "RANGE_BROADCAST_MAX_QUERIES", 2)
    # at test scale Catalyst would still auto-broadcast the tiny query
    # frame; disable that to see the plan a >10MB query batch would get
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fb = knn_mod.range_search(q, vecs, 0.2, doc_id="vec_id")
        plan = fb._sc._jvm.PythonSQLUtils.explainString(
            fb._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastNestedLoopJoin" not in plan  # fallback taken
        assert "CartesianProduct" in plan
        got = {
            (r.query_id, r.vec_id, round(r.score, 9))
            for r in fb.collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert got == base and len(base) > 0


@pytest.mark.parametrize("op", [knn, knn_l2], ids=["knn", "knn_l2"])
def test_partial_topk_rejects_oversized_query_frame(spark, op):
    """partial_topk collects the query side to the driver: a frame above
    100 000 rows raises ValueError at plan build instead of collecting
    unbounded."""
    docs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "doc_id long, embedding array<double>",
    )
    queries = spark.range(100_001).select(
        F.col("id").alias("query_id"),
        F.array_repeat(F.lit(0.0), 2).alias("query_vec"),
    )
    with pytest.raises(ValueError, match="100000"):
        op(queries, docs, 1, strategy="partial_topk")
