"""Pipeline-level tests: document clean/dedup plan shape, DP index
semantics, RAG composition, evaluation harness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_vector_search_spark.functions import vector as V
from clinical_vector_search_spark.pipeline.documents import (
    clean_documents,
    normalize_headers,
    require_columns,
)
from clinical_vector_search_spark.pipeline.dp import build_dp_index_pd, dp_query_vec
from clinical_vector_search_spark.pipeline.evaluate import (
    evaluate_modes,
    mean_metrics,
    run_timed,
)
from clinical_vector_search_spark.pipeline.modes import (
    baseline_mode,
    dp_mode,
    rag_mode,
)


def test_csv_multiline_roundtrip(spark, tmp_path):
    """S1 semantics: header CSV with quoted multi-line fields (the
    MTSamples shape — transcriptions contain newlines inside quotes)."""
    import csv

    from clinical_vector_search_spark.pipeline.documents import read_csv

    p = tmp_path / "docs.csv"
    rows = [
        {"Name": "A", "transcription": "line one\nline two, with comma"},
        {"Name": "B", "transcription": 'quote " inside'},
    ]
    with open(p, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=["Name", "transcription"])
        w.writeheader()
        w.writerows(rows)
    df = read_csv(spark, str(p))
    got = {r.Name: r.transcription for r in df.collect()}
    assert got["A"] == "line one\nline two, with comma"
    assert got["B"] == 'quote " inside'


def test_load_mtsamples_full_path(spark, tmp_path):
    """P1+P7+P2-P6 composed over a synthetic MTSamples-shaped CSV."""
    import csv

    from clinical_vector_search_spark.pipeline.documents import load_mtsamples

    p = tmp_path / "mts.csv"
    cols = ["Name", "Gender", "Age", "City", "medical_specialty",
            "transcription"]
    with open(p, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=cols)
        w.writeheader()
        w.writerow({"Name": "n1", "Gender": "F", "Age": "40", "City": "X",
                    "medical_specialty": "Cardio", "transcription": "t  one"})
        w.writerow({"Name": "n2", "Gender": "M", "Age": "50", "City": "Y",
                    "medical_specialty": None, "transcription": "t one"})
        w.writerow({"Name": "n3", "Gender": "F", "Age": "60", "City": "Z",
                    "medical_specialty": "Cardio", "transcription": None})
    out = load_mtsamples(spark, str(p)).collect()
    # row 3 null-dropped; rows 1-2 differ after specialty concat (one has
    # 'Cardio, ', the other not) so both survive dedup
    texts = sorted(r.text for r in out)
    assert texts == ["Cardio, t one", "t one"]
    assert all(r.doc_id is not None for r in out)


def test_clean_documents_dedup_and_ids(spark):
    rows = [
        ("same  text\r\nhere", "en"),
        ("same text here", "en"),  # dup after cleaning
        ("different text", "de"),
        (None, "fr"),  # null-dropped
    ]
    df = spark.createDataFrame(rows, "text string, lang string")
    out = clean_documents(df)
    got = out.collect()
    assert len(got) == 2
    assert all(r.doc_id is not None for r in got)


def test_clean_documents_no_single_partition_exchange(spark):
    """VERDICT What's-wrong #3: no unpartitioned global window in the plan."""
    df = spark.createDataFrame([("abc def", "en")], "text string, lang string")
    plan = clean_documents(df)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_require_columns_fails_fast(spark):
    df = spark.createDataFrame([(1,)], "a long")
    with pytest.raises(ValueError, match="missing required columns"):
        require_columns(df, ["a", "b"])
    df2 = normalize_headers(spark.createDataFrame([(1, 2)], "A long, B long"))
    assert require_columns(df2, ["a", "b"]) is df2


def test_dp_index_noise_quality_and_norm(spark, sf_dir):
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    joined = vecs.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding"),
        F.col("embedding").alias("attr_vec"),
    )
    out = build_dp_index_pd(joined, "embedding", "attr_vec", "doc_id", sigma=0.15)
    rows = out.select("noise_cosine", V.l2_norm("dp_vec").alias("n")).collect()
    for r in rows:
        # σ=0.15 uniform noise over 64 dims → noise norm ≈ 0.69 on a unit
        # vector → cosine ≈ 1/sqrt(1.48) ≈ 0.82 ± spread
        assert 0.6 < r.noise_cosine <= 1.0
        assert abs(r.n - 1.0) < 1e-8  # dp_vec re-normalized


def test_dp_index_pd_parity(spark, sf_dir):
    """The numpy index build == the same steps composed from the
    functions.vector JVM expressions (normalize → add_noise → cosine →
    weighted concat → normalize): LCG noise bit-identical, float stages
    within summation-order tolerance, same dp_vec layout."""
    import numpy as np

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(80)
    joined = vecs.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding"),
        F.col("embedding").alias("attr_vec"),
    )
    an = V.l2_normalize("attr_vec")
    noisy = V.add_noise(an, "doc_id", 0.15, 64)
    dp = V.weighted_concat(
        V.l2_normalize("embedding"), V.l2_normalize(noisy), 0.7, 0.3
    )
    expr = {
        r.doc_id: (np.array(r.dp_vec), r.noise_cosine)
        for r in joined.select(
            "doc_id",
            V.l2_normalize(dp).alias("dp_vec"),
            V.cosine(an, noisy).alias("noise_cosine"),
        ).collect()
    }
    pdp = {
        r.doc_id: (np.array(r.dp_vec), r.noise_cosine)
        for r in build_dp_index_pd(
            joined, "embedding", "attr_vec", "doc_id", sigma=0.15
        ).collect()
    }
    assert set(expr) == set(pdp)
    for d in expr:
        assert np.allclose(expr[d][0], pdp[d][0], atol=1e-12)
        assert abs(expr[d][1] - pdp[d][1]) < 1e-12


def test_dp_query_zero_padding(spark):
    q = spark.createDataFrame([(1, [1.0, 0.0])], "query_id long, query_vec array<double>")
    out = dp_query_vec(q, "query_vec", attr_dim=3).collect()[0].dp_query_vec
    assert len(out) == 5
    assert out[2:] == [0.0, 0.0, 0.0]
    assert abs(sum(x * x for x in out) - 1.0) < 1e-6  # eps-normalize slack


def test_baseline_mode_shape(spark, sf_dir):
    out = baseline_mode(spark, sf_dir, k=3, n_queries=2)
    rows = out.collect()
    assert len(rows) == 6
    assert rows[0].query_id == rows[0].doc_id  # self top-1 ordered first
    assert set(out.columns) == {"query_id", "rank", "doc_id", "score", "snippet"}


def test_rag_distributed_parity_and_laziness(spark, sf_dir):
    """The distributed RAG plan (in-plan query terms + applyInPandas MMR)
    returns exactly the driver-loop path's results, and building it
    launches no Spark job (no collect at plan-construction time — the
    property that makes it scale past driver memory)."""
    from clinical_vector_search_spark.pipeline.modes import load_corpus
    from clinical_vector_search_spark.pipeline.rag import rag_pipeline

    docs, vecs = load_corpus(spark, sf_dir)
    queries = (
        vecs.filter(F.col("doc_id") < 3)
        .join(docs.select("doc_id", F.col("text").alias("query_text")), "doc_id")
        .select(
            F.col("doc_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
            "query_text",
        )
    )
    # Laziness: the stages this path moves in-plan (query terms, BM25
    # scoring, MMR) must launch no job at build time. (knn's auto-strategy
    # size probe runs file-LISTING jobs — metadata, not a collect — so the
    # check targets the BM25+MMR subplan, built on a jobless candidate df.)
    from clinical_vector_search_spark.operators.bm25 import (
        bm25_index,
        bm25_topk_set_df,
    )
    from clinical_vector_search_spark.operators.mmr import mmr_rerank_dist
    from clinical_vector_search_spark.pipeline.rag import query_term_weights

    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    idx = bm25_index(docs)
    qt = query_term_weights(queries)
    bm = bm25_topk_set_df(idx, qt, 10)
    gathered = (
        bm.select("query_id", "doc_id")
        .join(vecs.select("doc_id", "embedding"), "doc_id")
        .join(queries.select("query_id", "query_vec"), "query_id")
    )
    mmr_rerank_dist(gathered, 4)
    jobs_after = len(tracker.getJobIdsForGroup(None) or [])
    assert jobs_after == jobs_before  # lazy: no job until an action

    dist_df = rag_pipeline(queries, vecs, docs, k=4, candidate_k=10,
                           bm25_topk=10, distributed=True)
    dist = {(r.query_id, r.rank): r.doc_id for r in dist_df.collect()}
    drv = {
        (r.query_id, r.rank): r.doc_id
        for r in rag_pipeline(queries, vecs, docs, k=4, candidate_k=10,
                              bm25_topk=10, distributed=False).collect()
    }
    assert dist == drv
    assert len(dist) == 3 * 4


def test_rag_mode_self_top1(spark, sf_dir):
    rows = rag_mode(
        spark, sf_dir, k=3, n_queries=2, candidate_k=10, bm25_topk=10
    ).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, {})[r.rank] = r.doc_id
    for q, ranked in by_q.items():
        assert ranked[1] == q  # MMR first pick = max query-sim = self


def test_bm25_index_materialization_roundtrip(spark, sf_dir, tmp_path):
    from clinical_vector_search_spark.io.tables import (
        build_bm25_index_table,
        read_bm25_index,
    )
    from clinical_vector_search_spark.operators.bm25 import (
        bm25_score_index,
        bm25_score,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    path = str(tmp_path / "bm25_idx")
    build_bm25_index_table(docs, path)
    idx = read_bm25_index(spark, path)
    from_disk = {
        r.doc_id: r.bm25 for r in bm25_score_index(idx, docs, ["spark"]).collect()
    }
    inline = {r.doc_id: r.bm25 for r in bm25_score(docs, ["spark"]).collect()}
    assert from_disk.keys() == inline.keys()
    for k in inline:
        assert abs(from_disk[k] - inline[k]) < 1e-12


def test_fhe_mode_self_top1_and_projection_dim(spark, sf_dir):
    from clinical_vector_search_spark.pipeline.modes import fhe_mode

    rows = fhe_mode(spark, sf_dir, k=3, n_queries=3, out_dim=16).collect()
    top1 = {r.query_id: (r.doc_id, r.score) for r in rows if r.rank == 1}
    for q, (d, s) in top1.items():
        assert d == q  # projection is a fixed linear map → self still top-1
        assert abs(s - 1.0) < 1e-6


def test_run_evaluation_table_shape(spark, sf_dir):
    from clinical_vector_search_spark.pipeline.evaluate import run_evaluation

    t = run_evaluation(spark, sf_dir, k=3, n_queries=3)
    rows = t.collect()
    assert len(rows) == 3
    cols = set(t.columns)
    for mode in ("dp", "rag", "fhe"):
        assert {f"recall_{mode}", f"ndcg_{mode}", f"{mode}_latency"} <= cols
    assert "baseline_latency" in cols and "dp_drift" in cols
    for r in rows:
        assert r.recall_fhe >= 0.0 and r.dp_drift == 1.0


def test_evaluate_modes_and_timer(spark):
    base = spark.createDataFrame(
        [(1, r, r) for r in range(1, 4)], "query_id long, rank int, doc_id long"
    )
    other = spark.createDataFrame(
        [(1, 1, 1), (1, 2, 9), (1, 3, 3)], "query_id long, rank int, doc_id long"
    )
    (_, ms) = run_timed(lambda: base.count())
    assert ms >= 0.0
    table = evaluate_modes(
        spark, base, {"dp": other}, {"dp": 30.0}, k=3, n_queries=3
    )
    row = table.collect()[0]
    assert abs(row.recall_dp - 2 / 3) < 1e-9
    assert row.dp_latency == 10.0
    means = mean_metrics(table).collect()[0]
    assert abs(means["mean_recall_dp"] - 2 / 3) < 1e-9

def test_ckks_encrypted_topk_overlap(spark, sf_dir):
    """Gated: real CKKS loop vs plaintext ranking (reference
    pipeline_mode.py:181-191 acceptance metric). Skips without tenseal."""
    import pytest

    pytest.importorskip("tenseal")
    from pyspark.sql import functions as F

    from clinical_vector_search_spark.pipeline.fhe import (
        ckks_topk_overlap,
        fhe_sample,
        project_vectors,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    subset = fhe_sample(emb, 50, "vec_id")
    pdocs = project_vectors(subset, "embedding", dim, 16, "proj_vec")
    pq = subset.limit(3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    pq = project_vectors(pq, "query_vec", dim, 16, "proj_qvec")
    assert ckks_topk_overlap(pq, pdocs, k=5) >= 0.99


def test_fhe_demo_does_not_raise_regardless_of_tenseal(spark, sf_dir):
    """encrypted_topk_demo must produce the deterministic plaintext-ranked
    contract output whether or not tenseal is importable (VERDICT r3 #5)."""
    from pyspark.sql import functions as F

    from clinical_vector_search_spark.pipeline.fhe import encrypted_topk_demo

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    q = emb.limit(2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    rows = encrypted_topk_demo(q, emb, k=3, in_dim=dim, subset_n=50).collect()
    assert len(rows) == 6 and {r.rank for r in rows} == {1, 2, 3}


def test_weighted_hash_sample_matches_reference_and_respects_weights(
    spark, sf_dir
):
    """A-Res selection must match a single-node reference exactly, be
    deterministic across runs, and never pick zero-weight rows while
    positive-weight rows remain."""
    import hashlib
    import math

    from clinical_vector_search_spark.pipeline.documents import (
        weighted_hash_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    got = sorted(
        r.doc_id for r in weighted_hash_sample(docs, 50, "n_chars").collect()
    )

    rows = [(r.doc_id, r.n_chars) for r in docs.collect()]

    def pri(doc_id, w):
        hv = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        u = (hv + 1.0) / ((1 << 60) + 1)
        return math.log(u) / w if w > 0 else float("-inf")

    ref = sorted(
        i for i, _ in sorted(
            rows, key=lambda t: (-pri(t[0], t[1]), t[0])
        )[:50]
    )
    assert got == ref

    got2 = sorted(
        r.doc_id for r in weighted_hash_sample(docs, 50, "n_chars").collect()
    )
    assert got2 == got  # deterministic across runs

    # zero-weight rows lose to any positive weight
    mixed = docs.withColumn(
        "w", F.when(F.col("doc_id") % 2 == 0, F.col("n_chars")).otherwise(0)
    )
    picked = {r.doc_id for r in weighted_hash_sample(mixed, 20, "w").collect()}
    assert all(d % 2 == 0 for d in picked)

    # tiny positive weights must ALSO beat zero-weight rows: pow(u, 1/w)
    # underflows to exactly 0.0 at w=1e-4, the log-priority does not
    tiny = docs.withColumn(
        "w", F.when(F.col("doc_id") % 2 == 0, F.lit(1e-4)).otherwise(F.lit(0.0))
    )
    picked = {r.doc_id for r in weighted_hash_sample(tiny, 20, "w").collect()}
    assert all(d % 2 == 0 for d in picked)


def test_mixture_sample_rebalances_to_targets(spark, sf_dir):
    """Keep-rates derive from observed domain counts; untargeted domains
    drop; scarce domains cap at 100% (availability limit)."""
    from clinical_vector_search_spark.pipeline.documents import (
        mixture_sample,
        stratified_hash_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    targets = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    out = mixture_sample(docs, targets, total_n=60)

    # only targeted domains survive
    assert {r.source for r in out.select("source").distinct().collect()} \
        <= set(targets)

    # rates match the explicit stratified spelling on the same counts
    counts = {r.source: r.n for r in docs.groupBy("source")
              .agg(F.count("*").alias("n")).collect()}
    rates = {d: min(1.0, 60 * f / counts[d]) for d, f in targets.items()}
    want = sorted(r.doc_id for r in
                  stratified_hash_sample(docs, rates).collect())
    assert sorted(r.doc_id for r in out.collect()) == want

    # asking for more than exists keeps every row of the domain
    n_src0 = counts["src0"]
    all_src0 = mixture_sample(docs, {"src0": 1.0}, total_n=10**6)
    assert all_src0.count() == n_src0


def test_split_assign_disjoint_exhaustive_stable(spark, sf_dir):
    """Splits are disjoint+exhaustive, proportions land near the
    fractions, assignment survives repartitioning, and a different salt
    draws a different split."""
    from clinical_vector_search_spark.pipeline.documents import split_assign

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    splits = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    a = {r.doc_id: r.split for r in split_assign(docs, splits).collect()}
    n = len(a)
    assert n == docs.count()  # exhaustive, one row each
    from collections import Counter

    c = Counter(a.values())
    assert set(c) <= {"train", "val", "test"}
    assert 0.6 * n < c["train"] < 0.95 * n  # loose: n=500
    b = {r.doc_id: r.split
         for r in split_assign(docs.repartition(13), splits).collect()}
    assert a == b  # partitioning-independent
    s2 = {r.doc_id: r.split
          for r in split_assign(docs, splits, salt="other").collect()}
    assert s2 != a  # independent draw under a new salt

    import pytest

    with pytest.raises(ValueError):
        split_assign(docs, [("a", 0.5), ("b", 0.2)])


def test_referential_audit_counts_orphans_and_nulls(spark):
    from clinical_vector_search_spark.operators.audit import (
        referential_audit,
    )

    fact = spark.createDataFrame(
        [(1,), (2,), (2,), (99,), (None,)], "fk long"
    )
    dim = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    r = referential_audit([("f->d", fact, "fk", dim, "pk")]).collect()[0]
    assert (r.relationship, r.n_rows, r.n_null_fk, r.n_orphans) == (
        "f->d", 5, 1, 1,
    )
    assert r.orphan_rate == 0.2


def test_plan_cache_eviction_unpersists_subframes(spark, sf_dir):
    """FIFO eviction must unpersist the evicted plan's cached sub-frames
    (ADVICE r5: without this, MEMORY_AND_DISK blocks evicted from
    storage memory stay on executor disk until app exit)."""
    import clinical_vector_search_spark.pipeline.modes as m

    old_max, old_cache = m._PLAN_CACHE_MAX, dict(m._PLAN_CACHE)
    try:
        m._PLAN_CACHE.clear()
        m._PLAN_CACHE_MAX = 1
        m.baseline_mode(spark, sf_dir, k=3, n_queries=2).count()
        assert len(m._PLAN_CACHE) == 1
        (_, handles), = m._PLAN_CACHE.values()
        assert handles, "baseline build must register cached sub-frames"
        assert all(h.storageLevel.useMemory for h in handles)
        # a different arg tuple evicts the first plan
        m.baseline_mode(spark, sf_dir, k=4, n_queries=2).count()
        assert len(m._PLAN_CACHE) == 1
        assert all(not h.storageLevel.useMemory for h in handles), (
            "evicted plan's caches must be unpersisted"
        )
    finally:
        m._PLAN_CACHE_MAX = old_max
        m._PLAN_CACHE.clear()
        m._PLAN_CACHE.update(old_cache)


def test_user_split_has_zero_group_leakage(spark, sf_dir):
    """Group-safe split contract: every user's events land in exactly
    one split (assignment is a pure function of user_id), splits are
    exhaustive, and USER proportions track 80/10/10 far better than a
    row-level split of skewed users would guarantee for events."""
    from clinical_vector_search_spark.pipeline.documents import split_assign
    from clinical_vector_search_spark.streaming.events import read_events

    e = read_events(spark, sf_dir)
    s = split_assign(
        e,
        [("train", 0.8), ("val", 0.1), ("test", 0.1)],
        id_col="user_id",
        salt="usersplit",
    )
    # zero leakage: (user, split) pairs == distinct users
    n_users = s.select("user_id").distinct().count()
    n_pairs = s.select("user_id", "split").distinct().count()
    assert n_pairs == n_users
    # exhaustive: every row assigned
    assert s.filter(F.col("split").isNull()).count() == 0
    assert s.count() == e.count()


def test_domain_temperature_weights_flatten(spark):
    """alpha=1 reproduces token proportions; alpha→0 flattens toward
    uniform; weights always sum to 1 and effective_epochs inverts scarcity
    (the scarce domain is upsampled hardest)."""
    from clinical_vector_search_spark.pipeline.documents import (
        domain_temperature_weights,
    )

    rows = [
        (0, "a " * 99, "big"),     # ~99 tokens
        (1, "b", "small"),         # 1 token
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    def weights(alpha):
        return {
            r.source: (r.mix_weight, r.effective_epochs)
            for r in domain_temperature_weights(df, alpha=alpha).collect()
        }

    w1 = weights(1.0)
    assert abs(w1["big"][0] - 0.99) < 1e-9 and abs(w1["small"][0] - 0.01) < 1e-9
    # alpha=1 ⇒ natural distribution ⇒ every domain seen exactly once
    assert abs(w1["big"][1] - 1.0) < 1e-9 and abs(w1["small"][1] - 1.0) < 1e-9

    w5 = weights(0.5)
    assert sum(v[0] for v in w5.values()) == pytest.approx(1.0)
    # flattened: small's share rises above natural, big's falls
    assert 0.01 < w5["small"][0] < 0.5 < w5["big"][0] < 0.99
    # scarce domain upsampled (> 1 epoch), big downsampled (< 1)
    assert w5["small"][1] > 1.0 > w5["big"][1]

    w0 = weights(0.0)
    assert w0["big"][0] == pytest.approx(0.5) and w0["small"][0] == pytest.approx(0.5)
