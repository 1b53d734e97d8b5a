"""Tests for the scale-extension operators: sliding windows, BPE token
counting, skew-salted aggregation, IVF approximate kNN, sinks."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from clinical_vector_search_spark.functions import text as TXT
from clinical_vector_search_spark.functions import vector as V
from clinical_vector_search_spark.operators.knn import knn, knn_ivf
from clinical_vector_search_spark.operators.skew import salted_count_sum
from clinical_vector_search_spark.streaming.events import NS, sliding_agg


def test_sliding_agg_covering_windows(spark):
    # one event at t=600s: with 300s window / 60s slide it belongs to the
    # 5 windows starting at 360..600
    rows = [(1, 600 * NS, "a", 1.0)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_ns long, event_type string, value double"
    )
    out = sorted(r.window_start for r in sliding_agg(ev, 300, 60).collect())
    assert out == [360, 420, 480, 540, 600]


def test_sliding_agg_epoch_clamp(spark):
    ev = spark.createDataFrame(
        [(1, 0, "a", 1.0)], "event_id long, ts_ns long, event_type string, value double"
    )
    out = sorted(r.window_start for r in sliding_agg(ev, 300, 60).collect())
    assert out == [0]  # no negative window starts


def test_sliding_agg_totals_vs_tumbling(spark, sf_dir):
    from clinical_vector_search_spark.streaming.events import (
        read_events,
        tumbling_agg,
    )

    ev = read_events(spark, sf_dir).limit(1000).cache()
    n = ev.count()
    slid = sliding_agg(ev, 300, 60)
    # each event lands in exactly window/slide windows (away from epoch 0)
    total = slid.agg(F.sum("n_events")).collect()[0][0]
    assert total == n * 5
    tumb = tumbling_agg(ev, 300).agg(F.sum("n_events")).collect()[0][0]
    assert tumb == n


def test_bpe_token_count_golden(spark):
    rows = [
        (0, "hello world"),        # 2
        (1, "abc123def"),          # abc, 123, def = 3
        (2, "a-b.c"),              # a, -, b, ., c = 5
        (3, ""),                   # 0
        (4, "x2!"),                # x, 2, ! = 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.n for r in df.select(
        "doc_id", TXT.bpe_token_count("text").alias("n")).collect()}
    assert got == {0: 2, 1: 3, 2: 5, 3: 0, 4: 3}


def test_salted_agg_matches_plain(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    salted = {
        r.event_type: (r.n_rows, round(r.sum_value, 6))
        for r in salted_count_sum(ev, ["event_type"], "value", n_salts=8).collect()
    }
    plain = {
        r.event_type: (r.n, round(r.s, 6))
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert salted == plain


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
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_ivf_self_match_and_recall(corpus, queries):
    k = 10
    exact = {(r.query_id, r.doc_id) for r in knn(queries, corpus, k).collect()}
    approx = {
        (r.query_id, r.doc_id)
        for r in knn_ivf(queries, corpus, k, dim=64, n_centroids=16, n_probe=4).collect()
    }
    # self-match: query == doc → identical argmax centroid → same cluster
    assert {(i, i) for i in range(5)} <= approx
    assert len(exact & approx) / len(exact) > 0.1


def test_ivf_full_probe_is_exact(corpus, queries):
    k = 5
    exact = sorted(
        (r.query_id, r.rank, r.doc_id)
        for r in knn(queries, corpus, k).collect()
    )
    full = sorted(
        (r.query_id, r.rank, r.doc_id)
        for r in knn_ivf(
            queries, corpus, k, dim=64, n_centroids=8, n_probe=8
        ).collect()
    )
    assert exact == full


def test_salted_join_exact_and_guards(spark, sf_dir):
    """Salted equi-join returns exactly the plain join's rows (salt is an
    implementation detail), and rejects join types it cannot make exact."""
    from clinical_vector_search_spark.operators.skew import salted_join

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    salted = {
        (r.o_orderkey, r.c_mktsegment)
        for r in salted_join(o, c, "o_custkey", n_salts=8).collect()
    }
    plain = {
        (r.o_orderkey, r.c_mktsegment) for r in o.join(c, "o_custkey").collect()
    }
    assert salted == plain and len(plain) > 0

    # left join: unmatched left rows survive exactly once
    o_extra = o.union(
        spark.createDataFrame([(999_999_999, -1)], "o_orderkey long, o_custkey long")
    )
    left = salted_join(o_extra, c, "o_custkey", n_salts=4, how="left")
    unmatched = left.filter(F.col("c_mktsegment").isNull()).collect()
    assert [r.o_orderkey for r in unmatched] == [999_999_999]

    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(o, c, "o_custkey", how="full")


def test_ivf_kmeans_centroids_recall_beats_lcg(corpus, queries):
    """Trained (spherical Lloyd's) centroids must retrieve at least as much
    of the exact top-k as the random LCG centroids at equal n_probe — the
    whole point of training the quantizer. Plan shape is identical."""
    from clinical_vector_search_spark.operators.knn import kmeans_centroids

    k, n_cent, n_probe = 10, 8, 2
    exact = {(r.query_id, r.doc_id) for r in knn(queries, corpus, k).collect()}

    def recall(centroids):
        got = {
            (r.query_id, r.doc_id)
            for r in knn_ivf(
                queries, corpus, k, dim=64, n_centroids=n_cent,
                n_probe=n_probe, centroids=centroids,
            ).collect()
        }
        return len(exact & got) / len(exact)

    cents = kmeans_centroids(corpus, dim=64, n_centroids=n_cent, n_iter=5)
    assert len(cents) == n_cent and len(cents[0]) == 64
    # spherical: unit-norm centroids
    assert all(abs(sum(x * x for x in c) - 1.0) < 1e-6 for c in cents)
    r_kmeans, r_lcg = recall(cents), recall(None)
    assert r_kmeans >= r_lcg, (r_kmeans, r_lcg)
    assert r_kmeans > 0.3  # trained quantizer retrieves a real share


def test_lang_id_argmax_and_ties(spark):
    rows = [
        (0, "the cat and the dog is here"),     # en
        (1, "el perro de la casa que ladra y"), # es
        (2, "xyz qqq www"),                     # no markers -> und
        (3, "the la"),                          # tie en(1)/es(1)/fr(1: la) -> alphabetical...
        (4, "der die und das ist"),             # de
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.p for r in df.select(
        "doc_id", TXT.lang_id(TXT.tokenize("text")).alias("p")).collect()}
    assert got[0] == "en"
    assert got[1] == "es"
    assert got[2] == "und"
    # 'the'→en(1), 'la'→es(1) and fr(1): three-way tie → 'en' (ascending)
    assert got[3] == "en"
    assert got[4] == "de"


def test_resize_images_stub(spark):
    from clinical_vector_search_spark.multimodal.binary_ops import (
        resize_images,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"imgbytes")), (2, bytearray(b"x"))],
        "media_id long, content binary",
    )
    out = {r.media_id: (bytes(r.content), r.width, r.height)
           for r in resize_images(df, 64, 48).collect()}
    assert out[1] == (b"imgbytes", 64, 48)
    assert out[2] == (b"x", 64, 48)


def test_multimodal_real_decode_branch_gated(spark):
    """Exercises the REAL pillow branch (decode → resize → histogram
    feature) — skipped when pillow is absent from the container."""
    PIL = pytest.importorskip("PIL")
    import io

    from PIL import Image

    from clinical_vector_search_spark.multimodal.binary_ops import (
        extract_features,
        resize_images,
    )

    def png_bytes(color):
        buf = io.BytesIO()
        Image.new("RGB", (8, 8), color).save(buf, format="PNG")
        return bytearray(buf.getvalue())

    df = spark.createDataFrame(
        [(1, png_bytes((255, 255, 255))), (2, png_bytes((0, 0, 0))),
         (3, bytearray(b"not an image"))],
        "media_id long, content binary",
    )
    feats = {r.media_id: r.feature for r in extract_features(df, dim=4).collect()}
    # white image: all luminance in the top bucket; black: bottom bucket
    assert feats[1][3] == 1.0 and feats[2][0] == 1.0
    # non-image bytes fall back to the deterministic fake per-row
    from clinical_vector_search_spark.multimodal.binary_ops import _fake_feature

    assert feats[3] == _fake_feature(b"not an image", 4)

    sized = {r.media_id: r for r in resize_images(df, 4, 2).collect()}
    with Image.open(io.BytesIO(bytes(sized[1].content))) as im:
        assert im.size == (4, 2)  # really resized + re-encoded
    assert bytes(sized[3].content) == b"not an image"  # passthrough


def test_print_topk_sink(spark, sf_dir, capsys):
    from clinical_vector_search_spark.io.tables import print_topk
    from clinical_vector_search_spark.pipeline.modes import baseline_mode

    res = baseline_mode(spark, sf_dir, k=2, n_queries=2)
    lines = print_topk(res)
    assert len(lines) == 4
    assert lines[0].startswith("q=0 [1] score=1.0000")
    assert capsys.readouterr().out.count("\n") >= 3


def test_plot_metrics_gated(spark, tmp_path):
    from clinical_vector_search_spark.io.tables import plot_metrics

    t = spark.createDataFrame([(1, 0.5)], "query_id long, recall double")
    paths = plot_metrics(t, str(tmp_path / "plots"))
    try:
        import matplotlib  # noqa: F401

        assert paths  # matplotlib present → PNGs written
    except ImportError:
        assert paths == []  # gated cleanly


def test_run_write_jobs_threads_keep_caller_job_labels(spark):
    """Jobs submitted from run_write_jobs' pool threads carry the caller's
    job group, description and tags, so the event log attributes them and
    cancelJobGroup reaches them; and each thread gets its own copy of the
    properties, so a key one job sets does not leak into its sibling."""
    import threading

    from clinical_vector_search_spark.io.tables import run_write_jobs

    sc = spark.sparkContext
    both_set = threading.Barrier(2, timeout=60)
    seen = {}
    lock = threading.Lock()

    def thunk(name):
        def run():
            sc.setLocalProperty("rwj.own", name)
            both_set.wait()
            spark.range(3).count()
            with lock:
                seen[name] = (
                    sc.getLocalProperty("spark.jobGroup.id"),
                    sc.getLocalProperty("spark.job.description"),
                    sorted(spark.getTags()),
                    sc.getLocalProperty("rwj.own"),
                )
        return run

    sc.setJobGroup("rwj-group", "rwj-desc")
    spark.addTag("rwj-tag")
    try:
        run_write_jobs(thunk("a"), thunk("b"))
        assert seen == {
            n: ("rwj-group", "rwj-desc", ["rwj-tag"], n) for n in "ab"
        }
        assert len(sc.statusTracker().getJobIdsForGroup("rwj-group")) >= 2
    finally:
        for prop in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(prop, None)
        spark.clearTags()


def test_upsert_vector_index_latest_wins(spark, tmp_path):
    import numpy as np

    from clinical_vector_search_spark.io.tables import (
        build_vector_index,
        upsert_vector_index,
    )

    path = str(tmp_path / "vindex")
    base = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "doc_id long, embedding array<double>"
    )
    build_vector_index(base, path)
    # upsert: replace doc 1's vector, add doc 2
    delta = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [1.0, 1.0])], "doc_id long, embedding array<double>"
    )
    upsert_vector_index(spark, path, delta)
    got = {
        r.doc_id: [round(x, 6) for x in r.embedding]
        for r in spark.read.parquet(path).collect()
    }
    assert set(got) == {0, 1, 2}
    assert got[0] == [1.0, 0.0]  # untouched rows survive
    assert got[1] == [0.6, 0.8]  # replaced AND re-normalized (3,4)/5
    norm2 = float(np.linalg.norm(got[2]))
    assert abs(norm2 - 1.0) < 1e-6  # new rows normalized on the way in


def test_hash_sample_deterministic_and_near_rate(spark, sf_dir):
    from clinical_vector_search_spark.pipeline.documents import hash_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    a = {r.doc_id for r in hash_sample(docs, 0.25).select("doc_id").collect()}
    b = {r.doc_id for r in hash_sample(docs, 0.25).select("doc_id").collect()}
    assert a == b  # deterministic, not a seeded RNG
    assert 0.10 < len(a) / n < 0.40  # Bernoulli(0.25) at small n
    # monotone: a smaller rate keeps a subset of a larger rate's rows
    c = {r.doc_id for r in hash_sample(docs, 0.10).select("doc_id").collect()}
    assert c <= a


def test_percentile_approx_close_to_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_type", "value")
    exact = {
        r.event_type: r.p
        for r in e.groupBy("event_type")
        .agg(F.expr("percentile(value, 0.9)").alias("p"))
        .collect()
    }
    approx = {
        r.event_type: r.p
        for r in e.groupBy("event_type")
        .agg(F.expr("percentile_approx(value, 0.9, 10000)").alias("p"))
        .collect()
    }
    for t, p in exact.items():
        spread = abs(p) + 1e-9
        assert abs(approx[t] - p) / spread < 0.05, (t, p, approx[t])


def test_approx_count_distinct_close_to_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "user_id"
    )
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("n"))
        .collect()
    }
    for t, n in exact.items():
        assert abs(approx[t] - n) / max(n, 1) < 0.05, (t, n, approx[t])


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    from clinical_vector_search_spark.io.tables import read_orc, write_orc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    path = str(tmp_path / "docs_orc")
    write_orc(docs, path)
    back = read_orc(spark, path)
    assert back.count() == docs.count()
    a = {(r.doc_id, r.lang, r.n_chars) for r in docs.collect()}
    b = {(r.doc_id, r.lang, r.n_chars) for r in back.collect()}
    assert a == b


def test_orc_scan_pushes_filters(spark, sf_dir, tmp_path):
    from clinical_vector_search_spark.io.tables import read_orc, write_orc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    path = str(tmp_path / "docs_orc_plan")
    write_orc(docs, path)
    plan = (
        read_orc(spark, path)
        .filter(F.col("lang") == "en")
        .select("doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "lang" in plan

def test_partitioned_write_prunes_directories(spark, sf_dir, tmp_path):
    """A filter on the partition column must land in the scan's
    PartitionFilters (directory pruning), not the data filters — and the
    pruned read must return exactly the matching rows."""
    from clinical_vector_search_spark.io.tables import (
        read_partitioned,
        write_partitioned,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars", "lang"
    )
    path = str(tmp_path / "part_docs")
    write_partitioned(docs, path, ["lang"])

    scan = read_partitioned(spark, path).filter(F.col("lang") == "en")
    plan = scan._sc._jvm.PythonSQLUtils.explainString(
        scan._jdf.queryExecution(), "formatted"
    )
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), plan[:2000]
    want = docs.filter(F.col("lang") == "en").count()
    assert scan.count() == want and want > 0

def test_streaming_foreachbatch_index_upsert(spark, sf_dir, tmp_path):
    """Streaming maintenance of the persisted vector index: a readStream of
    delta vectors lands through foreachBatch -> upsert_vector_index
    (availableNow). The final index must equal a from-scratch build over
    base+delta with latest-wins semantics."""
    import numpy as np

    from clinical_vector_search_spark.io.tables import (
        build_vector_index,
        upsert_vector_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") < 30)
    index_path = str(tmp_path / "vec_index")
    build_vector_index(base.withColumnRenamed("vec_id", "doc_id"), index_path)

    # delta overlaps ids 20-29 (replacements) and adds 30-49
    delta = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 50)).select(
        F.col("vec_id").alias("doc_id"),
        F.transform("embedding", lambda x: x * 2).alias("embedding"),
    )
    delta_path = str(tmp_path / "delta")
    delta.write.parquet(delta_path)

    stream = spark.readStream.schema(delta.schema).parquet(delta_path)
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, _bid: upsert_vector_index(spark, index_path, batch)
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    got = {
        r.doc_id: np.array(r.embedding)
        for r in spark.read.parquet(index_path).collect()
    }
    assert set(got) == set(range(50))
    # replaced ids carry the delta's (re-normalized) vector: doubling then
    # re-normalizing equals the original normalized vector
    base_norm = {
        r.vec_id: np.array(r.embedding) / np.linalg.norm(r.embedding)
        for r in emb.filter(F.col("vec_id") < 50).collect()
    }
    for i in range(50):
        assert np.allclose(got[i], base_norm[i], atol=1e-12), i

def test_compact_parquet_merges_small_files(spark, tmp_path):
    """50 tiny files compact to far fewer with identical data."""
    import glob

    from clinical_vector_search_spark.io.tables import compact_parquet

    path = str(tmp_path / "frag")
    spark.range(5000).withColumn("v", F.col("id") * 2).repartition(
        50
    ).write.parquet(path)
    assert len(glob.glob(f"{path}/part-*.parquet")) == 50
    before = spark.read.parquet(path).agg(
        F.count("*"), F.sum("id"), F.sum("v")
    ).first()

    n = compact_parquet(spark, path, target_file_bytes=10 * 1024 * 1024)
    files_after = glob.glob(f"{path}/part-*.parquet")
    assert len(files_after) == n and n < 10
    after = spark.read.parquet(path).agg(
        F.count("*"), F.sum("id"), F.sum("v")
    ).first()
    assert tuple(before) == tuple(after)


def test_topk_per_group_strategies_identical(spark, sf_dir):
    """partial (Arrow-batch prune + window) must equal the plain window
    strategy row-for-row, including rank values."""
    from clinical_vector_search_spark.operators.skew import topk_per_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", "doc_id", "n_chars"
    ).repartition(7)  # multiple partitions so the prune actually prunes
    spec = [("n_chars", False), ("doc_id", True)]
    a = {(r.source, r.doc_id, r.rank)
         for r in topk_per_group(docs, ["source"], spec, 3,
                                 strategy="partial").collect()}
    b = {(r.source, r.doc_id, r.rank)
         for r in topk_per_group(docs, ["source"], spec, 3,
                                 strategy="window").collect()}
    assert a == b and len(a) > 0


def test_topk_per_group_null_keys_and_null_order_values(spark):
    """NULL group keys form a group (pandas dropna pitfall) and NULL
    order values follow Spark's placement (asc=NULLS FIRST), so the
    prune never loses a candidate."""
    from clinical_vector_search_spark.operators.skew import topk_per_group

    rows = [
        ("a", 1, 10), ("a", 2, None), ("a", 3, 30), ("a", 4, 20),
        (None, 5, 1), (None, 6, 2),
    ]
    df = spark.createDataFrame(
        rows, "g string, id long, score long"
    ).repartition(3)
    # ascending score: NULL ranks FIRST in Spark
    got = {(r.g, r.rank): r.id
           for r in topk_per_group(df, ["g"], [("score", True),
                                               ("id", True)], 2,
                                   strategy="partial").collect()}
    want = {("a", 1): 2, ("a", 2): 1, (None, 1): 5, (None, 2): 6}
    assert got == want


def test_zscore_outliers_golden(spark):
    """Known stats: group 'a' = nine 10s + one 100 → mean 19, std 27,
    z(100) = 3.0 exactly; constant group flags nothing; NULL never
    flags."""
    from clinical_vector_search_spark.operators.sketch import zscore_outliers

    rows = [("a", 10.0)] * 9 + [("a", 100.0), ("b", 5.0), ("b", 5.0),
                                ("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = zscore_outliers(df, "v", ["g"], z=2.5).collect()
    flags = {(r.g, r.v): r.is_outlier for r in got}
    assert flags[("a", 100.0)] is True
    assert flags[("a", 10.0)] is False
    assert flags[("b", 5.0)] is False          # std = 0 → never outliers
    assert flags[("a", None)] is False         # NULL value → not an outlier
    # z=3.0 boundary is EXACT here (mean 19, std 27 over the 10 non-null
    # 'a' values... recompute: mean=(9*10+100)/10=19, var=(9*81+81*81)/10
    # = 729, std=27; |100-19|/27 = 3.0): strict > must NOT flag at z=3
    got3 = {(r.g, r.v): r.is_outlier
            for r in zscore_outliers(df, "v", ["g"], z=3.0).collect()}
    assert got3[("a", 100.0)] is False


def test_hll_partials_accuracy_and_merge_consistency(spark, sf_dir):
    """HLL contracts: (1) per-group estimates within the lg_k=12 error
    bound of exact; (2) sketch algebra — rolling up daily partials must
    give the SAME estimate as sketching the raw union directly."""
    from clinical_vector_search_spark.operators.sketch import (
        hll_partials,
        hll_rollup,
    )
    from clinical_vector_search_spark.streaming.events import read_events

    ev = read_events(spark, sf_dir).select(
        F.expr("ts_ns div 86400000000000").alias("day"), "user_id"
    )
    per_day = {r.day: r.n_distinct_est
               for r in hll_rollup(hll_partials(ev, ["day"], "user_id"),
                                   ["day"]).collect()}
    exact = {r.day: r.n for r in ev.distinct().groupBy("day")
             .agg(F.count("*").alias("n")).collect()}
    assert set(per_day) == set(exact)
    for d, est in per_day.items():
        assert abs(est - exact[d]) / exact[d] < 0.05, (d, est, exact[d])

    merged = hll_rollup(hll_partials(ev, ["day"], "user_id"), []).collect()[0][0]
    direct = hll_rollup(hll_partials(ev, [], "user_id"), []).collect()[0][0]
    assert merged == direct  # union of partials == sketch of union
    total_exact = ev.select("user_id").distinct().count()
    assert abs(merged - total_exact) / total_exact < 0.05


def test_topk_per_group_lossless_bigint_with_nulls(spark):
    """Regression: a NULL in an int64 column used to coerce the whole
    Arrow batch column to float64 inside the prune, silently collapsing
    values past 2^53. The mapInArrow/ArrowDtype path must round-trip
    2^60-range longs exactly."""
    from clinical_vector_search_spark.operators.skew import topk_per_group

    big = (1 << 60) + 1
    rows = [("a", 1, big), ("a", 2, None), ("a", 3, big + 2)]
    df = spark.createDataFrame(rows, "g string, id long, v long").coalesce(1)
    got = {r.id: r.v
           for r in topk_per_group(df, ["g"], [("id", True)], 3,
                                   strategy="partial").collect()}
    assert got == {1: big, 2: None, 3: big + 2}


def test_pandas_udaf_matches_expression_twin(spark):
    """GROUPED_AGG weighted_mean == the map-side-combinable expression
    spelling, incl. NULL pairs and a zero-weight group; scalar softclip
    squashes into (-1, 1) and propagates NULL."""
    from clinical_vector_search_spark.functions.udaf import (
        softclip,
        weighted_mean,
        weighted_mean_expr,
    )

    rows = [("a", 1.0, 2.0), ("a", 3.0, 1.0), ("a", None, 5.0),
            ("a", 7.0, None), ("b", 4.0, 0.0), ("c", 9.0, 3.0)]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    udaf = {r.g: r.m for r in df.groupBy("g").agg(
        F.round(weighted_mean(F.col("v"), F.col("w")), 9).alias("m")
    ).collect()}
    expr = {r.g: r.m for r in df.groupBy("g").agg(
        F.round(weighted_mean_expr("v", "w"), 9).alias("m")
    ).collect()}
    assert udaf == expr
    assert udaf["a"] == round((1 * 2 + 3 * 1) / 3.0, 9)
    assert udaf["b"] is None  # zero weight mass
    sc = {r.v: r.s for r in df.select(
        "v", F.round(softclip(F.col("v")), 9).alias("s")
    ).distinct().collect()}
    assert sc[1.0] == 0.5 and sc[None] is None
    assert all(s is None or -1 < s < 1 for s in sc.values())


def test_psi_drift_semantics(spark):
    """PSI hand check: identical snapshots sum to ~0; a shifted current
    distribution produces positive total PSI concentrated in the bins
    that gained/lost mass; an all-out-of-range current shows its mass
    in the overflow bin rather than being clamped away."""
    from clinical_vector_search_spark.operators.sketch import psi_drift

    base = spark.createDataFrame(
        [(float(v),) for v in [1, 1, 2, 2, 3, 3]], "value double"
    )
    same = psi_drift(base, base, "value", 0.0, 4.0, 4).collect()
    assert abs(sum(r.psi_term for r in same)) < 1e-9

    shifted = spark.createDataFrame(
        [(float(v),) for v in [3, 3, 3, 3, 3, 3]], "value double"
    )
    drift = psi_drift(base, shifted, "value", 0.0, 4.0, 4).collect()
    assert sum(r.psi_term for r in drift) > 0.25  # "drifted" read

    oor = spark.createDataFrame([(99.0,), (98.0,)], "value double")
    got = {r.bin: r for r in psi_drift(base, oor, "value", 0.0, 4.0, 4).collect()}
    assert got[4].p_cur == 1.0  # overflow bin carries the mass


def test_bloom_filtered_join_exact_and_guarded(spark, sf_dir):
    """Bloom semi-join reduction returns exactly the plain join (FPs die
    in the join, no FNs exist); outer joins are rejected."""
    from clinical_vector_search_spark.operators.skew import (
        bloom_filtered_join,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice"
    )
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_orderkey").alias("okey"), "o_orderpriority")
    )
    got = sorted(
        tuple(r)
        for r in bloom_filtered_join(li, o, "okey", m=1 << 14, k=3).collect()
    )
    want = sorted(tuple(r) for r in li.join(o, "okey").collect())
    assert got == want and want  # exact and non-vacuous
    # tiny filter (high FP rate) still exact — FPs are join-dropped
    got_fp = sorted(
        tuple(r)
        for r in bloom_filtered_join(li, o, "okey", m=256, k=2).collect()
    )
    assert got_fp == want
    with pytest.raises(ValueError, match="inner/left_semi"):
        bloom_filtered_join(li, o, "okey", how="left")


def test_snapshot_diff_golden(spark):
    """added/removed/changed classification incl. null-safe transitions;
    identical rows emit nothing."""
    from clinical_vector_search_spark.operators.audit import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, None, 30), (4, "d", 40),
         (5, "e", None)],
        "k long, s string, v int",
    )
    new = spark.createDataFrame(
        [(1, "a", 10),        # identical -> absent
         (2, "b", 21),        # changed value
         (3, "c", 30),        # NULL -> value: changed
         (5, "e", None),      # NULL == NULL: identical -> absent
         (6, "f", 60)],       # added; 4 removed
        "k long, s string, v int",
    )
    got = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, ["k"], ["s", "v"]).collect()
    }
    assert got == {2: "changed", 3: "changed", 4: "removed", 6: "added"}


def test_perceptual_hash_and_band_pairs(spark):
    """aHash bit semantics + banded Hamming search: identical content →
    identical hash; pairs within the pigeonhole radius are found via
    band buckets; far hashes are excluded."""
    from clinical_vector_search_spark.multimodal.binary_ops import (
        perceptual_hash,
        phash_candidate_pairs,
    )

    media = spark.createDataFrame(
        [(1, bytearray(b"same-bytes")), (2, bytearray(b"same-bytes")),
         (3, bytearray(b"other-bytes"))],
        "media_id long, content binary",
    )
    h = {r.media_id: (r.phash_hi, r.phash_lo)
         for r in perceptual_hash(media).collect()}
    assert h[1] == h[2]
    assert all(0 <= v < (1 << 32) for pair in h.values() for v in pair)

    # synthetic hash table: 10 and 11 differ in 2 bits of one band;
    # 12 differs everywhere
    rows = [
        (10, 0x12345678, 0x0000FFFF),
        (11, 0x12345678, 0x0003FFFF),  # 2 extra low bits
        (12, 0x7654321A, 0x55550000),
    ]
    hdf = spark.createDataFrame(rows, "media_id long, phash_hi long, phash_lo long")
    pairs = {
        (r.a_id, r.b_id): r.hamming
        for r in phash_candidate_pairs(hdf, max_hamming=3).collect()
    }
    assert pairs == {(10, 11): 2}


def test_poisson_bootstrap_ci_semantics(spark, sf_dir):
    """CI brackets the point estimate with positive width, is invariant
    to partitioning (hash-seeded, not RNG-seeded), and narrows with
    sample size (basic bootstrap sanity)."""
    from clinical_vector_search_spark.operators.sketch import (
        poisson_bootstrap_ci,
    )
    from clinical_vector_search_spark.streaming.events import read_events

    ev = read_events(spark, sf_dir)
    r = {
        row.event_type: row
        for row in poisson_bootstrap_ci(
            ev, "value", ["event_type"], n_replicas=40
        ).collect()
    }
    assert r
    for row in r.values():
        assert row.ci_lo <= row.mean <= row.ci_hi
        assert row.ci_hi > row.ci_lo

    r2 = {
        row.event_type: (row.ci_lo, row.ci_hi)
        for row in poisson_bootstrap_ci(
            ev.repartition(7), "value", ["event_type"], n_replicas=40
        ).collect()
    }
    assert r2 == {k: (v.ci_lo, v.ci_hi) for k, v in r.items()}

    # 10x the data (ids shifted so weights differ per replica) -> CI width
    # shrinks for every group
    import pyspark.sql.functions as SF

    big = ev
    for i in range(1, 10):
        big = big.unionByName(
            ev.withColumn("event_id", SF.col("event_id") + 1_000_000 * i)
        )
    rbig = {
        row.event_type: row.ci_hi - row.ci_lo
        for row in poisson_bootstrap_ci(
            big, "value", ["event_type"], n_replicas=40
        ).collect()
    }
    for k, row in r.items():
        assert rbig[k] < (row.ci_hi - row.ci_lo)


def test_incremental_agg_update_equals_recompute(spark):
    """Delta maintenance == from-scratch recompute, including a group
    emptied by removals (dropped, like a fresh recompute would)."""
    from clinical_vector_search_spark.operators.audit import (
        incremental_agg_update,
    )

    base = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0), ("c", 7.0)], "g string, v double"
    )
    base_agg = base.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("v")
    )
    added = spark.createDataFrame(
        [("a", 10.0), ("d", 1.5)], "g string, v double"
    )
    removed = spark.createDataFrame(
        [("a", 1.0), ("c", 7.0)], "g string, v double"  # c emptied
    )
    got = {
        r.g: (r.n_rows, round(r.v, 9))
        for r in incremental_agg_update(
            base_agg, added, removed, ["g"], ["v"]
        ).collect()
    }
    assert got == {"a": (2, 12.0), "b": (1, 5.0), "d": (1, 1.5)}


def test_mad_outliers_robustness_vs_zscore(spark):
    """The case MAD exists for: one extreme spike inflates sigma until
    z-scores flag nothing, while the median/MAD boundary still flags
    exactly the spike. Zero-MAD groups flag only exact deviants."""
    from clinical_vector_search_spark.operators.sketch import (
        mad_outliers,
        zscore_outliers,
    )

    rows = [(i, "a", float(v)) for i, v in enumerate(
        [10, 11, 9, 10, 12, 10, 11, 9, 10, 1_000_000]
    )] + [(100 + i, "b", 5.0) for i in range(9)] + [(199, "b", 7.0)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")

    mad = {r.event_type: r for r in mad_outliers(
        df, "value", ["event_type"], 3.0).collect()}
    assert mad["a"].n_outliers == 1       # the spike, and only the spike
    assert mad["a"].med == 10.0
    # z-score on the same group: sigma ~ 3e5, spike z ~ 3.0 -> borderline,
    # every normal point z ~ 0.0003 -> the statistic has collapsed
    z = zscore_outliers(df.filter("event_type = 'a'"),
                        "value", ["event_type"], 5.0)
    assert z.filter("is_outlier").count() == 0  # sigma self-inflation
    # group b: MAD = 0 (>=50% identical) -> only the exact deviant flags
    assert mad["b"].mad == 0.0 and mad["b"].n_outliers == 1


def test_dsir_weights_separate_target_from_rest(spark, sf_dir):
    """DSIR sanity on real data: the mean log importance weight of
    target-language (en) docs must exceed the non-target mean — the
    separation the resampler exists to exploit — and weights must be
    finite for every doc with tokens."""
    from clinical_vector_search_spark.operators.importance import (
        dsir_logweights,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = dsir_logweights(docs, F.col("lang") == F.lit("en"), 1024)
    j = w.join(docs.select("doc_id", "lang"), "doc_id")
    means = {
        r.t: r.m
        for r in j.groupBy((F.col("lang") == "en").alias("t"))
        .agg(F.avg("logw").alias("m"))
        .collect()
    }
    assert means[True] > means[False], means
    assert j.filter(F.col("logw").isNull()).count() == 0
    # every doc with at least one token is scored
    assert w.count() == docs.filter(F.length(F.trim("text")) > 0).count()


def test_logreg_learns_language_from_text_stats(spark, sf_dir):
    """Five GD iterations must actually learn: log-loss drops below the
    zero-weight model's ln(2), each learned weight's sign matches the
    target-vs-rest direction of its feature in the DATA (no priors —
    this synthetic corpus gives 'non-English' docs slightly MORE
    English stopwords, so the stopword weight is legitimately
    negative), and a zero-variance feature is rejected with a clear
    error instead of a DIVIDE_BY_ZERO deep in the plan."""
    from clinical_vector_search_spark.operators.logreg import (
        logreg_eval,
        logreg_train,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ntok = TXT.token_count("text").cast("double")
    feats = docs.select(
        (F.col("lang") == "en").alias("is_en"),
        ntok.alias("n_tokens"),
        (F.col("n_chars").cast("double") / F.greatest(ntok, F.lit(1.0)))
        .alias("mean_tok_len"),
        TXT.stopword_ratio(TXT.tokenize("text")).alias("stopword_ratio"),
    )
    cols = ["n_tokens", "mean_tok_len", "stopword_ratio"]
    w = logreg_train(feats, cols, F.col("is_en"), n_iter=5)
    wd = dict(w)
    # each weight's sign follows the data's target-vs-rest direction
    diffs = feats.groupBy("is_en").agg(
        *[F.avg(c).alias(c) for c in cols]
    ).collect()
    mu = {r.is_en: r for r in diffs}
    for c in cols:
        direction = mu[True][c] - mu[False][c]
        assert direction * wd[c] > 0, (c, direction, wd[c])
    ev = logreg_eval(feats, cols, F.col("is_en"), w).first()
    assert ev.log_loss < 0.6931, ev.log_loss  # better than ln(2) at w=0
    assert 0.0 <= ev.accuracy <= 1.0

    with pytest.raises(ValueError, match="zero-variance"):
        logreg_train(
            feats.withColumn("flat", F.lit(1.0)),
            cols + ["flat"],
            F.col("is_en"),
        )


def test_logreg_calibration_table_consistency(spark, sf_dir):
    """The calibration table partitions every scored row: bin counts
    sum to the corpus, each bin's mean predicted p lies inside its own
    decile bounds, and the n-weighted actual rates recompose the
    overall positive rate."""
    from clinical_vector_search_spark.operators.logreg import (
        logreg_calibration,
        logreg_train,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ntok = TXT.token_count("text").cast("double")
    feats = docs.select(
        F.col("lang").eqNullSafe(F.lit("en")).alias("is_en"),
        ntok.alias("n_tokens"),
        (F.col("n_chars").cast("double") / F.greatest(ntok, F.lit(1.0)))
        .alias("mean_tok_len"),
        TXT.stopword_ratio(TXT.tokenize("text")).alias("stopword_ratio"),
    )
    cols = ["n_tokens", "mean_tok_len", "stopword_ratio"]
    w = logreg_train(feats, cols, F.col("is_en"), n_iter=5)
    cal = logreg_calibration(feats, cols, F.col("is_en"), w, 10).collect()
    n_docs = docs.count()
    assert sum(r.n for r in cal) == n_docs
    for r in cal:
        assert 0 <= r.bin <= 9
        assert r.bin / 10 - 1e-6 <= r.mean_p <= (r.bin + 1) / 10 + 1e-6, r
    pos = feats.agg(F.avg(F.col("is_en").cast("double"))).first()[0]
    recomposed = sum(r.n * r.actual_rate for r in cal) / n_docs
    assert abs(recomposed - pos) < 1e-6, (recomposed, pos)


def test_sign_pack_padding_and_hamming(spark):
    """dim not a multiple of word_bits: tail bits are zero-padded; hamming
    counts only real sign disagreements."""
    df = spark.createDataFrame(
        [(1, [0.5, -0.2, 0.1, -0.9]), (2, [-0.5, 0.2, 0.1, 0.9])],
        "id long, v array<double>",
    )
    out = {
        r.id: r.code
        for r in df.select(
            "id", V.sign_pack("v", 4, word_bits=3).alias("code")
        ).collect()
    }
    # signs [1,0,1,0] → MSB-first word0=101b=5, word1=0xx padded → 0
    assert out[1] == [5, 0]
    # signs [0,1,1,1] → word0=011b=3, word1=1(pad,pad) → 4
    assert out[2] == [3, 4]
    codes = df.select("id", V.sign_pack("v", 4, word_bits=3).alias("code"))
    h = (
        codes.alias("a")
        .crossJoin(codes.alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(V.hamming("a.code", "b.code").alias("h"))
        .collect()[0]
        .h
    )
    assert h == 3  # elements 1, 2, 4 disagree in sign


def test_hamming_rerank_recall_floor_and_exact_at_full_candidates(
    corpus, queries
):
    from clinical_vector_search_spark.operators.knn import hamming_rerank

    k = 10
    exact = {(r.query_id, r.doc_id) for r in knn(queries, corpus, k).collect()}
    approx = {
        (r.query_id, r.doc_id)
        for r in hamming_rerank(
            queries, corpus, k=k, dim=64, n_candidates=60
        ).collect()
    }
    # self-match survives (query == doc → hamming 0, cosine 1)
    assert {(i, i) for i in range(5)} <= approx
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"hamming-rerank recall@10 collapsed: {recall}"

    n = corpus.count()
    full = sorted(
        (r.query_id, r.rank, r.doc_id)
        for r in hamming_rerank(
            queries, corpus, k=k, dim=64, n_candidates=n
        ).collect()
    )
    ex = sorted(
        (r.query_id, r.rank, r.doc_id) for r in knn(queries, corpus, k).collect()
    )
    assert full == ex  # candidates ≥ corpus ⇒ exact top-k


def test_cooccurrence_lift_golden(spark):
    # 4 baskets: {a,b} x3, {a,c} x1 — a in 4, b in 3, c in 1
    # (a,b): pair 3, lift = 3*4/(4*3) = 1.0
    # (a,c): pair 1, lift = 1*4/(4*1) = 1.0
    # duplicate item rows in a basket must count once (distinct-first)
    from clinical_vector_search_spark.operators.basket import (
        cooccurrence_lift,
    )

    rows = [
        (1, "a"), (1, "b"), (1, "b"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "b"),
        (4, "a"), (4, "c"),
    ]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = {
        (r.item_a, r.item_b): r
        for r in cooccurrence_lift(df, "basket", "item").collect()
    }
    assert set(out) == {("a", "b"), ("a", "c")}
    ab = out[("a", "b")]
    assert (ab.pair_n, ab.supp_a, ab.supp_b) == (3, 4, 3)
    assert abs(ab.lift - 1.0) < 1e-9
    # item support cut prunes c before the self-join
    cut = cooccurrence_lift(df, "basket", "item", min_item_support=2)
    assert {(r.item_a, r.item_b) for r in cut.collect()} == {("a", "b")}
    # anti-correlated pair: lift < 1
    rows2 = rows + [(5, "b"), (5, "c"), (6, "a"), (7, "a")]
    df2 = spark.createDataFrame(rows2, "basket long, item string")
    out2 = {
        (r.item_a, r.item_b): r.lift
        for r in cooccurrence_lift(df2, "basket", "item").collect()
    }
    # a in 6 of 7 baskets, b in 4, ab in 3: lift = 3*7/(6*4) < 1
    assert abs(out2[("a", "b")] - round(21 / 24, 6)) < 1e-9


def test_triangle_count_golden(spark):
    # K4 on {1,2,3,4} (4 triangles, every node in 3) plus a pendant edge
    # 4-5 (no triangle) and a duplicate/reversed edge to exercise
    # canonicalization; node 5 must be absent from the output
    from clinical_vector_search_spark.operators.graph import triangle_count

    k4 = [(u, v) for u in range(1, 5) for v in range(u + 1, 5)]
    edges = k4 + [(4, 5), (2, 1), (1, 2), (3, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: r.n_triangles for r in triangle_count(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    # global count = sum/3
    assert sum(out.values()) // 3 == 4
    # triangle-free graph (a path) -> empty result
    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    assert triangle_count(path).count() == 0


def test_triangle_count_star_has_none_and_hub_bound(spark):
    # star K1,5: hub degree 5 but zero triangles; adding one rim edge
    # creates exactly one triangle — counted once, not six times
    from clinical_vector_search_spark.operators.graph import triangle_count

    star = [(0, i) for i in range(1, 6)]
    df = spark.createDataFrame(star, "src long, dst long")
    assert triangle_count(df).count() == 0
    df2 = spark.createDataFrame(star + [(1, 2)], "src long, dst long")
    out = {r.node: r.n_triangles for r in triangle_count(df2).collect()}
    assert out == {0: 1, 1: 1, 2: 1}


def test_hll_md5_estimate_accuracy_and_union_identity(spark):
    """The deterministic md5 HLL: estimate within 5% at three
    cardinalities, and sketch-of-union == per-bucket-max of sketches
    (the algebra hll_overlap relies on)."""
    from clinical_vector_search_spark.operators.sketch import (
        hll_md5_estimate,
        hll_md5_registers,
    )

    for n in (100, 2000, 20000):
        df = spark.range(n).select(
            F.lit("g").alias("g"), F.col("id").cast("string").alias("v")
        )
        regs = hll_md5_registers(df, ["g"], "v")
        est = hll_md5_estimate(regs, ["g"]).collect()[0].n_distinct_est
        assert abs(est - n) / n < 0.05, (n, est)
    # union identity: A = 0..999, B = 500..1499
    a = spark.range(0, 1000).select(
        F.lit("a").alias("g"), F.col("id").cast("string").alias("v")
    )
    b = spark.range(500, 1500).select(
        F.lit("b").alias("g"), F.col("id").cast("string").alias("v")
    )
    both = a.unionAll(b)
    regs = hll_md5_registers(both, ["g"], "v")
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("m").alias("m"))
        .withColumn("g", F.lit("u"))
    )
    direct = hll_md5_registers(
        both.select(F.lit("u").alias("g"), "v"), ["g"], "v"
    )
    m1 = {r.bucket: r.m for r in merged.collect()}
    m2 = {r.bucket: r.m for r in direct.collect()}
    assert m1 == m2
    est_u = hll_md5_estimate(direct, ["g"]).collect()[0].n_distinct_est
    assert abs(est_u - 1500) / 1500 < 0.05


def test_hll_overlap_calibration(spark):
    """Inclusion-exclusion overlap estimate lands within ~6% of the true
    intersection for half-overlapping kilosets."""
    from clinical_vector_search_spark.operators.sketch import hll_overlap

    a = spark.range(0, 1000).select(
        F.lit("a").alias("g"), F.col("id").cast("string").alias("v")
    )
    b = spark.range(500, 1500).select(
        F.lit("b").alias("g"), F.col("id").cast("string").alias("v")
    )
    out = hll_overlap(a.unionAll(b), "g", "v").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.exact_a, r.exact_b, r.exact_overlap) == (1000, 1000, 500)
    assert abs(r.est_overlap - 500) < 60
    assert abs(r.abs_err - abs(r.est_overlap - 500)) < 1e-6


def test_skyline_2d_matches_quadratic_reference(spark):
    import itertools

    from clinical_vector_search_spark.operators.skyline import skyline_2d

    pts = [
        (1, 10, 1.0), (2, 9, 5.0), (3, 9, 5.0), (4, 8, 9.0),
        (5, 10, 0.5), (6, 7, 9.0), (7, 10, 1.0), (8, 1, 1.0),
    ]
    df = spark.createDataFrame(pts, "id int, x long, y double")
    got = sorted(r.id for r in skyline_2d(df, "x", "y").collect())

    def dominated(q):
        return any(
            p[1] >= q[1] and p[2] >= q[2]
            and (p[1] > q[1] or p[2] > q[2])
            for p in pts if p[0] != q[0]
            # exact duplicates dominate neither
            and not (p[1] == q[1] and p[2] == q[2])
        )

    want = sorted(q[0] for q in pts if not dominated(q))
    assert got == want
    # duplicates (1,7) both survive; (5) dominated by them; (8) dominated
    assert 1 in got and 7 in got and 5 not in got and 8 not in got


def test_skyline_local_prefilter_superset_and_identical_result(spark):
    """Distributed-skyline reduction: the per-partition local skyline is
    a SUPERSET of the global skyline (dropping only locally-dominated
    points is safe), and skyline_2d(local_prefilter=True) returns
    exactly the plain result — on seeded random data spread over many
    partitions, with duplicate points and tied axes included."""
    import random

    from clinical_vector_search_spark.operators.skyline import (
        _local_skyline_prefilter,
        skyline_2d,
    )

    rng = random.Random(9)
    pts = [
        (i, rng.randrange(0, 40), float(rng.randrange(0, 40)))
        for i in range(400)
    ]
    pts += [(400 + i, x, y) for i, (_, x, y) in enumerate(pts[:25])]  # dups
    df = spark.createDataFrame(
        pts, "id int, x long, y double"
    ).repartition(16)

    plain = sorted(r.id for r in skyline_2d(df, "x", "y").collect())
    pre = sorted(
        r.id for r in skyline_2d(
            df, "x", "y", local_prefilter=True
        ).collect()
    )
    assert pre == plain
    local = {r.id for r in _local_skyline_prefilter(df, "x", "y").collect()}
    assert set(plain) <= local
    assert len(local) < len(pts)  # the filter actually filters


def test_skyline_prefilter_nan_parity(spark):
    """NaN y: Spark ranks NaN above every double (and NaN==NaN), while
    raw numpy comparisons are always False on NaN — the prefilter must
    use Spark's ordering (NaN→inf comparison substitute) so both paths
    agree and NaN rows aren't silently dropped locally (ADVICE r9)."""
    from clinical_vector_search_spark.operators.skyline import skyline_2d

    nan = float("nan")
    pts = [
        (1, 10, nan), (2, 10, 5.0), (3, 12, nan), (4, 12, nan),
        (5, 15, 2.0), (6, 8, nan), (7, 15, 1.0), (8, 12, 3.0),
    ]
    df = spark.createDataFrame(
        pts, "id int, x long, y double"
    ).repartition(4)
    plain = sorted(r.id for r in skyline_2d(df, "x", "y").collect())
    pre = sorted(
        r.id for r in skyline_2d(
            df, "x", "y", local_prefilter=True
        ).collect()
    )
    assert pre == plain
    # Spark semantics: NaN dominates plain doubles at equal-or-larger x,
    # duplicate (x, NaN) points both survive, larger-x NaN kills
    # smaller-x NaN.
    assert plain == [3, 4, 5]


def test_skyline_null_exclusion_and_name_collisions(spark):
    """NULL in either coordinate is excluded by CONTRACT (explicit
    filters — identical on plain and prefiltered paths, where before
    NULL-x rows vanished only as a join artifact), and the internal
    running-max columns are collision-proofed against same-named input
    columns (ADVICE r10)."""
    from clinical_vector_search_spark.operators.skyline import skyline_2d

    rows = [
        (1, None, 99.0, "a"), (2, 10, None, "b"), (3, 10, 5.0, "c"),
        (4, 12, 3.0, "d"), (5, 9, 6.0, "e"), (6, None, None, "f"),
    ]
    df = spark.createDataFrame(
        rows, "id int, x long, y double, _m_eq string"
    ).withColumn("_m_gt", F.col("_m_eq"))
    for pre in (False, True):
        got = sorted(
            r.id
            for r in skyline_2d(df, "x", "y", local_prefilter=pre).collect()
        )
        assert got == [3, 4, 5], f"local_prefilter={pre}"
    # input columns with the internal names pass through untouched
    out = skyline_2d(df, "x", "y")
    assert out.columns == df.columns
    assert {r._m_eq for r in out.collect()} == {"c", "d", "e"}


def test_no_shrinking_window_frames_in_source():
    """Source-level lint twin of plan-audit check 53: a window frame
    ending at unboundedFollowing whose lower bound is not
    unboundedPreceding uses Spark's UnboundedFollowingWindowFunctionFrame,
    which re-scans the frame per row — O(n²) inside one task (measured
    151 s at 100k rows on the pre-r10 skyline spelling). Suffix
    aggregates must be spelled total-minus-growing-prefix or a
    reverse-ordered running frame instead."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1]
    sources = sorted(
        (root / "clinical_vector_search_spark").rglob("*.py")
    ) + [root / "__spark_entry__.py", root / "bench.py"]
    call = re.compile(
        r"(?:rows|range)Between\(\s*([^,]+?),\s*([^()]*?)\)", re.DOTALL
    )
    bad = []
    for src in sources:
        text = src.read_text()
        for m in call.finditer(text):
            lo, hi = m.group(1), m.group(2)
            if "unboundedFollowing" in hi and "unboundedPreceding" not in lo:
                line = text[: m.start()].count("\n") + 1
                bad.append(f"{src.relative_to(root)}:{line}: {m.group(0)!r}")
    assert not bad, "shrinking window frame(s) — O(n²) per task:\n" + "\n".join(bad)


def test_unpartitioned_windows_are_allowlisted():
    """Companion to the shrinking-frame lint: every UNPARTITIONED window
    (``Window.orderBy`` with no ``partitionBy``) funnels its whole input
    through ONE task, so each site must operate at a provably bounded
    granularity. This pins the inventory — a new unpartitioned window
    fails here until its boundedness is argued and the site is added.

    Current inventory and why each is bounded:
      textrank_keywords — vocabulary-granularity pagerank scores;
      logreg_auc        — distinct-score granularity counts;
      kaplan_meier / log_rank_test — distinct event times;
      mann_whitney_u / ks_two_sample — round-to-precision value bins;
      spearman_corr     — distinct values (bins=K caps it; the exact
                          path's cardinality precondition is in its
                          docstring);
      woe_iv            — exact path's total-order ntile (the
                          documented approx=True escape hatch removes
                          it);
      skyline_2d        — distinct-x group maxima."""
    import pathlib
    import re

    allow = {
        ("operators/graph.py", "textrank_keywords"),
        ("operators/logreg.py", "logreg_auc"),
        ("operators/skyline.py", "skyline_2d"),
        ("operators/stats.py", "kaplan_meier"),
        ("operators/stats.py", "woe_iv"),
        ("operators/stats.py", "mann_whitney_u"),
        ("operators/stats.py", "log_rank_test"),
        ("operators/stats.py", "spearman_corr"),
        ("operators/stats.py", "ks_two_sample"),
    }
    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "clinical_vector_search_spark"
    found = set()
    for src in sorted(pkg.rglob("*.py")):
        fn = None
        for line in src.read_text().splitlines():
            m = re.match(r"def (\w+)", line)
            if m:
                fn = m.group(1)
            if "Window.orderBy" in line:
                found.add((str(src.relative_to(pkg)), fn))
    new = found - allow
    gone = allow - found
    assert not new, (
        "NEW unpartitioned window(s) — one-task global sort; prove the "
        f"frame is bounded and allowlist: {sorted(new)}"
    )
    assert not gone, f"stale allowlist entries, remove: {sorted(gone)}"


def test_python_streamsource_batches_and_parity(spark):
    # the streaming python source must deliver the batch source's exact
    # rows across micro-batch boundaries (200+200+100), exactly once
    from clinical_vector_search_spark.io.pysource import register

    register(spark)
    name = "synth_stream_test"
    q = (
        spark.readStream.format("synthetic_docs")
        .option("rows", 500)
        .option("batch_rows", 200)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        batches = [
            p["numInputRows"] for p in q.recentProgress
            if p["numInputRows"] > 0
        ]
    finally:
        q.stop()
    streamed = spark.table(name)
    batch = (
        spark.read.format("synthetic_docs")
        .option("rows", 500)
        .option("partitions", 8)
        .load()
    )
    assert batches == [200, 200, 100]
    assert streamed.count() == 500
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_incremental_join_partitions_new_pairs_exactly(spark):
    from clinical_vector_search_spark.operators.audit import (
        incremental_join_update,
    )

    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, lv string"
    )
    right = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (3, 30), (4, 40)], "rk int, rv int"
    )
    l0, dl = left.filter("k != 2"), left.filter("k = 2")
    r0, dr = right.filter("rv != 11"), right.filter("rv = 11")
    view0 = l0.join(r0, l0.k == r0.rk).select("k", "lv", "rv")
    upd = incremental_join_update(view0, l0, r0, dl, dr, "k", "rk")
    got = sorted((r.k, r.lv, r.rv) for r in upd.collect())
    full = sorted(
        (r.k, r.lv, r.rv)
        for r in left.join(right, left.k == right.rk)
        .select("k", "lv", "rv")
        .collect()
    )
    assert got == full
    # delta-delta term matters: insert matching rows on BOTH sides
    dl2 = spark.createDataFrame([(9, "z")], "k int, lv string")
    dr2 = spark.createDataFrame([(9, 90)], "rk int, rv int")
    upd2 = incremental_join_update(view0, l0, r0, dl2, dr2, "k", "rk")
    assert (9, "z", 90) in {(r.k, r.lv, r.rv) for r in upd2.collect()}
