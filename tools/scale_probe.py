"""10x scale probe for the auto-dispatching operators (VERDICT r6 task 8).

Converts the "survives 100x" story from plan-reading to measured data
points: unions the sf0.1 tables with themselves x10 (events 100k -> 1M
rows, embeddings 2k -> 20k vectors; ids shifted per replica so key
cardinality scales with the data instead of stacking duplicates) and
records:

  * sessionize auto-dispatch: strategy choice + wall time at 1x and 10x
    (uniform data must stay on the PLAIN plan at both scales);
  * funnel (auto histogram dispatch) wall-time growth;
  * semantic_dedup growth two ways: n_clusters FIXED (work is
    sum(|c|^2) -> expect ~quadratic growth, the documented trade-off)
    and n_clusters SCALED 10x so E[|c|] is constant (the operator's
    prescribed usage -> expect ~linear);
  * exact-kNN window vs partial_topk wall times at both scales (the
    measured side of the AUTO_WINDOW_MAX_BYTES dispatch constant);
  * maintained-codes ANN serving over 1x vs 10x prebuilt codes (r11);
  * tf-idf retrieval growth, TextRank, DSIR, SCD2 incremental vs full
    merge, incremental near-dup maintenance vs the one-shot self-join;
  * incremental BM25: fixed-batch ingest vs corpus size vs the one-shot
    rebuild (r11);
  * skyline plain vs local-prefilter at 1M rows, anti-correlated and
    correlated axes (r10).

Embedding replicas are perturbed with the deterministic LCG noise
expression (ids differ per replica, so noise differs) to keep near-dup
pair density realistic — exact duplicates would quadratically inflate
OUTPUT rows and measure result-writing, not comparison work.

Usage: python tools/scale_probe.py  (~6-9 min at local[32]; one JSON line
at the end, plus human-readable progress on stderr). Runs at
local[$SPARK_GRAFT_CPUS] (session.get_spark's core-count rule) over
$SPARK_GRAFT_SF_DIR (default sf0.1). Results are summarized in README
"10x scale probe".
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def log(msg: str) -> None:
    print(msg, file=sys.stderr)


def timed(fn) -> float:
    t0 = time.time()
    df = fn()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def main() -> None:
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from clinical_vector_search_spark.session import get_spark

    spark = get_spark(
        "cvs-scale-probe", extra_conf={"spark.driver.memory": "24g"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    from clinical_vector_search_spark.functions import vector as V
    from clinical_vector_search_spark.operators.dedup import semantic_dedup
    from clinical_vector_search_spark.operators.knn import knn
    from clinical_vector_search_spark.streaming.events import (
        choose_sessionize_strategy,
        funnel,
        read_events,
        sessionize,
    )

    out: dict = {"sf_dir": SF_DIR, "factor": 10}

    def replicate(df: DataFrame, n: int, shifts: dict[str, int]) -> DataFrame:
        reps = []
        for i in range(n):
            r = df
            for col, step in shifts.items():
                r = r.withColumn(col, F.col(col) + F.lit(i * step))
            reps.append(r)
        return reduce(DataFrame.unionByName, reps)

    ev1 = read_events(spark, SF_DIR)
    # user ids 0-1499; shift by 10k per replica -> 10x users, same
    # per-user density (the uniform-data regime the dispatcher probes)
    ev10 = replicate(
        ev1, 10, {"user_id": 10_000, "event_id": 1_000_000}
    ).cache()
    n10 = ev10.count()
    out["events_rows_10x"] = n10
    log(f"events 10x materialized: {n10} rows")

    # --- sessionize auto-dispatch -------------------------------------
    out["sessionize_strategy_1x"] = choose_sessionize_strategy(ev1)
    out["sessionize_strategy_10x"] = choose_sessionize_strategy(ev10)
    out["sessionize_auto_1x_sec"] = timed(
        lambda: sessionize(ev1, 1800, strategy="auto")
    )
    out["sessionize_auto_10x_sec"] = timed(
        lambda: sessionize(ev10, 1800, strategy="auto")
    )
    log(f"sessionize: {out['sessionize_strategy_1x']} "
        f"{out['sessionize_auto_1x_sec']}s -> "
        f"{out['sessionize_strategy_10x']} {out['sessionize_auto_10x_sec']}s")

    # --- funnel -------------------------------------------------------
    steps = ["view", "click", "purchase"]
    out["funnel_1x_sec"] = timed(lambda: funnel(ev1, steps))
    out["funnel_10x_sec"] = timed(lambda: funnel(ev10, steps))
    log(f"funnel: {out['funnel_1x_sec']}s -> {out['funnel_10x_sec']}s")

    # --- semantic dedup ----------------------------------------------
    emb1 = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    emb10 = (
        replicate(emb1, 10, {"vec_id": 1_000_000})
        .select(
            "vec_id",
            V.add_noise("embedding", "vec_id", 0.05, 64).alias("embedding"),
        )
        .cache()
    )
    out["emb_rows_10x"] = emb10.count()
    # lanes PINNED to accel="expr" since r13 (the default became "auto",
    # which dispatches c64/c640 to the BLAS lane): these three rows are
    # the interpreted-lane history the dispatch decision rests on —
    # keep them measuring the same thing across rounds
    out["semdedup_1x_c64_sec"] = timed(
        lambda: semantic_dedup(
            emb1, dim=64, threshold=0.35, n_clusters=64, accel="expr"
        )
    )
    # fixed cluster count: per-cluster size grows 10x, sum(|c|^2) 100x
    out["semdedup_10x_c64_sec"] = timed(
        lambda: semantic_dedup(
            emb10, dim=64, threshold=0.35, n_clusters=64, accel="expr"
        )
    )
    # scaled cluster count (the prescribed usage): E[|c|] constant
    out["semdedup_10x_c640_sec"] = timed(
        lambda: semantic_dedup(
            emb10, dim=64, threshold=0.35, n_clusters=640, accel="expr"
        )
    )
    # BLAS path: accel='pd' runs assignment as X @ C^T (the r7 probe
    # found the interpreted assignment dominating at 640 clusters)
    out["semdedup_10x_c640_pd_sec"] = timed(
        lambda: semantic_dedup(
            emb10, dim=64, threshold=0.35, n_clusters=640, accel="pd"
        )
    )
    # auto dispatch (r13): choose_semantic_encoder flips to BLAS above
    # the dim×n_clusters boundary — the auto row must track the pd row
    # at 640 clusters, and the chosen lanes are recorded so a moved
    # boundary is visible in the probe output
    from clinical_vector_search_spark.operators.dedup import (
        choose_semantic_encoder,
    )

    out["semdedup_encoder_auto_c8"] = choose_semantic_encoder(64, 8)
    out["semdedup_encoder_auto_c640"] = choose_semantic_encoder(64, 640)
    out["semdedup_10x_c640_auto_sec"] = timed(
        lambda: semantic_dedup(
            emb10, dim=64, threshold=0.35, n_clusters=640, accel="auto"
        )
    )
    log(f"semantic_dedup: 1x/c64 {out['semdedup_1x_c64_sec']}s, "
        f"10x/c64 {out['semdedup_10x_c64_sec']}s, "
        f"10x/c640 {out['semdedup_10x_c640_sec']}s, "
        f"10x/c640/pd {out['semdedup_10x_c640_pd_sec']}s, "
        f"10x/c640/auto {out['semdedup_10x_c640_auto_sec']}s "
        f"(lanes: c8={out['semdedup_encoder_auto_c8']}, "
        f"c640={out['semdedup_encoder_auto_c640']})")

    # --- kNN window vs partial_topk crossover -------------------------
    def vecs_norm(df):
        return df.select(
            F.col("vec_id").alias("doc_id"),
            V.l2_normalize("embedding").alias("embedding"),
        )

    for label, emb in (("1x", emb1), ("10x", emb10)):
        v = vecs_norm(emb)
        q = v.filter(F.col("doc_id") < 10).select(
            F.col("doc_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        out[f"knn_window_{label}_sec"] = timed(
            lambda: knn(q, v, 10, strategy="window")
        )
        out[f"knn_partial_topk_{label}_sec"] = timed(
            lambda: knn(q, v, 10, strategy="partial_topk")
        )
        log(f"knn {label}: window {out[f'knn_window_{label}_sec']}s, "
            f"partial_topk {out[f'knn_partial_topk_{label}_sec']}s")

    # --- maintained-codes ANN serving growth (r11) ---------------------
    # Claim under test: knn_ivfpq_codes serves from the prebuilt codes
    # table (here m=8 int32 codes + cluster ≈ 36 B/vec vs 64×float raw),
    # so query cost = probed-cell codes scan + ADC table lookups —
    # linear in corpus rows with a small constant, never touching the
    # raw vectors. Codes at both scales are prebuilt (maintenance is
    # amortized, as in production); compare against the exact-knn rows
    # above, which must rescan the full-width raw vectors every query.
    from clinical_vector_search_spark.operators.pq import (
        ivfpq_encode_pd,
        knn_ivfpq_codes,
        pq_codebooks_lcg,
    )

    books = pq_codebooks_lcg(64, 8, 16)
    for label, emb in (("1x", emb1), ("10x", emb10)):
        nm = emb.select(
            "vec_id", V.l2_normalize("embedding").alias("embedding")
        )
        codes = ivfpq_encode_pd(
            nm, 64, books, n_centroids=16
        ).localCheckpoint()
        out[f"codes_rows_{label}"] = codes.count()
        q = nm.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        ).localCheckpoint()
        out[f"ann_codes_serve_{label}_sec"] = timed(
            lambda: knn_ivfpq_codes(
                q, codes, 10, 64, books, n_centroids=16,
                doc_id="vec_id", n_probe=4,
            )
        )
        # refine serving (r12): same ADC coarse cut + exact rescore of
        # ONLY the top-50 candidates per query (knn_refine_codes). The
        # rescore side is Q·k_coarse rows at EVERY corpus size, so the
        # growth across 10x must track the coarse ADC stage, not the
        # raw-vector join — the candidate fetch is constant-sized.
        from clinical_vector_search_spark.operators.pq import (
            knn_refine_codes,
        )

        out[f"ann_refine_serve_{label}_sec"] = timed(
            lambda: knn_refine_codes(
                q, codes, nm, 10, 64, books, n_centroids=16,
                k_coarse=50, doc_id="vec_id", n_probe=4,
            )
        )
        log(
            f"codes serving {label}: {out[f'codes_rows_{label}']} codes, "
            f"{out[f'ann_codes_serve_{label}_sec']}s; refine "
            f"{out[f'ann_refine_serve_{label}_sec']}s"
        )

    # --- IVF-PQ retrain-and-re-encode compaction (r14) -----------------
    # Claim under test: reindex_ivfpq is the rarely-paid drift-recovery
    # job — two training passes + one encode pass + one rewrite, each
    # one scan of the corpus, so cost grows ~linearly with corpus size
    # (vs the flat ∝-batch ingest it complements). Honest number: this
    # is exactly the full-rebuild cost the reference pays EVERY run
    # (pipeline.py:126-136); here it is paid once per retrain cadence.
    import shutil as _shutil
    import tempfile as _tempfile

    from clinical_vector_search_spark.operators.pq import (
        ivfpq_index_add,
        reindex_ivfpq,
    )

    for label, emb in (("1x", emb1), ("10x", emb10)):
        nm = emb.select(
            "vec_id", V.l2_normalize("embedding").alias("embedding")
        ).localCheckpoint()
        rdir = _tempfile.mkdtemp(prefix=f"cvs_probe_reindex_{label}_")
        idxp = os.path.join(rdir, "idx")
        ivfpq_index_add(
            spark, nm, 0, idxp, 64, books, n_centroids=16, encoder="pd"
        )
        t0 = time.time()
        reindex_ivfpq(
            spark, idxp, nm, 64, m=8, ksub=16, n_centroids=16, n_iter=3
        )
        out[f"ivfpq_reindex_{label}_sec"] = round(time.time() - t0, 3)
        _shutil.rmtree(rdir, ignore_errors=True)
        log(
            f"ivfpq reindex {label}: "
            f"{out[f'ivfpq_reindex_{label}_sec']}s"
        )

    # --- tf-idf retrieval growth (VERDICT r7 task 7) ------------------
    # 10x docs with a SHARED vocabulary (replicas keep their text — the
    # natural-corpus regime: vocabulary saturates while postings grow
    # linearly with docs), so this measures exactly the claim at stake:
    # query cost grows with the POSTINGS of the query terms (~10x),
    # not with vocabulary or with all-pairs anything. The norms join
    # placement claim (AFTER the (query,doc) aggregation) is re-measured
    # at 10x against the postings-wide BEFORE variant.
    from clinical_vector_search_spark.operators.sparse import (
        tfidf_cosine_topk,
        tfidf_doc_norms,
        tfidf_index,
    )
    from pyspark.sql import Window

    docs1 = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    docs10 = replicate(docs1, 10, {"doc_id": 1_000_000})
    qterms = spark.createDataFrame(
        [
            (i, t, 1)
            for i, pair in enumerate(
                [
                    ("patient", "history"), ("blood", "pressure"),
                    ("chest", "pain"), ("left", "right"),
                    ("normal", "exam"), ("pain", "history"),
                    ("procedure", "performed"), ("time", "well"),
                    ("prior", "disease"), ("noted", "present"),
                ]
            )
            for t in pair
        ],
        "query_id long, term string, qtf long",
    )

    def timed2(fn) -> float:
        # best-of-2: the first run of a query family pays one-time JIT/
        # codegen costs that at these sizes dwarf the data work and
        # would corrupt the 1x-vs-10x growth read
        return min(timed(fn), timed(fn))

    for label, d in (("1x", docs1), ("10x", docs10)):
        t0 = time.time()
        idx = tfidf_index(d).cache()
        n_postings = idx.count()  # materializes the cached index
        out[f"tfidf_index_build_{label}_sec"] = round(time.time() - t0, 3)
        out[f"tfidf_postings_{label}"] = n_postings
        out[f"tfidf_query_{label}_sec"] = timed2(
            lambda: tfidf_cosine_topk(idx, qterms, 10)
        )
        if label == "10x":
            # norms-BEFORE-agg strawman: join doc norms onto every
            # surviving posting row, then aggregate — the shuffle the
            # index docstring says to avoid
            def norms_before():
                qt = qterms.select("term").distinct()
                vi = (idx.join(F.broadcast(qt), "term")
                         .select("term", "idf").distinct())
                qw = qterms.join(F.broadcast(vi), "term").select(
                    "query_id", "term",
                    (F.col("qtf") * F.col("idf")).alias("qw"))
                qn = qw.groupBy("query_id").agg(
                    F.sqrt(F.sum(F.col("qw") * F.col("qw"))).alias("qnorm"))
                qs = F.broadcast(qw.join(qn, "query_id")
                                   .filter(F.col("qnorm") > 0))
                wide = (idx.join(tfidf_doc_norms(idx), "doc")
                           .join(qs, "term"))
                dots = wide.groupBy("query_id", "doc").agg(
                    F.sum(F.col("w") * F.col("qw")).alias("_dot"),
                    F.first("qnorm").alias("qnorm"),
                    F.first("norm").alias("norm"))
                scored = dots.filter(F.col("norm") > 0).select(
                    "query_id", "doc",
                    F.round(F.col("_dot")
                            / (F.col("norm") * F.col("qnorm")), 6)
                    .alias("score"))
                win = Window.partitionBy("query_id").orderBy(
                    F.desc("score"), F.asc("doc"))
                return (scored.withColumn(
                            "rank", F.row_number().over(win))
                        .filter(F.col("rank") <= 10))

            out["tfidf_query_10x_norms_before_sec"] = timed2(norms_before)
        idx.unpersist()
        log(f"tfidf {label}: build "
            f"{out[f'tfidf_index_build_{label}_sec']}s, "
            f"{out[f'tfidf_postings_{label}']} postings, query "
            f"{out[f'tfidf_query_{label}_sec']}s")

    # --- DSIR importance weighting growth (r8) ------------------------
    # 10x docs, shared vocabulary: the (doc, bucket, n) collapse keeps
    # every downstream frame bounded by docs x K, so growth must track
    # docs (~linear), not tokens^2 or vocabulary
    from clinical_vector_search_spark.operators.importance import (
        dsir_logweights,
    )

    docs1l = docs1.join(
        spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "lang"
        ),
        "doc_id",
    )
    docs10l = replicate(docs1l, 10, {"doc_id": 1_000_000})
    for label, d in (("1x", docs1l), ("10x", docs10l)):
        out[f"dsir_{label}_sec"] = timed2(
            lambda: dsir_logweights(
                d, F.col("lang") == F.lit("en"), 1024
            )
        )
    log(f"dsir: {out['dsir_1x_sec']}s -> {out['dsir_10x_sec']}s")

    # --- TextRank growth (r8) ------------------------------------------
    # 10x docs with a SHARED vocabulary: distinct content-word bigrams
    # (the graph) stay vocabulary-bound while supports grow 10x, so the
    # pagerank iterations must cost ~the same at both scales and only
    # the one bigram aggregation may track tokens (~linear) — the claim
    # in textrank_keywords' docstring
    from clinical_vector_search_spark.operators.graph import (
        textrank_keywords,
    )

    for label, d in (("1x", docs1), ("10x", docs10)):
        out[f"textrank_{label}_sec"] = timed2(
            lambda: textrank_keywords(d, min_support=3, top_k=30)
        )
    log(f"textrank: {out['textrank_1x_sec']}s -> "
        f"{out['textrank_10x_sec']}s")

    # --- incremental SCD2 maintenance (r9) -----------------------------
    # Claim under test: scd2_apply_changes cost is ∝ BATCH size, not
    # dimension size — a FIXED change batch applied to a 10x-keys
    # dimension history should cost ~the same as at 1x, while the plain
    # scd2_merge re-sequences every key's open version and grows with
    # the dimension.
    from clinical_vector_search_spark.operators.temporal import (
        scd2_apply_changes,
        scd2_merge,
    )

    upd1 = ev1.select("user_id", "event_type", "ts_ns")
    upd10 = ev10.select("user_id", "event_type", "ts_ns")
    lo, hi = upd1.agg(F.min("ts_ns"), F.max("ts_ns")).first()
    cut = lo + (hi - lo) * 98 // 100
    batch = upd1.filter(F.col("ts_ns") >= cut).localCheckpoint()
    out["scd2_batch_rows"] = batch.count()
    empty = spark.createDataFrame(
        [],
        "user_id long, event_type string, valid_from long, valid_to long",
    )
    hist1 = scd2_merge(
        empty, upd1.filter(F.col("ts_ns") < cut), "user_id", ["event_type"]
    ).localCheckpoint()
    hist10 = scd2_merge(
        empty, upd10.filter(F.col("ts_ns") < cut), "user_id", ["event_type"]
    ).localCheckpoint()
    out["scd2_hist_rows_1x"] = hist1.count()
    out["scd2_hist_rows_10x"] = hist10.count()
    out["scd2_incr_1x_sec"] = timed(
        lambda: scd2_apply_changes(hist1, batch, "user_id", ["event_type"])
    )
    out["scd2_incr_10x_sec"] = timed(
        lambda: scd2_apply_changes(hist10, batch, "user_id", ["event_type"])
    )
    out["scd2_full_merge_10x_sec"] = timed(
        lambda: scd2_merge(hist10, batch, "user_id", ["event_type"])
    )
    log(
        f"scd2 incremental: 1x {out['scd2_incr_1x_sec']}s -> 10x "
        f"{out['scd2_incr_10x_sec']}s (full merge at 10x: "
        f"{out['scd2_full_merge_10x_sec']}s)"
    )

    # --- incremental near-dup maintenance (r11) -------------------------
    # Claim under test (VERDICT r10 task 5): minhash_pairs_incremental
    # cost is ∝ BATCH size, not corpus-index size. A FIXED ~600-doc
    # batch probes a persisted band index grown 10x — extra replicas get
    # DISJOINT buckets (md5 suffix) and shifted ids, so the batch's true
    # match set is IDENTICAL at both scales: the probe isolates
    # maintenance cost vs index size, not output size. Contrast: the
    # one-shot bucket self-join (the minhash_candidate_pairs tail)
    # re-derives old×old every run and must grow with the corpus.
    from clinical_vector_search_spark.operators.dedup import (
        _incremental_pairs_from_buckets,
        minhash_band_buckets,
        minhash_signatures,
    )

    batch_docs = docs1.filter(F.col("doc_id") % 10 == 7).localCheckpoint()
    corpus_docs = docs1.filter(F.col("doc_id") % 10 != 7)
    out["neardup_batch_docs"] = batch_docs.count()
    idx1 = minhash_band_buckets(
        minhash_signatures(corpus_docs, 8, 3), 2
    ).localCheckpoint()
    idx10 = reduce(
        DataFrame.unionByName,
        [idx1]
        + [
            idx1.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                "band",
                F.concat(F.col("bucket"), F.lit(f"-{i}")).alias("bucket"),
            )
            for i in range(1, 10)
        ],
    ).localCheckpoint()
    out["neardup_index_rows_1x"] = idx1.count()
    out["neardup_index_rows_10x"] = idx10.count()
    nb = minhash_band_buckets(
        minhash_signatures(batch_docs, 8, 3), 2
    ).localCheckpoint()
    out["neardup_incr_1x_sec"] = timed2(
        lambda: _incremental_pairs_from_buckets(nb, idx1, materialized=True)
    )
    out["neardup_incr_10x_sec"] = timed2(
        lambda: _incremental_pairs_from_buckets(nb, idx10, materialized=True)
    )
    # sanity: identical emitted pair set at both scales (disjoint-bucket
    # replicas add zero true matches)
    out["neardup_pairs_1x"] = _incremental_pairs_from_buckets(
        nb, idx1, materialized=True
    ).count()
    out["neardup_pairs_10x"] = _incremental_pairs_from_buckets(
        nb, idx10, materialized=True
    ).count()

    def full_pairs(idx):
        allb = idx.unionByName(nb)
        a = allb.select("band", "bucket", F.col("doc_id").alias("a_id"))
        b = allb.select("band", "bucket", F.col("doc_id").alias("b_id"))
        return (
            a.join(b, ["band", "bucket"])
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
            .distinct()
        )

    out["neardup_full_1x_sec"] = timed2(lambda: full_pairs(idx1))
    out["neardup_full_10x_sec"] = timed2(lambda: full_pairs(idx10))
    log(
        f"neardup incremental: 1x {out['neardup_incr_1x_sec']}s -> 10x "
        f"{out['neardup_incr_10x_sec']}s (pairs "
        f"{out['neardup_pairs_1x']}=={out['neardup_pairs_10x']}); "
        f"full self-join {out['neardup_full_1x_sec']}s -> "
        f"{out['neardup_full_10x_sec']}s"
    )

    # --- semantic incremental maintenance (r15 fifth index) -----------
    # The probe touches only the batch's clusters, so cost scales with
    # batch x touched-cluster DENSITY, not corpus size: at fixed
    # n_clusters a 10x corpus makes clusters 10x denser (cost grows);
    # at the prescribed SemDeDup scaling (n_clusters ∝ corpus, E[|c|]
    # constant — the semdedup_10x_c640 rows above) the probe stays
    # ~flat. Contrast: the one-shot semantic_dedup rerun the reference
    # pays every run is the semdedup_* family above (sum |c|^2 over the
    # WHOLE corpus, every time).
    from clinical_vector_search_spark.operators.dedup import (
        _assignment_frame,
        _incremental_pairs_from_assignments,
    )

    sem_batch_src = emb1.filter(F.col("vec_id") % 10 == 7)
    out["sem_batch_vecs"] = sem_batch_src.count()
    sem_b64 = _assignment_frame(sem_batch_src, 64, 64).localCheckpoint()
    sem_b640 = _assignment_frame(sem_batch_src, 64, 640).localCheckpoint()
    sem_i1 = _assignment_frame(
        emb1.filter(F.col("vec_id") % 10 != 7), 64, 64
    ).localCheckpoint()
    sem_i10_c64 = _assignment_frame(
        emb10.filter(F.col("vec_id") % 10 != 7), 64, 64
    ).localCheckpoint()
    sem_i10_c640 = _assignment_frame(
        emb10.filter(F.col("vec_id") % 10 != 7), 64, 640
    ).localCheckpoint()
    out["sem_index_rows_1x"] = sem_i1.count()
    out["sem_index_rows_10x"] = sem_i10_c64.count()
    out["sem_incr_1x_sec"] = timed2(
        lambda: _incremental_pairs_from_assignments(
            sem_b64, sem_i1, 0.35, materialized=True
        )
    )
    out["sem_incr_10x_c64_sec"] = timed2(
        lambda: _incremental_pairs_from_assignments(
            sem_b64, sem_i10_c64, 0.35, materialized=True
        )
    )
    out["sem_incr_10x_c640_sec"] = timed2(
        lambda: _incremental_pairs_from_assignments(
            sem_b640, sem_i10_c640, 0.35, materialized=True
        )
    )
    log(
        f"semantic incremental: 1x/c64 {out['sem_incr_1x_sec']}s -> "
        f"10x/c64 {out['sem_incr_10x_c64_sec']}s (denser clusters) -> "
        f"10x/c640 {out['sem_incr_10x_c640_sec']}s (prescribed scaling;"
        f" vs one-shot semdedup_10x_c640_auto "
        f"{out['semdedup_10x_c640_auto_sec']}s every run)"
    )

    # --- incremental BM25 maintenance growth (r11) ----------------------
    # Claim under test: bm25_index_add cost is ∝ BATCH, not corpus — a
    # FIXED ~600-doc batch folds into a persisted additive-stats index
    # built over 1x vs 10x corpora in ~constant time, while the one-shot
    # bm25_index rebuild (what a per-ingest full rebuild would pay) grows
    # with the corpus. Serving (read-time stat reconstruction + 3-query
    # topk) touches vocabulary-granularity stats + query-term postings
    # only; recorded alongside, expected to grow with the postings of
    # the query terms (~10x) but stay far under the rebuild.
    import shutil as _sh
    import tempfile as _tf

    from clinical_vector_search_spark.io.tables import compact_tombstoned
    from clinical_vector_search_spark.operators.bm25 import (
        bm25_index,
        bm25_index_add,
        bm25_index_delete,
        bm25_read_index,
        bm25_topk_set,
    )

    bm_batch = docs1.filter(F.col("doc_id") % 10 == 7).localCheckpoint()
    out["bm25_batch_docs"] = bm_batch.count()
    bm_corpus1 = docs1.filter(F.col("doc_id") % 10 != 7)
    # FIXED takedown batch (defined from the 1x corpus, whose original
    # ids exist in the replicated 10x corpus too) — the delete claim is
    # ∝ BATCH, so the batch must not grow with the corpus
    bm_del = bm_corpus1.filter(F.col("doc_id") % 20 == 3).localCheckpoint()
    out["bm25_delete_docs"] = bm_del.count()
    bm_corpus10 = replicate(bm_corpus1, 10, {"doc_id": 1_000_000})
    bm_qset = [
        (0, ["patient", "history"]),
        (1, ["blood", "pressure"]),
        (2, ["chest", "pain"]),
    ]

    def t_write_best2(fn) -> float:
        def once() -> float:
            t0 = time.time()
            fn()
            return round(time.time() - t0, 3)

        return min(once(), once())

    for label, corpus in (("1x", bm_corpus1), ("10x", bm_corpus10)):
        bdir = _tf.mkdtemp(prefix=f"cvs_probe_bm25_{label}_")
        bm25_index_add(spark, corpus, 0, bdir)  # base index, amortized
        out[f"bm25_ingest_{label}_sec"] = t_write_best2(
            lambda: bm25_index_add(spark, bm_batch, 1, bdir)
        )
        out[f"bm25_serve_{label}_sec"] = timed2(
            lambda: bm25_topk_set(bm25_read_index(spark, bdir), bm_qset, 10)
        )
        out[f"bm25_rebuild_{label}_sec"] = timed2(
            lambda: bm25_index(corpus.unionByName(bm_batch))
        )
        # delete half of the lifecycle (r12): a FIXED 250-doc takedown
        # batch against the 1x vs 10x index. Claims: (a) the delete
        # WRITE is ∝ batch (tokenize + broadcast anti-join vs existing
        # tombstones — never touches postings), so ~flat across 10x;
        # (b) the post-delete SERVE (negative-delta refold at 10x
        # vocabulary + broadcast tombstone anti-join) stays in the same
        # regime as the pre-delete serve; (c) compact_tombstoned is the
        # rarely-paid background rewrite — honest number, grows with
        # the corpus, which is exactly why deletes are tombstones and
        # not rewrites.
        out[f"bm25_delete_{label}_sec"] = t_write_best2(
            lambda: bm25_index_delete(spark, bm_del, 0, bdir)
        )
        out[f"bm25_serve_postdelete_{label}_sec"] = timed2(
            lambda: bm25_topk_set(bm25_read_index(spark, bdir), bm_qset, 10)
        )
        t0 = time.time()
        compact_tombstoned(spark, f"{bdir}/postings", f"{bdir}/deleted", "doc")
        out[f"bm25_compact_tombstoned_{label}_sec"] = round(
            time.time() - t0, 3
        )
        _sh.rmtree(bdir, ignore_errors=True)
        log(
            f"bm25 {label}: ingest {out[f'bm25_ingest_{label}_sec']}s, "
            f"serve {out[f'bm25_serve_{label}_sec']}s, rebuild "
            f"{out[f'bm25_rebuild_{label}_sec']}s, delete "
            f"{out[f'bm25_delete_{label}_sec']}s, post-delete serve "
            f"{out[f'bm25_serve_postdelete_{label}_sec']}s, compact "
            f"{out[f'bm25_compact_tombstoned_{label}_sec']}s"
        )

    # --- skyline local prefilter (r10) ---------------------------------
    # Claim under test (VERDICT r9 task 4): local_prefilter=True reduces
    # the unpartitioned RANGE-window sort from N rows to ~the local-
    # survivor count. Worst case is ANTI-correlated axes (frontier ~
    # thousands of points — every partition keeps many local survivors);
    # best case is CORRELATED axes (tiny frontier — local passes kill
    # almost everything). 1M rows, deterministic xxhash64 columns,
    # x integer-exact per the operator contract.
    from clinical_vector_search_spark.operators.skyline import skyline_2d

    n_sky = 1_000_000
    base = (
        spark.range(n_sky)
        .select(
            F.col("id"),
            F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("u"),
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(10_000)).alias("noise"),
        )
        .repartition(32)
    )
    frames = {
        "anti": base.select(
            "id", F.col("u").alias("x"),
            (F.lit(1_000_000) - F.col("u") + F.col("noise"))
            .cast("double").alias("y"),
        ).localCheckpoint(),
        "corr": base.select(
            "id", F.col("u").alias("x"),
            (F.col("u") + F.col("noise")).cast("double").alias("y"),
        ).localCheckpoint(),
    }
    from clinical_vector_search_spark.operators.skyline import (
        _local_skyline_prefilter,
    )

    for label, df in frames.items():
        out[f"skyline_{label}_rows"] = df.count()
        out[f"skyline_{label}_local_survivors"] = _local_skyline_prefilter(
            df, "x", "y"
        ).count()
        out[f"skyline_{label}_frontier"] = skyline_2d(
            df, "x", "y", local_prefilter=True
        ).count()
        out[f"skyline_{label}_plain_sec"] = timed(
            lambda: skyline_2d(df, "x", "y")
        )
        out[f"skyline_{label}_prefilter_sec"] = timed(
            lambda: skyline_2d(df, "x", "y", local_prefilter=True)
        )
        log(
            f"skyline {label}: frontier {out[f'skyline_{label}_frontier']} "
            f"(local survivors {out[f'skyline_{label}_local_survivors']}), "
            f"plain {out[f'skyline_{label}_plain_sec']}s vs prefilter "
            f"{out[f'skyline_{label}_prefilter_sec']}s"
        )

    print(json.dumps(out))


if __name__ == "__main__":
    main()
