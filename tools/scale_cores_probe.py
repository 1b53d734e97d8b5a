"""Core-count scaling probe for the heaviest bench families (r16,
VERDICT r15 task 5).

The sf0.1 bench's 8-vs-32-core ratios are all ~1 because every family
sits at the scheduling floor at that data size — the artifact is
structurally unable to demonstrate parallel speedup for ANY family. This
probe closes that gap: it replicates the sf0.1 tables x10 (the
sf1-equivalent volume; ids shifted per replica so key cardinality
scales with the data) and times the 5 heaviest PERF_r15 families warm
(best-of-2 after a throwaway cold run) at local[$SPARK_GRAFT_CPUS]
(session.get_spark's core-count rule). Run it once per core count:

    SPARK_GRAFT_CPUS=32 python tools/scale_cores_probe.py > out32.json
    SPARK_GRAFT_CPUS=8  python tools/scale_cores_probe.py > out8.json

and compare per-family times — event/doc-volume-bound families must show
ratio >> 1 (8-core slower); any family that stays ~1 at this volume
needs a named reason or a fix. One JSON line on stdout; progress on
stderr. Session = bench.py's (get_spark + BENCH_CONF): shuffle.partitions
= cores, AQE on, so partitioning stays scale-adaptive rather than tuned
per run. $SPARK_GRAFT_SF_DIR overrides the sf0.1 input.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FACTOR = 10


def log(msg: str) -> None:
    print(msg, file=sys.stderr)


def main() -> None:
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from bench import BENCH_CONF
    from clinical_vector_search_spark.session import get_spark

    spark = get_spark("cvs-scale-cores", extra_conf=BENCH_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    out: dict = {"cores": cores, "factor": FACTOR, "sf_dir": SF_DIR}

    def noop(df: DataFrame) -> None:
        df.write.format("noop").mode("overwrite").save()

    def timed_best2(fn) -> float:
        """Cold throwaway + best-of-2 warm: the probe compares CORE
        COUNTS, so one-time JIT/codegen/plan costs (identical at any
        core count) must not ride the number."""
        noop(fn())
        reps = []
        for _ in range(2):
            t0 = time.time()
            noop(fn())
            reps.append(round(time.time() - t0, 3))
        return min(reps)

    def replicate(df: DataFrame, shifts: dict[str, int]) -> DataFrame:
        reps = []
        for i in range(FACTOR):
            r = df
            for col, step in shifts.items():
                r = r.withColumn(col, F.col(col) + F.lit(i * step))
            reps.append(r)
        return reduce(DataFrame.unionByName, reps)

    docs1 = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    # text perturbed per replica (replica ordinal appended as a token):
    # exact-duplicate replicas would quadratically inflate dedup OUTPUT
    # rows and measure result writing, not comparison work — same
    # discipline as scale_probe.py's embedding noise
    docs10 = replicate(docs1, {"doc_id": 1_000_000}).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" r"),
            (F.col("doc_id") / 1_000_000).cast("long").cast("string"),
        ),
    ).localCheckpoint()
    out["docs_rows"] = docs10.count()
    log(f"docs x{FACTOR}: {out['docs_rows']} rows at local[{cores}]")

    # --- tfidf_queryset (10-query set over the 10x postings) ----------
    from clinical_vector_search_spark.operators.sparse import (
        tfidf_cosine_topk,
        tfidf_doc_norms,
        tfidf_index,
    )

    idx = tfidf_index(docs10.select("doc_id", "text")).cache()
    out["tfidf_postings"] = idx.count()
    norms = tfidf_doc_norms(idx).filter(F.col("norm") > 0).cache()
    idf_tbl = idx.select("term", "idf").distinct().cache()
    norms.count(), idf_tbl.count()
    qdf = spark.createDataFrame(
        [
            (i, t, 1.0)
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
        "query_id long, term string, qtf double",
    )
    out["tfidf_queryset_sec"] = timed_best2(
        lambda: tfidf_cosine_topk(idx, qdf, 10, norms=norms, idf_tbl=idf_tbl)
    )
    log(f"tfidf_queryset: {out['tfidf_queryset_sec']}s")

    # --- prep_pipeline (the composed LLM data-prep plan) --------------
    from clinical_vector_search_spark.functions import text as TXT
    from clinical_vector_search_spark.pipeline.documents import (
        prep_bench_grams,
        prep_contaminated_ids,
        prep_dedup_keep,
        prep_passing,
        prep_scored,
    )

    def prep_run() -> DataFrame:
        scored = prep_scored(docs10)
        deduped = prep_dedup_keep(prep_passing(scored))
        contaminated = prep_contaminated_ids(
            deduped, prep_bench_grams(scored, 20, 5), 5,
            probe_partitions=spark.sparkContext.defaultParallelism,
        )
        return deduped.join(contaminated, "doc_id", "left_anti").select(
            "doc_id",
            TXT.bpe_token_count("ctext").alias("n_tokens"),
            "quality",
        )

    out["prep_pipeline_sec"] = timed_best2(prep_run)
    log(f"prep_pipeline: {out['prep_pipeline_sec']}s")

    # --- incremental_dedup (ingest: probe + pairs + label fold-in) ----
    from clinical_vector_search_spark.operators.dedup import (
        dedup_groups,
        dedup_groups_incremental,
        minhash_band_buckets,
        minhash_candidate_pairs,
        minhash_pairs_incremental,
        minhash_signatures,
    )

    d10 = docs10.select("doc_id", "text")
    corpus = d10.filter(F.col("doc_id") % 10 != 7)
    batch = d10.filter(F.col("doc_id") % 10 == 7).localCheckpoint()
    out["dedup_batch_docs"] = batch.count()
    idx_dd = minhash_band_buckets(
        minhash_signatures(corpus, 4, 3), 2
    ).localCheckpoint()
    labels = dedup_groups(
        corpus.select("doc_id"), minhash_candidate_pairs(corpus, 4, 2, 3)
    )
    out["incremental_dedup_sec"] = timed_best2(
        lambda: dedup_groups_incremental(
            labels,
            minhash_pairs_incremental(batch, idx_dd, 4, 2, 3),
            batch.select("doc_id"),
        )
    )
    log(f"incremental_dedup: {out['incremental_dedup_sec']}s")

    # --- incremental_bm25 (fold batch + serve 10-query set) -----------
    from clinical_vector_search_spark.operators.bm25 import (
        bm25_index_add,
        bm25_read_index,
        bm25_topk_set,
    )

    bdir = tempfile.mkdtemp(prefix=f"cvs_probe_bm25_c{cores}_")
    bm25_index_add(spark, corpus, 0, bdir)
    qset = [
        (i, terms)
        for i, terms in enumerate(
            (
                ["spark", "table"], ["query", "scan"], ["join", "merge"],
                ["window", "agg"], ["stream", "batch"], ["key", "value"],
                ["sort", "filter"], ["row", "column"], ["fast", "slow"],
                ["data", "part"],
            )
        )
    ]

    def bm25_run() -> DataFrame:
        bm25_index_add(spark, batch, 1, bdir)
        return bm25_topk_set(bm25_read_index(spark, bdir), qset, 10)

    out["incremental_bm25_sec"] = timed_best2(bm25_run)
    shutil.rmtree(bdir, ignore_errors=True)
    log(f"incremental_bm25: {out['incremental_bm25_sec']}s")

    # --- basket_pairs (cooccurrence lift over 10x lineitem) -----------
    from clinical_vector_search_spark.operators.basket import (
        cooccurrence_lift,
    )

    li1 = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    li10 = replicate(li1, {"l_orderkey": 10_000_000}).localCheckpoint()
    out["lineitem_rows"] = li10.count()
    p = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    lb = li10.join(F.broadcast(p), li10.l_partkey == p.p_partkey)
    out["basket_pairs_sec"] = timed_best2(
        lambda: cooccurrence_lift(
            lb, "l_orderkey", "p_brand", min_pair_support=20
        )
    )
    log(f"basket_pairs: {out['basket_pairs_sec']}s")

    print(json.dumps(out))


if __name__ == "__main__":
    main()
