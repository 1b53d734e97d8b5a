"""Evaluation harness (SURVEY.md §2.5 A6/A8/A9, §3.3; reference
evaluation.py:187-346,405-428 — produces the evaluation_results.csv shape).

Baseline-as-oracle methodology (evaluation.py:202-208): exact kNN top-k is
ground truth; every other mode (DP, RAG) is scored against it per query with
A1–A5, plus A6 semantic drift and wall-clock latency (A8/A9).
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_vector_search_spark.operators.metrics import (
    evaluate_against_baseline,
)


def run_timed(fn: Callable[[], object]) -> tuple[object, float]:
    """A9: wall-clock timer, ms — reference utils.py:50-55 ``timer()``."""
    t0 = time.time()
    out = fn()
    return out, (time.time() - t0) * 1000.0


def semantic_drift(dim_query: int, dim_other: int) -> float:
    """A6: cosine(query, transformed_query); the reference hardcodes 1.0
    when dims differ (evaluation.py:231-235) — reproduced bug-for-bug."""
    if dim_query != dim_other:
        return 1.0
    return 1.0  # identical-dim case: query is unchanged in our DP path


def evaluate_modes(
    spark: SparkSession,
    base_results: DataFrame,
    mode_results: dict[str, DataFrame],
    mode_latency_ms: dict[str, float],
    k: int,
    n_queries: int,
) -> DataFrame:
    """Build the metric table: one row per (query_id) with per-mode
    recall/precision/accuracy/mrr/ndcg columns + mean per-query latency
    (A8 = total mode wall-clock / n_queries, matching how the reference
    amortizes build cost across its 10 queries, evaluation.py:405-428).

    Column naming follows evaluation_results.csv: ``<metric>_<mode>``.
    """
    out: DataFrame | None = None
    for mode, res in mode_results.items():
        per_q = evaluate_against_baseline(base_results, res, k).select(
            "query_id",
            F.col("recall").alias(f"recall_{mode}"),
            F.col("precision").alias(f"precision_{mode}"),
            F.col("accuracy").alias(f"agreement_{mode}"),
            F.col("mrr").alias(f"mrr_{mode}"),
            F.col("ndcg").alias(f"ndcg_{mode}"),
        )
        lat = mode_latency_ms.get(mode)
        if lat is not None:
            per_q = per_q.withColumn(
                f"{mode}_latency", F.lit(lat / max(n_queries, 1))
            )
        out = per_q if out is None else out.join(per_q, "query_id", "outer")
    assert out is not None, "no modes to evaluate"
    return out.orderBy("query_id")


def evaluation_metrics(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_queries: int = 5,
) -> DataFrame:
    """The deterministic metric half of :func:`run_evaluation`: per-query
    A1–A5 for the SQL-expressible modes (DP, FHE plaintext stand-in) against the exact-kNN baseline oracle — one fully lazy plan,
    no wall-clock columns, so the whole table is DuckDB-oracle-checkable.
    Latency (A8/A9) stays in :func:`run_evaluation`, which is rows-only
    checked by design (wall-clock is nondeterministic)."""
    from clinical_vector_search_spark.pipeline.modes import (
        baseline_mode,
        dp_mode,
        fhe_mode,
    )

    def _ids(df: DataFrame) -> DataFrame:
        return df.select("query_id", "rank", "doc_id")

    base = _ids(baseline_mode(spark, sf_dir, k, n_queries))
    out: DataFrame | None = None
    for mode, res in (
        ("dp", _ids(dp_mode(spark, sf_dir, k, n_queries))),
        ("fhe", _ids(fhe_mode(spark, sf_dir, k, n_queries))),
    ):
        m = evaluate_against_baseline(base, res, k).select(
            "query_id",
            F.col("recall").alias(f"recall_{mode}"),
            F.col("precision").alias(f"precision_{mode}"),
            F.col("accuracy").alias(f"agreement_{mode}"),
            F.col("mrr").alias(f"mrr_{mode}"),
            F.col("ndcg").alias(f"ndcg_{mode}"),
        )
        out = m if out is None else out.join(m, "query_id")
    assert out is not None
    return out.orderBy("query_id")


def run_evaluation(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    n_queries: int = 10,
    csv_path: str | None = None,
) -> DataFrame:
    """End-to-end benchmark loop (reference evaluation.py:405-428):
    baseline results are the oracle; DP / RAG / FHE are timed (A9), scored
    per query with A1–A5, annotated with drift (A6); per-mode mean latency
    is amortized across the query set (A8). Optionally persists the
    evaluation_results.csv-shaped table via the S7 sink."""
    from clinical_vector_search_spark.pipeline.modes import (
        baseline_mode,
        dp_mode,
        fhe_mode,
        rag_mode,
    )

    def _ids(df: DataFrame) -> DataFrame:
        return df.select("query_id", "rank", "doc_id")

    base_rows, base_ms = run_timed(
        lambda: _ids(baseline_mode(spark, sf_dir, k, n_queries)).collect()
    )
    schema = "query_id long, rank int, doc_id long"
    base = spark.createDataFrame(base_rows, schema)

    mode_results: dict[str, DataFrame] = {}
    latency: dict[str, float] = {"baseline": base_ms}
    for mode, fn in (
        ("dp", lambda: dp_mode(spark, sf_dir, k, n_queries)),
        ("rag", lambda: rag_mode(spark, sf_dir, k, n_queries)),
        ("fhe", lambda: fhe_mode(spark, sf_dir, k, n_queries)),
    ):
        rows, ms = run_timed(lambda f=fn: _ids(f()).collect())
        mode_results[mode] = spark.createDataFrame(rows, schema)
        latency[mode] = ms

    table = evaluate_modes(spark, base, mode_results, latency, k, n_queries)
    table = table.withColumn("baseline_latency", F.lit(base_ms / max(n_queries, 1)))
    # A6 drift: reference hardcodes 1.0 when query dims differ
    # (evaluation.py:231-235) — DP widens 64→128, so drift = 1.0
    table = table.withColumn("dp_drift", F.lit(semantic_drift(64, 128)))
    if csv_path is not None:
        from clinical_vector_search_spark.io.tables import write_csv_single

        write_csv_single(table, csv_path)
    return table


def mean_metrics(metric_table: DataFrame) -> DataFrame:
    """A8: mean of every numeric metric column across queries
    (reference src/pipeline/evaluation.py:188 ``df.mean(numeric_only)``)."""
    num_cols = [
        f.name
        for f in metric_table.schema.fields
        if f.dataType.simpleString() in ("double", "float")
    ]
    return metric_table.agg(
        *[F.avg(c).alias(f"mean_{c}") for c in num_cols]
    )
