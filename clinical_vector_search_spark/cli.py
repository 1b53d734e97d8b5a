"""CLI entry point (reference src/main.py:8-46 mode dispatch).

Usage:
    python -m clinical_vector_search_spark.cli --mode baseline \
        --data /root/testdata/sf0.001 --topk 10

Modes: baseline | dp | fhe | rag | embed | evaluate — each is the
end-to-end pipeline from pipeline.modes / pipeline.evaluate.
"""

from __future__ import annotations

import argparse


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument(
        "--mode",
        choices=["baseline", "dp", "fhe", "rag", "embed", "evaluate"],
        default="baseline",
    )
    p.add_argument("--data", default="/root/testdata/sf0.001", help="sf dir")
    p.add_argument("--topk", type=int, default=10)
    p.add_argument("--n-queries", type=int, default=10)
    p.add_argument("--sigma", type=float, default=0.15, help="DP noise sigma")
    p.add_argument("--mmr-lambda", type=float, default=0.5)
    p.add_argument(
        "--cpus", type=int, default=None,
        help="local[N] cores (default: $SPARK_GRAFT_CPUS or the CPU count)",
    )
    p.add_argument("--out", default=None, help="optional CSV output dir")
    args = p.parse_args(argv)

    from clinical_vector_search_spark.pipeline import modes as M
    from clinical_vector_search_spark.session import get_spark

    spark = get_spark(
        "clinical-vector-search-spark",
        master=f"local[{args.cpus}]" if args.cpus else None,
        shuffle_partitions=args.cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.mode == "baseline":
        df = M.baseline_mode(spark, args.data, args.topk, args.n_queries)
    elif args.mode == "dp":
        df = M.dp_mode(spark, args.data, args.topk, args.n_queries, sigma=args.sigma)
    elif args.mode == "fhe":
        df = M.fhe_mode(spark, args.data, args.topk, min(args.n_queries, 5))
    elif args.mode == "rag":
        df = M.rag_mode(
            spark, args.data, args.topk, min(args.n_queries, 5),
            lam=args.mmr_lambda,
        )
    elif args.mode == "embed":
        df = M.embed_mode(spark, args.data, k=args.topk, n_queries=args.n_queries)
    else:  # evaluate
        from clinical_vector_search_spark.pipeline.evaluate import run_evaluation

        df = run_evaluation(
            spark, args.data, args.topk, args.n_queries, csv_path=args.out
        )

    df.show(50, truncate=60)
    if args.out and args.mode != "evaluate":
        from clinical_vector_search_spark.io.tables import write_csv_single

        write_csv_single(df, args.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
