"""Local twin of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 (or
$SPARK_GRAFT_SF_DIR) on local[$SPARK_GRAFT_CPUS] (session.get_spark's
core-count rule) and compares it against ``oracle_sql()`` via DuckDB:
row count, sorted column names, and an order-insensitive value hash over
(columns sorted by name, rows sorted by all columns). Prints one line
per query + a summary.

Usage: python tools/check_correctness.py [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# The 8 rows-only-by-design entries (no SQL-expressible oracle: greedy
# loops, recall contracts, eigendecomposition, wall-clock, iterative
# BPE) and the oracle-hashed twin / pytest that anchors each — kept in
# sync with the queries() ordering comment, which orders all of them
# OUTSIDE the driver's ~50-entry window so every driver row carries
# hash evidence.
ROWS_ONLY_TWINS = {
    "knn_ivf": "knn_ivf_fullprobe (oracle ⊕) + bench recall floor",
    "knn_ivfpq": "knn_ivfpq_fullprobe (oracle ⊕) + bench recall floor",
    "rag_hybrid_mmr": "rag_mmr_rounded (oracle ⊕, recursive-CTE MMR)",
    "vec_pca": "tests/test_pca.py NumPy eigendecomposition parity",
    "evaluation_table": "evaluation_metrics (oracle ⊕); table adds wall-clock",
    "events_distinct_hll": "events_distinct_users (exact-count oracle ⊕)",
    "text_bpe_train": "text_bpe_pair_counts (oracle ⊕) + exact single-node"
                      " BPE pytest parity",
    "text_bpe_encode": "text_bpe_pair_counts (oracle ⊕) + exact single-node"
                       " BPE pytest parity",
}


def norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def value_hash(df: pd.DataFrame) -> str:
    # canonical text rendering: floats via repr of round(.,6) already applied
    h = hashlib.md5()
    for row in df.itertuples(index=False):
        h.update(("|".join(str(v) for v in row) + "\n").encode())
    return h.hexdigest()


def main() -> int:
    import __spark_entry__ as E
    from clinical_vector_search_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark(
        "cvs-check-correctness",
        # the partition count the oracle artifacts were produced under
        shuffle_partitions=16,
        extra_conf={
            "spark.driver.memory": "12g",
            # Spark's default, which get_spark overrides: without Arrow,
            # toPandas renders array columns as Python lists (Arrow gives
            # NumPy arrays), and the value hash is over that rendering
            "spark.sql.execution.arrow.pyspark.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = E.queries(), E.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    entry_secs: dict[str, float] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        if name not in oracles:
            status = "ROWS " if len(sdf) > 0 else "EMPTY"
            if len(sdf) == 0:
                n_fail += 1
            else:
                n_rows_only += 1
            entry_secs[name] = time.time() - t0
            anchor = ROWS_ONLY_TWINS.get(name, "UNDECLARED — add a twin!")
            print(f"{status} {name}: rows={len(sdf)} (rows-only by design;"
                  f" anchored by {anchor}) [{entry_secs[name]:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        if not problems:
            a, b = norm_frame(sdf), norm_frame(odf)
            ha, hb = value_hash(a), value_hash(b)
            if ha != hb:
                diff_mask = ~(a.eq(b) | (a.isna() & b.isna()))
                bad = diff_mask.any(axis=1)
                problems.append(
                    f"hash mismatch ({int(bad.sum())}/{len(a)} rows differ); "
                    f"first diffs:\n--spark--\n{a[bad].head(3)}\n--oracle--\n{b[bad].head(3)}"
                )
        entry_secs[name] = time.time() - t0
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{entry_secs[name]:.1f}s]")
            n_fail += 1
        else:
            print(f"PASS  {name}: rows={len(sdf)} hash=ok [{entry_secs[name]:.1f}s]")
            n_pass += 1
    # cumulative-time leaderboard: as the inventory grows, an entry whose
    # oracle or plan cost quietly balloons shows up here first
    if len(entry_secs) > 1:
        top = sorted(entry_secs.items(), key=lambda kv: -kv[1])[:10]
        total = sum(entry_secs.values())
        print(f"\nslowest entries (of {total:.0f}s total):")
        for n, t in top:
            print(f"  {t:6.1f}s  {n}")
    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
