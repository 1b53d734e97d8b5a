"""Bucketed-table co-location: the write-time shuffle buys Exchange-free
joins and aggregations afterwards (io.tables.write_bucketed docstring).

The assertions read the FORMATTED physical plan: a co-bucketed equi-join
must contain zero Exchange nodes, an unbucketed baseline of the same join
must contain at least one, and results must agree.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _n_exchanges(plan: str) -> int:
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    from clinical_vector_search_spark.io.tables import read_table, write_bucketed

    base = tmp_path_factory.mktemp("buckets")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    write_bucketed(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        "orders_b", "o_custkey", 4, path=str(base / "orders_b"),
    )
    write_bucketed(
        cust.select(F.col("c_custkey").alias("o_custkey"), "c_name"),
        "customer_b", "o_custkey", 4, path=str(base / "customer_b"),
    )
    yield "orders_b", "customer_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")


def test_cobucketed_join_has_no_exchange(spark, sf_dir, bucketed_tables):
    from clinical_vector_search_spark.io.tables import read_table

    ob, cb = bucketed_tables
    # At sf0.01 both tables are far below the 10MB broadcast threshold, so
    # without forcing a shuffle-eligible join the plan is BroadcastHashJoin
    # and "zero Exchange" passes whether or not bucket co-location works.
    # Disable broadcast so the zero-Exchange assertion genuinely proves the
    # bucket-aligned SortMergeJoin.
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(ob).join(spark.table(cb), "o_custkey")
        plan = _formatted(joined)
        assert "SortMergeJoin" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        assert _n_exchanges(plan) == 0, plan

        # unbucketed twin of the same join DOES shuffle (sanity: the zero
        # above is bucketing, not some other rewrite)
        orders = read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        cust = read_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_name"
        )
        plain = orders.join(cust, "o_custkey")
        plain_plan = _formatted(plain)
        assert "SortMergeJoin" in plain_plan, plain_plan
        assert _n_exchanges(plain_plan) >= 1, plain_plan

        # same answer
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_bucket_key_groupby_has_no_exchange(spark, bucketed_tables):
    ob, _ = bucketed_tables
    agg = (
        spark.table(ob)
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("s"), F.count("*").alias("n"))
    )
    assert _n_exchanges(_formatted(agg)) == 0

    n = agg.count()
    assert n > 0


def test_bucketed_roundtrip_values(spark, sf_dir, bucketed_tables):
    from clinical_vector_search_spark.io.tables import read_table

    ob, _ = bucketed_tables
    got = spark.table(ob).agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()[0]
    want = read_table(spark, sf_dir, "orders").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()[0]
    assert (got["n"], got["s"]) == (want["n"], want["s"])
