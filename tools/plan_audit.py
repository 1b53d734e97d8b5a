"""Physical-plan audit: assert the plan properties the 100 TB design
claims, on the real sf0.01 tables.

Checks (each prints PASS/FAIL; exit 1 on any FAIL):
  * relational scans push filters and prune columns (PushedFilters /
    ReadSchema in the formatted plan);
  * small dimension tables join via BroadcastHashJoin, not shuffle;
  * the anti join stays a broadcast/shuffled hash join (no nested loop);
  * kNN window strategy contains exactly the intended broadcast
    nested-loop cross join and nothing else cartesian;
  * as-of join plans ONE shuffle (single Exchange) over the union;
  * BM25 scoring has no per-call driver actions (lazy plan builds);
  * dedup/minhash plans contain no CartesianProduct.

Usage: python tools/plan_audit.py [-v]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
VERBOSE = "-v" in sys.argv

results: list[tuple[str, bool, str]] = []


def check(name: str, ok: bool, detail: str = "") -> None:
    results.append((name, ok, detail))
    print(f"{'PASS' if ok else 'FAIL'}  {name}" + (f": {detail}" if detail and not ok else ""))


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def n_nodes(plan: str, op: str) -> int:
    """Count physical operators by their detail-section headers
    ("(7) BroadcastHashJoin") — each node appears once there, vs twice
    in the raw string (tree + details)."""
    import re

    return len(re.findall(rf"\(\d+\) {op}\b", plan))


def n_any_join(plan: str) -> int:
    """Total join nodes of any physical strategy (the bare "Join" token
    never appears as a node name, so n_nodes(plan, "Join") is vacuous)."""
    return sum(
        n_nodes(plan, op)
        for op in (
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        )
    )


def main() -> int:
    from pyspark.sql import functions as F

    from clinical_vector_search_spark.session import get_spark

    spark = get_spark(
        "cvs-plan-audit",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "8g",
            # default 100-char metadata truncation can cut ReadSchema short
            # and make the column-pruning check vacuously pass (column
            # "absent" because truncated, not because pruned)
            "spark.sql.maxMetadataStringLength": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    # 1. filter pushdown + column pruning on the lineitem scan
    plan = formatted(E.q_rel_pricing_summary(spark, SF_DIR))
    if VERBOSE:
        print(plan)
    check(
        "pricing: filter pushed to parquet scan",
        "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan,
    )
    check(
        "pricing: column pruning (no l_comment-ish full read)",
        "ReadSchema" in plan
        and "l_orderkey" not in plan.split("ReadSchema")[1].split("\n")[0],
        plan.split("ReadSchema")[1].split("\n")[0] if "ReadSchema" in plan else "no ReadSchema",
    )

    # 2. dimension joins broadcast
    plan = formatted(E.q_rel_nation_rollup(spark, SF_DIR))
    check(
        "nation rollup: dims broadcast (2 BroadcastHashJoin)",
        n_nodes(plan, "BroadcastHashJoin") == 2,
        f"count={n_nodes(plan, 'BroadcastHashJoin')}",
    )
    check(
        "nation rollup: no shuffle join",
        "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan,
    )

    # 3. anti join is a hash join, not nested loop
    plan = formatted(E.q_rel_cust_no_orders(spark, SF_DIR))
    check(
        "anti join: hash-based LeftAnti",
        "LeftAnti" in plan and "NestedLoop" not in plan,
    )
    check(
        "anti join: orders filter pushed",
        "PushedFilters: [IsNotNull(o_orderpriority), EqualTo(o_orderpriority" in plan,
    )

    # 3b. Q19-shaped OR-of-ANDs: Catalyst extracts each side's disjunction
    # and pushes it to that side's scan — the OR never forces a full read
    plan = formatted(E.q_rel_disjunctive_join(spark, SF_DIR))
    check(
        "disjunctive join: part-side OR pushed to the part scan",
        "Or(Or(And(EqualTo(p_brand," in plan,
    )
    check(
        "disjunctive join: lineitem-side quantity OR pushed to the fact scan",
        "Or(Or(And(GreaterThanOrEqual(l_quantity," in plan,
    )

    # 3c. Q22-shaped dormant customers: anti join probe side date-pruned
    plan = formatted(E.q_rel_idle_customers(spark, SF_DIR))
    check(
        "idle customers: anti join with date filter pushed to orders scan",
        "LeftAnti" in plan
        and "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"
        in plan,
    )

    # 3d. Q4-shaped EXISTS: semi join stays hash-based and the returnflag
    # predicate reaches the lineitem scan (the fact side is pre-filtered
    # before the exchange)
    plan = formatted(E.q_rel_priority_waiting(spark, SF_DIR))
    check(
        "priority waiting: LeftSemi hash join, no nested loop",
        "LeftSemi" in plan and "NestedLoop" not in plan,
    )
    check(
        "priority waiting: returnflag filter pushed to lineitem scan",
        "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan,
    )

    # 3e. Q9-shaped profit rollup: every dimension chain broadcasts; the
    # only non-broadcast join is the lineitem⋈orders fact equi-join
    plan = formatted(E.q_rel_nation_profit(spark, SF_DIR))
    check(
        "nation profit: dims broadcast, one fact-fact join",
        n_nodes(plan, "BroadcastHashJoin") >= 3
        and n_any_join(plan) - n_nodes(plan, "BroadcastHashJoin") <= 1,
        f"bhj={n_nodes(plan, 'BroadcastHashJoin')} joins={n_any_join(plan)}",
    )
    check(
        "nation profit: p_type filter pushed to part scan",
        "EqualTo(p_type,ECONOMY)" in plan,
    )

    # 3f. Q20-shaped nested aggregate: ONE lineitem scan computes both the
    # recent and total sums (the IN-subquery rewrite never self-joins the
    # fact table) — exactly 4 scans: lineitem, part, supplier, nation
    plan = formatted(E.q_rel_excess_suppliers(spark, SF_DIR))
    check(
        "excess suppliers: single pass over lineitem (4 scans total)",
        n_nodes(plan, "Scan parquet") == 4,
        f"scans={n_nodes(plan, 'Scan parquet')}",
    )

    # 3g. Q2-shaped correlated min: the rank-1 filter is pushed into the
    # window sort (WindowGroupLimit) and nothing degenerates to a cross join
    plan = formatted(E.q_rel_min_cost_supplier(spark, SF_DIR))
    check(
        "min-cost supplier: rank filter pushed (WindowGroupLimit), no NL join",
        "WindowGroupLimit" in plan
        and "CartesianProduct" not in plan
        and "BroadcastNestedLoopJoin" not in plan,
    )

    # 3h. rank/contingency stats: ONE fact-table aggregation each, then
    # window math at distinct-value / cell granularity — join-free plans
    plan = formatted(E.q_events_mann_whitney(spark, SF_DIR))
    check(
        "mann-whitney: join-free (one agg + windows)",
        n_any_join(plan) == 0 and "CartesianProduct" not in plan,
        f"joins={n_any_join(plan)}",
    )
    plan = formatted(E.q_events_chi_square(spark, SF_DIR))
    check(
        "chi-square: join-free (one agg + cell-granularity windows)",
        n_any_join(plan) == 0 and "CartesianProduct" not in plan,
        f"joins={n_any_join(plan)}",
    )

    # 3i. late-r8 shapes: trigram IN-list reaches the scan filter;
    # skyline is sort-only (zero joins); MERGE is ONE full-outer join
    # over exactly two scans
    plan = formatted(E.q_text_trigram_search(spark, SF_DIR))
    check(
        "trigram search: pattern IN-list filters the postings (In(trigram))",
        "trigram#" in plan and " IN " in plan or "In(trigram" in plan,
    )
    plan = formatted(E.q_rel_skyline(spark, SF_DIR))
    check(
        "skyline: window-only frontier after the candidate agg "
        "(1 broadcast join-back, no SMJ/NL)",
        "SortMergeJoin" not in plan
        and "NestedLoop" not in plan
        and "CartesianProduct" not in plan,
    )
    plan = formatted(E.q_rel_merge_upsert(spark, SF_DIR))
    check(
        "merge upsert: exactly one join node (the FullOuter), "
        "and it is the full-outer",
        n_any_join(plan) == 1 and "FullOuter" in plan,
        f"joins={n_any_join(plan)}",
    )

    # 3j. incremental join maintenance: the batch sides BROADCAST (the
    # delta rule's whole point — maintenance ∝ |Δ|, not |L|·|R|)
    plan = formatted(E.q_rel_incremental_join(spark, SF_DIR))
    check(
        "incremental join: delta joins broadcast (>=2 BHJ), no cartesian",
        n_nodes(plan, "BroadcastHashJoin") >= 2
        and "CartesianProduct" not in plan,
        f"bhj={n_nodes(plan, 'BroadcastHashJoin')}",
    )

    # 3k. entity resolution: both blocking passes stay hash/window-based —
    # no nested-loop pair generation anywhere in the composition
    plan = formatted(E.q_rel_entity_resolution(spark, SF_DIR))
    check(
        "entity resolution: no NL/cartesian in either blocking pass",
        "CartesianProduct" not in plan
        and "BroadcastNestedLoopJoin" not in plan,
    )

    # 4. kNN window strategy: exactly the one intended broadcast cross join
    from clinical_vector_search_spark.functions import vector as V
    from clinical_vector_search_spark.operators.knn import _knn_window

    vecs = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select(F.col("vec_id").alias("doc_id"), V.l2_normalize("embedding").alias("embedding"))
    )
    q = vecs.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = formatted(_knn_window(q, vecs, 10, "query_id", "query_vec", "doc_id", "embedding"))
    check(
        "knn window: query side broadcast into the cross join",
        "BroadcastNestedLoopJoin" in plan and plan.count("CartesianProduct") == 0,
    )
    check(
        "knn window: top-k pushed into sort (WindowGroupLimit)",
        "WindowGroupLimit" in plan,
    )

    # 4b. binary hamming rerank: the candidate stage's only cross join is
    # the broadcast of the tiny query-code frame (codes-only corpus scan);
    # the rescore join-backs are hash joins, never a CartesianProduct
    from clinical_vector_search_spark.operators.knn import hamming_rerank

    plan = formatted(hamming_rerank(q, vecs, k=10, dim=64, n_candidates=60))
    check(
        "hamming rerank: query codes broadcast (BNLJ), no CartesianProduct",
        "BroadcastNestedLoopJoin" in plan and "CartesianProduct" not in plan,
    )
    check(
        "hamming rerank: candidate join-backs are broadcast hash joins",
        n_nodes(plan, "BroadcastHashJoin") >= 2,
    )

    # 5. as-of join: single exchange (one shuffle on the key)
    from clinical_vector_search_spark.operators.temporal import asof_join
    from clinical_vector_search_spark.streaming.events import read_events

    ev = read_events(spark, SF_DIR)
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts_ns")
    views = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts_ns", "value")
    plan = formatted(asof_join(clicks, views, on="user_id", right_cols=("value",)))
    n_ex = n_nodes(plan, "Exchange")
    check("asof join: ONE shuffle (single hash Exchange)", n_ex == 1, f"exchanges={n_ex}")

    # 6. bm25 scoring is lazy (no driver actions at plan build)
    from clinical_vector_search_spark.operators.bm25 import bm25_index, bm25_topk_set

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    idx = bm25_index(docs)
    _ = bm25_topk_set(idx, [(0, ["spark", "query"])], 10)
    after = len(tracker.getJobIdsForGroup() or [])
    check("bm25: plan construction runs zero Spark jobs", after == before,
          f"jobs before={before} after={after}")

    # 6b. distributed RAG: query terms + BM25 + MMR all in-plan, zero jobs
    # at build time (no driver collect anywhere in the hybrid path)
    from clinical_vector_search_spark.operators.bm25 import bm25_topk_set_df
    from clinical_vector_search_spark.operators.mmr import mmr_rerank_dist
    from clinical_vector_search_spark.pipeline.rag import query_term_weights

    queries = vecs.filter(F.col("doc_id") < 3).join(
        docs.select("doc_id", F.col("text").alias("query_text")), "doc_id"
    ).select(
        F.col("doc_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        "query_text",
    )
    before = len(tracker.getJobIdsForGroup() or [])
    bm = bm25_topk_set_df(bm25_index(docs), query_term_weights(queries), 10)
    gathered = (
        bm.select("query_id", "doc_id")
        .join(vecs.select("doc_id", "embedding"), "doc_id")
        .join(queries.select("query_id", "query_vec"), "query_id")
    )
    _ = mmr_rerank_dist(gathered, 5)
    after = len(tracker.getJobIdsForGroup() or [])
    check("rag distributed: qterms+bm25+mmr build runs zero Spark jobs",
          after == before, f"jobs before={before} after={after}")

    # 7. streaming plans (VERDICT r3 task 7)
    from clinical_vector_search_spark.streaming.events import (
        read_events_stream,
        sliding_agg,
        streaming_interval_join_pairs,
        streaming_tumbling_counts,
    )

    # 7a. stream-stream join, for every join type the driver runs: BOTH
    # sides watermarked (state bounding) and the join carries the
    # time-range condition. A streaming plan cannot be physically planned
    # without starting the query, so assert on the ANALYZED plan —
    # EventTimeWatermark nodes are exactly the state bound.
    for join_type in ("inner", "left_outer", "full_outer"):
        pairs = streaming_interval_join_pairs(
            read_events_stream(spark, SF_DIR), join_type
        )
        aplan = pairs._jdf.queryExecution().analyzed().toString()
        check(
            f"streaming {join_type} join: watermark on BOTH inputs "
            "(2 EventTimeWatermark)",
            aplan.count("EventTimeWatermark") == 2,
            f"count={aplan.count('EventTimeWatermark')}",
        )
        check(
            f"streaming {join_type} join: time-range condition present "
            "(bounded state)",
            "view_ts" in aplan and ">=" in aplan and "<=" in aplan,
        )

    # 7b. streaming tumbling agg: watermarked event-time window
    sagg = streaming_tumbling_counts(
        spark, read_events_stream(spark, SF_DIR), 300
    )
    aplan = sagg._jdf.queryExecution().analyzed().toString()
    check(
        "streaming tumbling: watermark + event-time window",
        aplan.count("EventTimeWatermark") == 1 and "window" in aplan,
    )

    # 7c. batch sliding agg: the sequence+explode fan-out must keep ONE
    # Exchange (the final groupBy) — a self-join formulation would add more
    plan = formatted(sliding_agg(ev, 300, 60))
    n_ex = n_nodes(plan, "Exchange")
    check("sliding agg: single Exchange (map-side fan-out)", n_ex == 1,
          f"exchanges={n_ex}")

    # 7d. Q5-style six-table join: all four dims broadcast, lineitem/orders
    # date filter pushed to the scan
    plan = formatted(E.q_rel_local_supplier_volume(spark, SF_DIR))
    check(
        "q5 join: 4 broadcast joins (c, s, n, r)",
        n_nodes(plan, "BroadcastHashJoin") >= 4,
        f"count={n_nodes(plan, 'BroadcastHashJoin')}",
    )
    check(
        "q5 join: orders date filter pushed",
        "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"
        in plan,
    )

    # 7e. decontamination: benchmark grams broadcast (corpus side map-only
    # until the per-doc count)
    from clinical_vector_search_spark.operators.dedup import decontaminate

    bench = docs.filter(F.col("doc_id") < 20).select("text")
    plan = formatted(decontaminate(docs, bench, n=5))
    check(
        "decontaminate: benchmark grams broadcast into the semi-join",
        n_nodes(plan, "BroadcastHashJoin") >= 1
        and "CartesianProduct" not in plan,
    )

    # 7f. PQ ADC: a MapInPandas scores the codes scan map-side and only
    # per-partition top-k survivors shuffle (the one Exchange sits above a
    # WindowGroupLimit); no cartesian / nested-loop pairing
    from clinical_vector_search_spark.operators.pq import (
        knn_pq_adc,
        pq_codebooks_lcg,
        pq_encode,
    )

    books = pq_codebooks_lcg(64, 8, 16)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pq_q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    pq_codes = pq_encode(emb, books).withColumnRenamed("vec_id", "doc_id")
    plan = formatted(knn_pq_adc(pq_q, pq_codes, books, 10))
    tree = plan.split("\n\n")[0]
    below_exchange = tree.split("Exchange", 1)[-1]
    check(
        "pq adc: MapInPandas scores the codes scan, one Exchange above a "
        "WindowGroupLimit, no CartesianProduct/NestedLoopJoin",
        n_nodes(plan, "MapInPandas") >= 1
        and n_nodes(plan, "Exchange") == 1
        and "WindowGroupLimit" in below_exchange
        and below_exchange.index("WindowGroupLimit")
        < below_exchange.index("MapInPandas")
        and "CartesianProduct" not in plan
        and "NestedLoopJoin" not in plan,
        tree,
    )

    # 8. dedup plans: no cartesian product anywhere
    from clinical_vector_search_spark.operators.dedup import (
        minhash_candidate_pairs,
        ngram_jaccard_pairs,
    )

    from clinical_vector_search_spark.operators.dedup import (
        jaccard_prefix_pairs,
    )

    for name, df in (
        ("minhash_candidate_pairs", minhash_candidate_pairs(docs)),
        ("ngram_jaccard_pairs", ngram_jaccard_pairs(docs)),
        ("jaccard_prefix_pairs", jaccard_prefix_pairs(docs, threshold=0.5)),
    ):
        plan = formatted(df)
        check(f"{name}: no CartesianProduct", "CartesianProduct" not in plan)

    # 8b. bloom-filtered join: with broadcast disabled (the regime the
    # operator exists for), the literal-bitmap probe must sit in the big
    # side's SCAN stage — i.e. the plan is a shuffle join whose big-side
    # Filter carries the bit-test (shiftright) BEFORE any Exchange.
    from clinical_vector_search_spark.operators.skew import (
        bloom_filtered_join,
    )

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
            F.col("l_orderkey").alias("okey"), "l_extendedprice"
        )
        o = (
            spark.read.parquet(f"{SF_DIR}/orders.parquet")
            .filter(F.col("o_totalprice") > 350000)
            .select(F.col("o_orderkey").alias("okey"))
        )
        plan = formatted(bloom_filtered_join(li, o, "okey", m=1 << 16, k=3))
        check(
            "bloom_filtered_join: shuffle join, map-side bitmap probe",
            ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan)
            and "shiftright" in plan
            and "CartesianProduct" not in plan,
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)

    # 9. incremental dedup: corpus-index probe is a semi join, no cartesian
    from clinical_vector_search_spark.operators.dedup import (
        dedup_incremental,
        minhash_band_buckets,
        minhash_signatures,
    )

    corp_idx = minhash_band_buckets(
        minhash_signatures(docs.filter(F.col("doc_id") < 400)), 2
    )
    plan = formatted(
        dedup_incremental(docs.filter(F.col("doc_id") >= 400), corp_idx)
    )
    check(
        "dedup_incremental: semi-join probe, no CartesianProduct",
        "LeftSemi" in plan and "CartesianProduct" not in plan,
    )

    # 9b. span dedup: winner selection must be the map-side-combined
    # groupBy-min, never a per-key row_number window (hot-span funnel)
    from clinical_vector_search_spark.operators.dedup import span_dedup

    plan = formatted(span_dedup(docs))
    check(
        "span_dedup: no Window winner-selection, no CartesianProduct",
        n_nodes(plan, "Window") == 0 and "CartesianProduct" not in plan,
    )

    # 10. dense row ids: every Window/Sort is per range partition — the
    # plan must never funnel the table through a single partition
    from clinical_vector_search_spark.functions.ids import dense_row_ids

    plan = formatted(dense_row_ids(docs.select("doc_id", "n_chars"),
                                   ["n_chars", "doc_id"], n_partitions=8))
    check("dense_row_ids: no SinglePartition window/sort",
          "SinglePartition" not in plan)

    # 11. z-order write: clustering is a range exchange (sampled
    # boundaries), not a global sort into one task
    from clinical_vector_search_spark.io.layout import zorder_key

    li_z = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    zdf = (
        li_z.withColumn(
            "_zkey",
            zorder_key([("l_partkey", 0, 199), ("l_orderkey", 0, 6000)], 8),
        )
        .repartitionByRange(8, "_zkey")
        .sortWithinPartitions("_zkey")
    )
    plan = formatted(zdf)
    check(
        "zorder layout: rangepartitioning exchange, no SinglePartition",
        "rangepartitioning" in plan.lower() and "SinglePartition" not in plan,
    )

    # 12. funnel: the event-type predicate of every level reaches the
    # parquet scan (PushedFilters), and levels join at user granularity
    from clinical_vector_search_spark.streaming.events import (
        funnel,
        read_events,
    )

    ev = read_events(spark, SF_DIR)
    # funnel() itself is eager (returns a k-row local frame with no
    # lineage); audit the LAST lazy level plan, whose lineage contains
    # every level's filtered scan and user-granularity join
    from clinical_vector_search_spark.streaming.events import funnel_levels

    plan = formatted(funnel_levels(ev, ["view", "click", "purchase"])[-1])
    check(
        "funnel levels: event_type filters pushed to scan, no "
        "CartesianProduct",
        "PushedFilters: [IsNotNull(event_type), EqualTo(event_type," in plan
        and "CartesianProduct" not in plan,
    )

    # 12b. window funnel (the default fast path): the step-type In filter
    # is pushed to the scan, the k chained Windows share ONE user_id
    # exchange, and the only other exchange is the tiny single-row count
    # agg — so exactly 2 Exchanges total
    from clinical_vector_search_spark.streaming.events import funnel_window

    plan = formatted(funnel_window(ev, ["view", "click", "purchase"]))
    check(
        "funnel window: pushed In-filter, one event-volume exchange",
        "In(event_type" in plan and n_nodes(plan, "Exchange") == 2,
    )

    # 13. bigram LM: count-table joins are hash joins, no cartesian
    from clinical_vector_search_spark.functions.text import bigram_lm_score

    plan = formatted(bigram_lm_score(docs))
    check(
        "bigram_lm: hash joins only, no CartesianProduct",
        "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan,
    )

    # 14. histogram: exactly ONE shuffle (the <= n_bins+2-key groupBy)
    from clinical_vector_search_spark.operators.sketch import histogram

    plan = formatted(histogram(ev.select("value"), "value", -5.0, 15.0, 20))
    check(
        "histogram: single Exchange, map-side bucket expression",
        n_nodes(plan, "Exchange") == 1,
    )

    # 15. semantic dedup: the quadratic stage is bucketed by cluster —
    # a hash join on the cluster key, never a cartesian product
    from clinical_vector_search_spark.operators.dedup import (
        semantic_dedup_pairs,
    )

    emb_sd = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = formatted(semantic_dedup_pairs(emb_sd, dim=64, threshold=0.35,
                                          n_clusters=8))
    check(
        "semantic_dedup: cluster-bucketed join, no CartesianProduct",
        "CartesianProduct" not in plan
        and "BroadcastNestedLoop" not in plan
        and "cluster" in plan,
    )

    # 16. sessionize auto-dispatch: on the uniform testdata the histogram
    # probe must pick the PLAIN plan — a single user_id session window,
    # no range-salt (_rng) columns anywhere in the physical plan
    from clinical_vector_search_spark.streaming.events import (
        choose_sessionize_strategy,
        sessionize,
    )

    picked = choose_sessionize_strategy(ev)
    plan = formatted(sessionize(ev, 1800, strategy="auto"))
    check(
        "sessionize auto: uniform data dispatches to the plain "
        "single-window plan",
        picked == "plain" and "_rng" not in plan
        and n_nodes(plan, "Window") >= 1,
    )

    # 17. topk_per_group partial: the Arrow prune is shuffle-free, so the
    # whole plan has exactly ONE exchange (the final per-group window)
    from clinical_vector_search_spark.operators.skew import topk_per_group

    plan = formatted(
        topk_per_group(
            docs.select("source", "doc_id", "n_chars"),
            ["source"],
            [("n_chars", False), ("doc_id", True)],
            5,
            strategy="partial",
        )
    )
    check(
        "topk_per_group partial: zero-shuffle prune, one window exchange",
        n_nodes(plan, "Exchange") == 1 and "MapInArrow" in plan,
    )

    # 18. bloom probe: a pure map-side expression — scan + filter with
    # NO exchange (the bitmap rides as a literal array)
    from clinical_vector_search_spark.functions.hashing import (
        bloom_build,
        bloom_probe,
        bloom_words_array,
    )

    bkeys = spark.range(50).select(
        F.concat(F.lit("w"), F.col("id")).alias("g")
    )
    words = bloom_words_array(bloom_build(bkeys, "g", 1 << 12, 4), 1 << 12)
    plan = formatted(
        docs.select("doc_id", "text").filter(
            bloom_probe(F.substring("text", 1, 20), words, 1 << 12, 4)
        )
    )
    check(
        "bloom probe: map-side literal-bitmap filter, zero exchanges",
        n_nodes(plan, "Exchange") == 0,
    )

    # 19. composed prep pipeline: the lang filter reaches the parquet
    # scan THROUGH the whole composition, the decontamination join is a
    # broadcast, and nothing degenerates to a cartesian
    import __spark_entry__ as E

    plan = formatted(E.q_doc_prep_pipeline(spark, SF_DIR))
    check(
        "doc_prep_pipeline: lang filter pushed to scan, broadcast "
        "decontamination, no cartesian",
        "EqualTo(lang,en)" in plan
        and "BroadcastHashJoin" in plan
        and "CartesianProduct" not in plan,
    )

    # 20. z-score outliers: group stats come back as a BROADCAST join —
    # the event volume is never shuffled
    from clinical_vector_search_spark.operators.sketch import zscore_outliers

    plan = formatted(
        zscore_outliers(ev.select("event_type", "value"), "value",
                        ["event_type"], z=2.5, round_dp=6)
    )
    check(
        "zscore_outliers: stats broadcast back, no event-volume exchange",
        "BroadcastHashJoin" in plan
        and "hashpartitioning" not in plan.split("BroadcastHashJoin")[0],
    )

    # 21. CDC chunking: map-only Arrow kernel — zero exchanges until a
    # consumer aggregates
    from clinical_vector_search_spark.functions.text import cdc_chunk_rows

    plan = formatted(cdc_chunk_rows(docs, w=4, divisor=8))
    check(
        "cdc_chunk_rows: map-side kernel, zero exchanges",
        n_nodes(plan, "Exchange") == 0,
    )

    # 22. Q18 shape: the HAVING aggregate and the customer dim both come
    # back as broadcasts — lineitem shuffles exactly once (its groupBy)
    plan = formatted(E.q_rel_big_spenders(spark, SF_DIR))
    check(
        "rel_big_spenders: HAVING set + dim broadcast, single fact shuffle",
        plan.count("BroadcastHashJoin") >= 2
        and "CartesianProduct" not in plan,
    )

    # 23. blocked fuzzy pairs: an equi-join on the block key, never a
    # cartesian / nested-loop
    plan = formatted(E.q_rel_name_match(spark, SF_DIR))
    check(
        "rel_name_match: block-key equi-join, no cartesian",
        "CartesianProduct" not in plan
        and "BroadcastNestedLoop" not in plan,
    )

    # 24. kNN auto-dispatch BOTH ways (the dispatch constant must not
    # rot: every sf's testdata is below AUTO_WINDOW_MAX_BYTES, so
    # without these the declared 100 TB path would only ever run when
    # called explicitly).
    import clinical_vector_search_spark.operators.knn as knn_mod

    plan = formatted(
        knn_mod.knn(q, vecs, 10, doc_vec="embedding", strategy="auto")
    )
    check(
        "knn auto @sf0.01: dispatches to the window plan "
        "(broadcast cross join, zero Python workers)",
        "BroadcastNestedLoopJoin" in plan
        and "MapInPandas" not in plan
        and "WindowGroupLimit" in plan,
    )
    saved_thresh = knn_mod.AUTO_WINDOW_MAX_BYTES
    try:
        knn_mod.AUTO_WINDOW_MAX_BYTES = 0  # every input now "big"
        plan = formatted(
            knn_mod.knn(q, vecs, 10, doc_vec="embedding", strategy="auto")
        )
    finally:
        knn_mod.AUTO_WINDOW_MAX_BYTES = saved_thresh
    check(
        "knn auto above threshold: dispatches to partial_topk "
        "(MapInPandas per-partition heap, no all-pairs cross join)",
        "MapInPandas" in plan and "BroadcastNestedLoopJoin" not in plan
        # rescore joins are hash joins on doc/query ids
        and "CartesianProduct" not in plan,
    )

    # 25. semantic dedup hot-cluster guard: the salted block self-join
    # stays a hash equi-join on (cluster,_i,_j) — per-task pair count
    # bounded, still no cartesian anywhere
    from clinical_vector_search_spark.operators.dedup import (
        semantic_dedup_pairs as _sdp,
    )

    plan = formatted(
        _sdp(emb_sd, dim=64, threshold=0.35, n_clusters=8,
             max_cluster_rows=10)
    )
    check(
        "semantic_dedup salted: block equi-join on (cluster,_i,_j), "
        "no CartesianProduct",
        "CartesianProduct" not in plan
        and "BroadcastNestedLoop" not in plan
        and "_i" in plan and "_j" in plan,
    )

    # 26. sparse tf-idf retrieval: posting-list equi-join with the query
    # side broadcast; no cartesian anywhere in the scoring plan
    plan = formatted(E.q_retrieval_tfidf(spark, SF_DIR))
    # the only nested-loop joins allowed are the broadcast 1-row stats
    # crossJoins (n_docs — same shape bm25_index uses); scoring joins
    # are hash joins and nothing is a CartesianProduct
    check(
        "retrieval_tfidf: term equi-join scoring, only 1-row-stats "
        "broadcast crossJoins, no cartesian",
        "CartesianProduct" not in plan
        and "BroadcastHashJoin" in plan,
    )

    # 27. gap-fill grid: generated by sequence+explode from the
    # group-granularity (min,max) aggregate — grid-to-agg is a hash
    # equi-join on (group, bucket), never a cartesian/range join
    plan = formatted(E.q_events_resample_gapfill(spark, SF_DIR))
    check(
        "resample_gapfill: exploded grid hash-joins aggregate, "
        "no cartesian",
        "CartesianProduct" not in plan
        and "BroadcastNestedLoop" not in plan
        and n_nodes(plan, "Generate") >= 1,
    )

    # 28. attribution: user-key equi-join carrying the time-range
    # predicate (the as-of family shape), no cartesian
    plan = formatted(E.q_events_attribution(spark, SF_DIR))
    check(
        "events_attribution: user-key range join, no cartesian",
        "CartesianProduct" not in plan
        and "BroadcastNestedLoop" not in plan,
    )

    # 29. OHLC candles: ONE map-side-combinable aggregation — min_by/
    # max_by partials, zero Window nodes, one exchange
    from clinical_vector_search_spark.streaming.events import (
        ohlc_bars,
        read_events,
    )

    plan = formatted(ohlc_bars(read_events(spark, SF_DIR), 3600))
    check(
        "ohlc_bars: single agg, no Window, one exchange",
        n_nodes(plan, "Window") == 0
        and n_nodes(plan, "Exchange") == 1
        and "CartesianProduct" not in plan,
    )

    # 30. Poisson bootstrap: replica weights fan out map-side (Generate
    # below the aggs), no Window, no cartesian
    plan = formatted(E.q_events_bootstrap_ci(spark, SF_DIR))
    check(
        "bootstrap_ci: map-side replica fan-out, no Window/cartesian",
        n_nodes(plan, "Generate") >= 1
        and n_nodes(plan, "Window") == 0
        and "CartesianProduct" not in plan,
    )

    # 31. one PageRank iteration (checkpoint=False exposes the lazy
    # plan; checkpointed runs truncate to a LogicalRDD): the degree
    # frame joins ranks as a BROADCAST, no cartesian beyond the 1-row
    # scalar crossJoins (BNLJ on literally-1-row frames)
    from clinical_vector_search_spark.operators.graph import pagerank

    nodes = docs.select(F.col("doc_id").alias("node"))
    edges = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") + 1) % 500).alias("dst"),
    )
    plan = formatted(pagerank(nodes, edges, n_iter=1, checkpoint=False))
    check(
        "pagerank iteration: broadcast degree join, no CartesianProduct",
        "BroadcastHashJoin" in plan and "CartesianProduct" not in plan,
    )

    # 32. incremental agg maintenance: union of deltas -> ONE final
    # group-key aggregation, no join back to the base data
    plan = formatted(E.q_rel_incremental_agg(spark, SF_DIR))
    check(
        "incremental_agg: union+agg shape, no cartesian",
        n_nodes(plan, "Union") >= 1 and "CartesianProduct" not in plan,
    )

    # 33. SCD2 + as-of composition: the point-in-time feature join
    # stays on user_id-key exchanges end to end — no row-wise probe
    # join, no cartesian; the as-of union-window is the only extra
    # stage on top of the history windows
    plan = formatted(E.q_events_scd2_asof_features(spark, SF_DIR))
    check(
        "scd2_asof_features: windowed composition, no cartesian",
        n_nodes(plan, "Window") >= 2
        and "CartesianProduct" not in plan
        and n_nodes(plan, "SortMergeJoin") == 0,
    )

    # 34. DSIR: the K-row log-ratio table joins the token stream as a
    # BROADCAST (never a corpus-side shuffle for a 1024-row dimension);
    # no cartesian beyond the 1-row totals crossJoin (broadcast-NL)
    plan = formatted(E.q_doc_dsir_weights(spark, SF_DIR))
    check(
        "dsir_weights: broadcast ratio join, no CartesianProduct",
        "BroadcastHashJoin" in plan and "CartesianProduct" not in plan,
    )

    # 35. URL dedup: one expression chain into ONE aggregation — no
    # joins at all, and the single exchange is the group-by
    plan = formatted(E.q_doc_url_dedup(spark, SF_DIR))
    check(
        "url_dedup: join-free single-agg plan",
        n_any_join(plan) == 0
        and n_nodes(plan, "Exchange") <= 2
        and "CartesianProduct" not in plan,
    )

    # 36. user split: pure map-side assignment + one rollup exchange —
    # the split itself must not shuffle
    plan = formatted(E.q_events_user_split(spark, SF_DIR))
    check(
        "events_user_split: map-side assign, single rollup shuffle",
        n_any_join(plan) == 0 and "CartesianProduct" not in plan,
    )

    # 37. Q17 decorrelation: the brand dim and the per-part threshold
    # frame both arrive by broadcast — lineitem is never shuffled on
    # partkey for the correlated-avg compare
    plan = formatted(E.q_rel_small_qty_revenue(spark, SF_DIR))
    check(
        "small_qty_revenue: broadcast dim+threshold, no cartesian",
        n_nodes(plan, "BroadcastHashJoin") >= 2
        and "CartesianProduct" not in plan,
    )

    # 38. Q21 decorrelation: ONE orderkey aggregation replaces the
    # EXISTS/NOT-EXISTS self-join pair — no fact-fact join at all,
    # supplier/nation by broadcast
    plan = formatted(E.q_rel_blame_suppliers(spark, SF_DIR))
    check(
        "blame_suppliers: single per-order agg, broadcast dims",
        n_nodes(plan, "SortMergeJoin") == 0
        and n_nodes(plan, "BroadcastHashJoin") >= 2
        and "CartesianProduct" not in plan,
    )

    # 39. Q7 snowflake: lineitem⋈orders is the only shuffle join;
    # supplier/customer/nation arms are broadcast with their nation
    # filters pushed into the broadcast build sides
    plan = formatted(E.q_rel_volume_shipping(spark, SF_DIR))
    check(
        "volume_shipping: one shuffle join, pre-filtered broadcasts",
        n_nodes(plan, "SortMergeJoin") + n_nodes(plan, "ShuffledHashJoin")
        <= 1
        and n_nodes(plan, "BroadcastHashJoin") >= 3
        and "CartesianProduct" not in plan,
    )

    # 40. basket mining (r15 shape): pairs expand from the pinned
    # per-basket item sets via nested explodes — the basket-key
    # SELF-JOIN is gone entirely; the support stats still join back by
    # broadcast and nothing degenerates to a cartesian product
    plan = formatted(E.q_rel_basket_pairs(spark, SF_DIR))
    check(
        "basket_pairs: broadcast stat joins, no self-join",
        n_nodes(plan, "BroadcastHashJoin") >= 2
        and n_nodes(plan, "SortMergeJoin") == 0
        and n_nodes(plan, "ShuffledHashJoin") == 0
        and "CartesianProduct" not in plan,
    )

    # 41. triangles: every join is an equi-join (wedge + closing probe)
    # — no cartesian anywhere in the oriented plan
    plan = formatted(E.q_graph_triangles(spark, SF_DIR))
    n_joins = (
        n_nodes(plan, "SortMergeJoin")
        + n_nodes(plan, "ShuffledHashJoin")
        + n_nodes(plan, "BroadcastHashJoin")
    )
    check(
        "graph_triangles: equi-join wedge/close, no cartesian",
        "CartesianProduct" not in plan and n_joins >= 3,
    )

    # 42. seasonal outliers: day-granularity agg is the only data-sized
    # shuffle; dow-index and stat frames join back by broadcast
    plan = formatted(E.q_events_seasonal_outliers(spark, SF_DIR))
    check(
        "seasonal_outliers: broadcast stat joins, no shuffle join",
        n_nodes(plan, "SortMergeJoin") == 0
        and n_nodes(plan, "BroadcastHashJoin") >= 3
        and "CartesianProduct" not in plan,
    )

    # 43. bounded EWMA: one group-key window, zero joins, and the fold
    # stays an expression (no python UDF / Arrow eval in the plan)
    plan = formatted(E.q_events_ewma(spark, SF_DIR))
    check(
        "ewma: single window shuffle, join-free, expression-only",
        n_any_join(plan) == 0
        and n_nodes(plan, "Window") == 1
        and "ArrowEvalPython" not in plan
        and "BatchEvalPython" not in plan,
    )

    # 44. CUSUM: day-granularity agg + per-group windows + broadcast
    # burn-in stats — join-free of shuffle joins, expression-only
    plan = formatted(E.q_events_cusum(spark, SF_DIR))
    check(
        "cusum: broadcast stats, windowed closed form, no python eval",
        n_nodes(plan, "SortMergeJoin") == 0
        and "ArrowEvalPython" not in plan
        and "BatchEvalPython" not in plan
        and "CartesianProduct" not in plan,
    )

    # 45. winnowing (r16: Arrow twin): fingerprint selection is
    # map-only MapInPandas — no joins, no window exchange; the only
    # shuffle left is the per-doc summary groupBy over selected
    # (≈ 2/(w+1) density) fingerprint rows
    plan = formatted(E.q_text_winnowing(spark, SF_DIR))
    check(
        "winnowing: map-only Arrow twin, join-free, no window exchange",
        n_any_join(plan) == 0
        and "CartesianProduct" not in plan
        and "MapInPandas" in plan
        and n_nodes(plan, "Window") == 0,
    )

    # 46. Kaplan-Meier: per-user agg is the only fact-sized shuffle;
    # the corpus-max stat joins back by broadcast nested loop (1 row),
    # all KM math windows at lifetime granularity, expression-only
    plan = formatted(E.q_events_kaplan_meier(spark, SF_DIR))
    check(
        "kaplan_meier: one user shuffle, broadcast stat, no python eval",
        n_nodes(plan, "SortMergeJoin") == 0
        and "ArrowEvalPython" not in plan
        and "BatchEvalPython" not in plan
        and "CartesianProduct" not in plan,
    )

    # 47. ACF: the fact table collapses to day granularity before any
    # join; lag alignment joins the tiny series via broadcast
    plan = formatted(E.q_events_acf(spark, SF_DIR))
    check(
        "acf: day-granularity agg first, broadcast lag join",
        n_nodes(plan, "SortMergeJoin") == 0
        and "CartesianProduct" not in plan
        and n_nodes(plan, "HashAggregate") >= 2,
    )

    # 48. OLS normal equations: ONE partial+final aggregate pair over
    # the fact scan, zero joins, zero windows, expression-only
    plan = formatted(E.q_rel_ols_normal(spark, SF_DIR))
    check(
        "ols_normal: single agg pass, join-free, expression-only",
        n_any_join(plan) == 0
        and n_nodes(plan, "Window") == 0
        and "ArrowEvalPython" not in plan
        and "BatchEvalPython" not in plan,
    )

    # 49. A/B test: per-user agg then a global 1-row agg — join-free
    plan = formatted(E.q_events_ab_test(spark, SF_DIR))
    check(
        "ab_test: two-level agg, join-free, expression-only",
        n_any_join(plan) == 0
        and "ArrowEvalPython" not in plan
        and "BatchEvalPython" not in plan,
    )

    # 50. incremental SCD2: the untouched-history passthrough and the
    # affected-key prune must both be BROADCAST joins on the batch-sized
    # touched-key set (a sort-merge anti join would shuffle the whole
    # dimension history — the cost the operator exists to avoid)
    plan = formatted(E.q_events_scd2_incremental(spark, SF_DIR))
    check(
        "scd2_incremental: broadcast anti/semi passthrough, no cartesian",
        "CartesianProduct" not in plan
        and n_nodes(plan, "BroadcastHashJoin") >= 4,
    )

    # 51. incremental MinHash pair maintenance: the corpus band index is
    # probed with a BROADCAST LeftSemi on the batch's touched keys and
    # every pair join is broadcast — zero SortMergeJoin means the corpus
    # is never shuffled and there is no old×old rescan path
    plan = formatted(E.q_dedup_minhash_incremental(spark, SF_DIR))
    check(
        "minhash_incremental: broadcast touched-bucket probe, no corpus shuffle",
        "CartesianProduct" not in plan
        and "LeftSemi" in plan
        and n_nodes(plan, "BroadcastHashJoin") >= 3
        and n_nodes(plan, "SortMergeJoin") == 0,
    )

    # 52. incremental group maintenance: the touched-component member
    # pull is TWO broadcast left-semi probes over the labels table
    # (pair ids, then touched group ids) — the corpus labels are
    # scanned map-side, never shuffled, before the propagation loop
    from clinical_vector_search_spark.operators.dedup import (
        _incremental_group_subgraph,
    )

    _labels = spark.createDataFrame(
        [(i, i % 7) for i in range(100)], "doc_id long, group_id long"
    )
    _np = spark.createDataFrame(
        [(3, 200), (5, 201)], "a_id long, b_id long"
    )
    _nid = spark.createDataFrame([(200,), (201,)], "doc_id long")
    _, sub_pairs, _members = _incremental_group_subgraph(_labels, _np, _nid)
    plan = formatted(sub_pairs)
    check(
        "groups_incremental: broadcast semi member pull, no label shuffle",
        "CartesianProduct" not in plan
        and plan.count("LeftSemi") >= 2
        and n_nodes(plan, "SortMergeJoin") == 0,
    )

    # 54. incremental IVF-PQ index add: folding a batch into a persisted
    # trained index must be ENTIRELY map-side — the trained state
    # (centroids + codebook slices) ships as plan literals, so the plan
    # is a Project over the batch scan: zero joins of any strategy, zero
    # Exchange (no shuffle, no broadcast build), zero Python workers
    # (pure whole-stage-codegen expressions) — no corpus rescan path
    # can exist in a plan that never reads a second input
    plan = formatted(E.q_knn_ivfpq_index_add(spark, SF_DIR))
    check(
        "ivfpq_index_add: single-scan map-side fold-in, no exchange/join/python",
        n_any_join(plan) == 0
        and n_nodes(plan, "Exchange") == 0
        and "ArrowEvalPython" not in plan
        and "MapInPandas" not in plan
        and n_nodes(plan, "Scan parquet") == 1,
    )

    # 54b. incremental BM25 maintenance: scoring the RECONSTRUCTED view
    # (postings + folded df deltas + scalar sums) must read exactly the
    # three statistic directories once each, broadcast the query terms,
    # and contain no cartesian blowup — the global-stat rebuild is
    # vocabulary-granularity, never a postings rescan per stat
    import tempfile as _tf

    from clinical_vector_search_spark.operators.bm25 import (
        bm25_index_add,
        bm25_read_index,
        bm25_score_index,
    )

    _docs_bm = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    _bmdir = _tf.mkdtemp(prefix="cvs_plan_bm25_")
    bm25_index_add(spark, _docs_bm.filter(F.col("doc_id") < 50), 0, _bmdir)
    bm25_index_add(spark, _docs_bm.filter(F.col("doc_id") >= 50), 1, _bmdir)
    plan = formatted(
        bm25_score_index(
            bm25_read_index(spark, _bmdir),
            _docs_bm,
            ["patient", "treatment"],
        )
    )
    # 6 parquet scans: postings ONCE, docs once, and the vocabulary-
    # granularity df/ + 1-row scalars relations twice each (the raw-idf
    # fold feeds both the epsilon-floor mean and the scoring join; the
    # two subtrees execute as CONCURRENT broadcast futures inside the
    # one scoring job — a measured eager pin here cost a serial action
    # per serve for no wall win, see _idf_with_floor). The postings are
    # never rescanned per stat; at most the single term join may
    # sort-merge (postings ⋈ vocab-sized idf — the one legitimately
    # corpus-scaled join), everything else broadcasts
    check(
        "bm25_incremental: single postings scan, lazy vocab refold, no cartesian",
        "CartesianProduct" not in plan
        and n_nodes(plan, "Scan parquet") == 6
        and n_nodes(plan, "BroadcastHashJoin") >= 2
        and n_nodes(plan, "SortMergeJoin") <= 1,
    )

    # 54c. incremental TF-IDF maintenance (the VSM twin of 54b): the
    # entry scores tfidf_cosine_topk over the RECONSTRUCTED view, which
    # the scoring plan consumes 3x (term match, doc norms, query-idf
    # lookup) — so the entry materializes the refold ONCE via
    # localCheckpoint (NOT tracked_cache: the entry rmtree's and
    # rebuilds its temp index per invocation, and CacheManager's
    # canonicalized-plan dedup would alias a previous invocation's
    # cache onto the deleted files). The serving plan must therefore
    # contain ZERO parquet scans (every statistic directory was read
    # exactly once, inside the checkpoint build), ride the checkpointed
    # RDD for all three consumers, and stay cartesian-free with at most
    # 2 sort-merge joins (the (query,doc)⋈norms join; everything
    # query-sized broadcasts).
    plan = formatted(E.q_tfidf_incremental(spark, SF_DIR))
    check(
        "tfidf_incremental: checkpointed refold view, scan-free serving, no cartesian",
        "CartesianProduct" not in plan
        and n_nodes(plan, "Scan parquet") == 0
        and n_nodes(plan, "Scan ExistingRDD") >= 3
        and n_nodes(plan, "SortMergeJoin") <= 2
        and n_nodes(plan, "BroadcastHashJoin") >= 4,
    )

    # 54d. reindex_ivfpq (the r14 retrain-and-re-encode compaction): the
    # re-encode plan consumes ONE raw-vector scan, semi-joined to the
    # index-derived membership (codes scan + BROADCAST tombstone
    # anti-join — membership comes from the index, so reindex changes
    # geometry, never the served id set), and the encode itself is pure
    # codegen expressions on the expr twin — no cartesian, no second
    # corpus scan, no Python workers. 3 parquet scans total: vectors,
    # codes, tombstones.
    import tempfile as _tf2

    from clinical_vector_search_spark.functions import vector as _V
    from clinical_vector_search_spark.operators.pq import (
        ivfpq_encode,
        ivfpq_index_add,
        ivfpq_index_delete,
        pq_codebooks_lcg,
        read_ivfpq_index,
    )

    _vecs_pq = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", _V.l2_normalize("embedding").alias("embedding")
    )
    _rdir = _tf2.mkdtemp(prefix="cvs_plan_reidx_")
    _books_r = pq_codebooks_lcg(64, 8, 16)
    ivfpq_index_add(
        spark, _vecs_pq.filter(F.col("vec_id") < 100), 0,
        f"{_rdir}/codes", 64, _books_r, n_centroids=8,
    )
    ivfpq_index_delete(
        spark, _vecs_pq.filter(F.col("vec_id") % 16 == 5).select("vec_id"),
        0, f"{_rdir}/dead",
    )
    _surv = read_ivfpq_index(
        spark, f"{_rdir}/codes", f"{_rdir}/dead"
    ).select("vec_id")
    plan = formatted(
        ivfpq_encode(
            _vecs_pq.join(_surv, "vec_id", "semi"), 64, _books_r,
            n_centroids=8,
        )
    )
    check(
        "ivfpq_reindex: one corpus scan, broadcast tombstone anti-join, map-side encode",
        "CartesianProduct" not in plan
        and "LeftAnti" in plan
        and n_nodes(plan, "Scan parquet") == 3
        and "ArrowEvalPython" not in plan
        and "MapInPandas" not in plan,
    )

    # 54e. semantic_index_add (the r15 fifth maintained index): folding
    # a batch into the assignments table is a pure per-row function of
    # the frozen centroids — the plan must be Projects over ONE batch
    # scan: zero joins, zero shuffle, zero Python workers (expr
    # encoder), exactly the ivfpq_index_add shape. At 100 TB this is
    # what makes ingest cost ∝ batch: the corpus is never rescanned.
    from clinical_vector_search_spark.operators.dedup import (
        _assignment_frame,
        _incremental_pairs_from_assignments,
        semantic_index_add,
        semantic_read_index,
    )

    plan = formatted(
        _assignment_frame(
            _vecs_pq.filter(F.col("vec_id") % 8 == 3).select(
                "vec_id", F.col("embedding")
            ),
            64, 8,
        )
    )
    check(
        "semantic_index_add: map-side assignment, one scan, no shuffle",
        n_any_join(plan) == 0
        and n_nodes(plan, "Scan parquet") == 1
        and n_nodes(plan, "Exchange") == 0
        and "ArrowEvalPython" not in plan
        and "MapInPandas" not in plan,
    )

    # 54f. the incremental SemDeDup pair probe: the corpus assignments
    # are scanned ONCE and pre-filtered by a BROADCAST LeftSemi on the
    # batch's touched clusters (<= n_clusters rows), the batch side of
    # the new x old join is BROADCAST (the corpus shuffles nothing),
    # and new x new is the batch's own tiny self-join — so there is no
    # old x old rescan anywhere in the plan, no cartesian, and no
    # sort-merge join (everything batch-sized broadcasts).
    import tempfile as _tf3

    _sdir = _tf3.mkdtemp(prefix="cvs_plan_sem_")
    semantic_index_add(
        spark, _vecs_pq.filter(F.col("vec_id") % 8 != 3), 0,
        f"{_sdir}/assign", 64, n_clusters=8,
    )
    _sem_corpus = semantic_read_index(spark, f"{_sdir}/assign")
    _sem_batch = _assignment_frame(
        _vecs_pq.filter(F.col("vec_id") % 8 == 3), 64, 8
    ).localCheckpoint()
    plan = formatted(
        _incremental_pairs_from_assignments(
            _sem_batch, _sem_corpus, 0.35, materialized=True
        )
    )
    check(
        "semantic incremental probe: one corpus scan behind a broadcast"
        " touched-cluster semi, broadcast batch probe, no old x old",
        "CartesianProduct" not in plan
        and n_nodes(plan, "Scan parquet") == 1
        and "BroadcastHashJoin LeftSemi" in plan
        and n_nodes(plan, "BroadcastHashJoin") >= 3
        and n_nodes(plan, "SortMergeJoin") == 0,
    )

    # 55. serving over the maintained IVF-PQ index (the read half of the
    # lifecycle): the plan must scan the CODES table (plus the query
    # vectors and the tombstones) — never the raw corpus twice, never a
    # re-encode of anything but the ADC scorer itself — and the
    # tombstone filter must be a BROADCAST anti-join (tombstones are
    # tiny relative to the codes; a shuffled anti-join would move the
    # whole codes table to filter out a handful of ids)
    plan = formatted(E.q_knn_ivfpq_index_search(spark, SF_DIR))
    check(
        "ivfpq_index_search: codes-scan serving, broadcast tombstone anti-join",
        n_nodes(plan, "CartesianProduct") == 0
        and n_nodes(plan, "SortMergeJoin") == 0
        and n_nodes(plan, "Scan parquet") == 3
        and n_nodes(plan, "MapInPandas") == 1
        and n_nodes(plan, "BroadcastHashJoin") == 2
        and "LeftAnti" in plan,
    )

    # 56. refine over the maintained index (the IndexRefineFlat serving
    # shape): the ADC coarse cut must run over the CODES scan (one codes
    # scan, broadcast tombstone anti-join, one MapInPandas scorer) and
    # the raw vectors must be fetched at CANDIDATE granularity — the
    # coarse top-k_coarse WindowGroupLimit sits BELOW the rescore joins,
    # so the vector join sees Q·k_coarse rows, never a corpus-wide
    # rescore; the rescore itself is pure codegen expressions (no second
    # Python stage) and every join broadcasts (5 scans total: codes,
    # tombstones, query vectors, and the two candidate-join vector reads)
    plan = formatted(E.q_knn_ivfpq_index_refine(spark, SF_DIR))
    check(
        "ivfpq_index_refine: codes-scan coarse cut, candidate-granularity rescore",
        n_nodes(plan, "CartesianProduct") == 0
        and n_nodes(plan, "SortMergeJoin") == 0
        and n_nodes(plan, "Scan parquet") == 5
        and n_nodes(plan, "MapInPandas") == 1
        and n_nodes(plan, "BroadcastHashJoin") == 4
        and n_nodes(plan, "Window") == 2
        and n_nodes(plan, "WindowGroupLimit") >= 2
        and "LeftAnti" in plan,
    )

    # 53. NO shrinking window frames anywhere: a frame ending at
    # unboundedFollowing whose lower bound is not unboundedPreceding
    # hits Spark's UnboundedFollowingWindowFunctionFrame, which
    # RE-SCANS the frame per row — O(n²) inside one task (measured on
    # the pre-r10 skyline spelling: 25k rows 11 s, 100k rows 151 s —
    # tools/scale_probe.py / README). Growing frames
    # (unboundedPreceding, x) and entire frames are O(n); suffix
    # aggregates must be spelled total-minus-prefix or reverse-ordered
    # running frames. Walked over every window-bearing entry's physical
    # plan; tests/test_extensions.py adds the source-level lint that
    # covers operators without an entry here.
    import re as _re

    _SHRINK = _re.compile(
        r"specifiedwindowframe\((?:Row|Range)Frame,"
        r" (?!unboundedpreceding\$\(\))[^,]+, unboundedfollowing\$\(\)\)"
    )
    _WINDOW_ENTRIES = [
        "rel_skyline", "rel_skyline_prefiltered", "rel_window_running",
        "rel_window_ranks", "rel_window_distribution", "rel_weighted_median",
        "rel_abc_analysis", "rel_gini", "rel_revenue_concentration",
        "events_kaplan_meier", "events_log_rank", "text_spearman",
        "events_bollinger", "events_winsorized", "events_ewma",
        "events_cusum", "events_acf", "events_cumulative_uniques",
        "knn_window", "events_range_window", "events_value_runs",
    ]
    _qs = E.queries()
    _hits = []
    for _name in _WINDOW_ENTRIES:
        _plan = formatted(_qs[_name](spark, SF_DIR))
        for _m in _SHRINK.findall(_plan):
            _hits.append(f"{_name}: {_m}")
    check(
        "no shrinking (x, unboundedFollowing) window frame in any plan",
        not _hits,
        "; ".join(_hits[:3]),
    )

    n_fail = sum(1 for _, ok, _ in results if not ok)
    print(f"\n{len(results) - n_fail} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
