"""Physical-plan audits: the plans must be the ones we'd want at 100 TB,
not just ones that pass (SURVEY.md section 4 checklist -- pushdown,
pruning, broadcast, codegen, top-k fusion, partial aggregation)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from ushas_spark.io import load_table

QUERIES = entrymod.queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_all_filters_pushed(spark, sf_dir):
    """Every q6 predicate must reach the parquet scan as PushedFilters
    (reference: FileSourceStrategy + ParquetFilters.scala:43)."""
    plan = _plan(QUERIES["q6_forecast_revenue"](spark, sf_dir))
    scan = next(ln for ln in plan.splitlines() if "PushedFilters" in ln)
    for col in ["l_shipdate", "l_discount", "l_quantity"]:
        assert col in scan.split("PushedFilters:")[1], scan


def test_q1_column_pruning(spark, sf_dir):
    """q1 touches 7 of 11 lineitem columns; the scan schema must not
    include the others (ColumnPruning -> ReadSchema)."""
    plan = _plan(QUERIES["q1_pricing_summary"](spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for unused in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]:
        assert unused not in read_schema, read_schema


def test_q3_broadcasts_dimension(spark, sf_dir):
    plan = _plan(QUERIES["q3_shipping_priority"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q1_partial_aggregation(spark, sf_dir):
    """Two-phase agg: partial before the exchange, final after
    (reference: AggUtils.planAggregateWithoutDistinct)."""
    plan = _plan(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert "partial_" in plan and "HashAggregate" in plan


def test_whole_stage_codegen_active(spark, sf_dir):
    """Codegen spans only materialise in the FINAL adaptive plan --
    execute the plan object itself, then inspect it."""
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    executed = df._jdf.queryExecution().executedPlan()
    executed.executeCollect()
    plan = executed.toString()
    assert "isFinalPlan=true" in plan
    # codegen'd stages print as `*(n) Operator` in the final plan string
    import re

    assert re.search(r"\*\(\d+\) (HashAggregate|Sort|Project|Filter)", plan), plan[:2000]


def test_topk_fuses_take_ordered(spark, sf_dir):
    """orderBy+limit must fuse into TakeOrderedAndProject (per-partition
    heaps; reference: execution/limit.scala:124) -- a global Sort node
    here would be a scale bug."""
    plan = _plan(QUERIES["topk_global"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan


def test_semi_join_planned(spark, sf_dir):
    plan = _plan(QUERIES["join_left_semi"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_anti_join_planned(spark, sf_dir):
    plan = _plan(QUERIES["join_left_anti"](spark, sf_dir))
    assert "LeftAnti" in plan


def test_theta_join_broadcast_nested_loop(spark, sf_dir):
    plan = _plan(QUERIES["join_theta_nonequi"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan


def test_aqe_enabled(spark, sf_dir):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    plan = _plan(QUERIES["q5_local_supplier_volume"](spark, sf_dir))
    assert "AdaptiveSparkPlan" in plan


def test_partition_filter_vs_data_filter(spark, sf_dir, tmp_path):
    """Partition-pruning column must appear as PartitionFilters, data
    column as PushedFilters (reference: PruneFileSourcePartitions.scala:26
    vs ParquetFilters)."""
    path = str(tmp_path / "part_orders")
    o = load_table(spark, sf_dir, "orders").withColumn(
        "status", F.col("o_orderstatus")
    )
    o.write.mode("overwrite").partitionBy("status").parquet(path)
    df = (
        spark.read.parquet(path)
        .filter((F.col("status") == "O") & (F.col("o_totalprice") > 1000))
        .select("o_orderkey")
    )
    plan = _plan(df)
    assert "PartitionFilters: [isnotnull(status" in plan
    assert "o_totalprice" in plan.split("PushedFilters:")[1].splitlines()[0]


def test_scalar_subquery_not_recomputed_per_row(spark, sf_dir):
    """Uncorrelated scalar subquery plans as a separate Subquery node,
    not a per-row join (reference: PlanSubqueries)."""
    plan = _plan(QUERIES["subq_scalar"](spark, sf_dir))
    assert "Subquery" in plan or "subquery" in plan


def test_exchange_reuse_in_selfjoin(spark, sf_dir):
    """Self-join on the same scan reuses one shuffle exchange when the
    join shuffles (reference: exchange/Exchange.scala:86 ReuseExchange;
    with broadcast enabled there is no exchange to reuse, so disable it
    to observe the 100TB-relevant sort-merge shape)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["join_self_pairs"](spark, sf_dir)
        executed = df._jdf.queryExecution().executedPlan()
        executed.executeCollect()
        plan = executed.toString()
        assert "ReusedExchange" in plan or "ReusedQueryStage" in plan, plan[:4000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.mark.parametrize(
    "name",
    ["q1_pricing_summary", "q5_local_supplier_volume", "window_topk_per_group"],
)
def test_no_cartesian_anywhere(spark, sf_dir, name):
    plan = _plan(QUERIES[name](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_q19_residual_predicates_pushed(spark, sf_dir):
    """Q19's OR-of-ANDs: Catalyst must extract per-table residuals below
    the join -- the lineitem scan gets the l_quantity range hull, the part
    scan gets the p_brand/p_size disjunction (CombineFilters +
    PushPredicateThroughJoin on the common factors)."""
    plan = _plan(QUERIES["q19_discounted_revenue"](spark, sf_dir))
    scans = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_quantity" in s for s in scans), plan
    assert any("p_brand" in s or "p_size" in s for s in scans), plan


def test_q16_not_in_plans_anti_join(spark, sf_dir):
    """NOT IN over the supplier exclusion must plan a broadcast anti
    join, never a per-row subquery."""
    plan = _plan(QUERIES["q16_parts_supplier_counts"](spark, sf_dir))
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_q16_distinct_agg_two_phase(spark, sf_dir):
    """COUNT(DISTINCT) expands to the two-shuffle rewrite with partial
    aggregation on the (group, distinct) key."""
    plan = _plan(QUERIES["q16_parts_supplier_counts"](spark, sf_dir))
    assert "partial_" in plan and "HashAggregate" in plan, plan


def test_q13_outer_join_preserved(spark, sf_dir):
    """The o_orderpriority predicate lives in the JOIN condition, so the
    outer join must NOT degrade to inner (that would drop zero-order
    customers and change the count-0 bucket)."""
    plan = _plan(QUERIES["q13_customer_distribution"](spark, sf_dir))
    assert "LeftOuter" in plan, plan


def test_q15_single_lineitem_scan(spark, sf_dir):
    """The revenue CTE feeds both the join input and the MAX; the window
    formulation must evaluate it from ONE lineitem scan (a scalar-subquery
    formulation recomputes the whole aggregate -- verified and rejected)."""
    plan = _plan(QUERIES["q15_top_supplier"](spark, sf_dir))
    lineitem_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "lineitem" in ln
    ]
    assert len(lineitem_scans) == 1, plan


def test_q9_broadcasts_filtered_dims(spark, sf_dir):
    """part (LIKE-filtered) and nation must broadcast; only fact-fact
    joins may shuffle."""
    plan = _plan(QUERIES["q9_product_type_profit"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_decontaminate_broadcasts_eval_ngrams(spark, sf_dir):
    """The eval-side n-gram set must be the broadcast build side -- at
    100 TB the benchmark suite is MBs while the corpus is TBs, so a
    shuffle join here would shuffle the full corpus n-gram stream."""
    plan = _plan(QUERIES["pipeline_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_hamming_topk_broadcasts_queries(spark, sf_dir):
    """Packed-bit Hamming ANN: query set broadcast against the streamed
    corpus (BroadcastNestedLoopJoin over the != predicate); the corpus
    itself must never be the build side."""
    plan = _plan(QUERIES["sim_hamming_packed_topk"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_repetition_score_single_doc_shuffle(spark, sf_dir):
    """The array-side fractions are per-row arithmetic; only the
    top-token explode path may shuffle (partial count -> doc_id agg ->
    join) plus the final presentation sort: at most 4 exchanges, and
    never a cartesian join."""
    plan = _plan(QUERIES["text_repetition_score"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 4, plan


def test_quota_sample_broadcasts_counts_and_bounds_window(spark, sf_dir):
    """Per-source quota: the per-source count relation must be the
    broadcast build side (it is n_sources rows at any corpus size), and
    the pre-filter must sit UNDER the window (Filter before Window in
    the plan) so the ranked partition is the oversampled minority, never
    the full corpus."""
    plan = _plan(QUERIES["pipeline_quota_sample"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" in plan, plan
    assert plan.index("Window") < plan.index("BroadcastHashJoin"), (
        "window must consume the pre-filtered join output"
    )


def test_source_mix_single_corpus_scan_broadcast_weights(spark, sf_dir):
    """Weighted mixing: weights (distinct sources) broadcast; the corpus
    is scanned once and never sort-merge-joined."""
    plan = _plan(QUERIES["pipeline_source_mix"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_filter_funnel_one_scan_no_joins(spark, sf_dir):
    """The funnel is ONE conditional-aggregation scan: no joins, and
    exactly one wide stage (the global aggregate's exchange)."""
    plan = _plan(QUERIES["pipeline_filter_funnel"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_centroid_stats_aggregates_on_label_dim(spark, sf_dir):
    """Centroid norms must aggregate on (label, dim) -- the generate
    (posexplode) feeds a hash aggregate, and the tiny per-label count
    relation is broadcast back, so no reducer ever sees a whole label's
    vectors."""
    plan = _plan(QUERIES["sim_label_centroid_stats"](spark, sf_dir))
    assert "Generate" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_jaccard_hot_shingle_filter_is_anti_join(spark, sf_dir):
    """The stop-shingle cap must plan as a broadcast ANTI join (hot list
    is tiny) -- a shuffled anti join would add a full-corpus-width
    exchange to remove a handful of shingles."""
    plan = _plan(QUERIES["dedup_ngram_jaccard"](spark, sf_dir))
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "LeftAnti, BuildRight" in plan
    ), plan


def test_incremental_minhash_broadcasts_increment(spark, sf_dir):
    """The increment's band keys must be the broadcast side of the
    candidate join -- the historical band table (years of corpus) is
    never shuffled by a daily run."""
    plan = _plan(QUERIES["dedup_minhash_incremental"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling (the runtime half of the skew story; the
    planned half is operators/skew.py salting): plant one hot key in a
    sort-merge join and require the final adaptive plan to mark the join
    skew-handled (skew=true), i.e. the oversized partition was split
    instead of serialising one task."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        # the suite session runs 8 shuffle partitions; at 8 the hot
        # partition's COMPRESSED size stays under 2x the median and the
        # skew detector (correctly) declines -- use the production 32
        "spark.sql.shuffle.partitions": "32",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(400_000, numPartitions=16).selectExpr(
            "CASE WHEN id % 4 = 0 THEN 0 ELSE id END AS k",
            "repeat('x', 64) AS pad",
        )
        dim = spark.range(2_000).selectExpr("id AS k", "id * 2 AS v")
        joined = big.join(dim, "k").groupBy().count()
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_wav_pipeline_prunes_to_doc_id(spark, sf_dir):
    """The WAV synthesize/decode pipeline must read ONLY doc_id from the
    documents scan (payloads are generated, not read) with the id filter
    pushed to parquet -- at 100 TB the difference between scanning a
    column of ids and scanning the text corpus."""
    plan = _plan(QUERIES["multimodal_wav_decode"](spark, sf_dir))
    assert "ReadSchema: struct<doc_id:bigint>" in plan, plan
    assert "LessThan(doc_id" in plan, plan


def test_funnel_single_exchange_three_windows(spark, sf_dir):
    """The ordered funnel's three stage-min windows all partition on
    user_id, so Catalyst must plan ONE hash exchange feeding all three
    Window operators -- the whole per-user sequencing costs a single
    shuffle of events."""
    import re

    plan = _plan(QUERIES["events_funnel_conversion"](spark, sf_dir))
    n_hash_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash_exchanges == 1, plan
    assert plan.count("Window") >= 3, plan


def test_retention_distinct_reuses_user_shuffle(spark, sf_dir):
    """Cohort retention: the window-min (user_id) and the (user, cohort,
    week) DISTINCT must not multiply shuffles of the events table -- at
    most the user_id window exchange plus the distinct/group exchanges
    over already-reduced rows."""
    import re

    plan = _plan(QUERIES["events_retention_cohorts"](spark, sf_dir))
    n_hash_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash_exchanges <= 3, plan


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir):
    """Spark's runtime bloom-filter join pruning (the 100 TB shuffle
    reducer: the selective side's keys become a bloom filter applied at
    the big side's scan) injects once the application side crosses the
    scan-size threshold. Defaults are cluster-scale (10 GB application
    side), so the test lowers the threshold to local-data size and pins
    that injection actually happens -- i.e. nothing in our session or
    query shapes disables it at real scale."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1KB",
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        import os

        o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).filter(
            F.col("o_totalprice") > 400000
        )
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_kmeans_final_assignment_is_shuffle_free(spark, sf_dir):
    """The k-means assign step must be a pure projection over a
    broadcast centroid row -- zero exchanges on the corpus side (the
    iterative updates run pre-checkpoint and don't appear here)."""
    import re

    plan = _plan(QUERIES["cluster_kmeans_assign"](spark, sf_dir))
    assert len(re.findall(r"Exchange (hash|range)partitioning", plan)) == 0, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_pagerank_two_exchanges_per_round(spark, sf_dir):
    """Each PageRank round costs one ranks-side exchange + one
    groupBy(dst) exchange; the PINNED edge table must NOT be re-shuffled
    per round (pin_partitioned's InMemoryRelation preserves the src
    partitioning -- localCheckpoint would NOT, probe-verified r08).
    Counted by real tree traversal: the plan STRING embeds the cache's
    stored plan, whose one-time population exchange must not be charged
    to every round."""
    from ushas_spark.durability import plan_counts
    from ushas_spark.operators.graph import ITERS

    df = QUERIES["graph_pagerank_top"](spark, sf_dir)
    n = plan_counts(df._jdf.queryExecution().executedPlan())["shuffles"]
    # 2 per round + 1 for the initial rank build; 3+/round would mean
    # the edge side re-shuffles every iteration (the regression this
    # pins: the first cut re-derived deg/nodes from the un-materialized
    # join and cost 21 exchanges).
    assert n <= 2 * ITERS + 1, df._jdf.queryExecution().executedPlan().toString()


def test_chunk_dedup_single_scan_two_aggregates(spark, sf_dir):
    """Chunk dedup: explode once, one fingerprint groupBy, one join
    back, one doc groupBy -- at most 3 hash exchanges and exactly one
    documents scan feeding both sides (Spark reuses the exploded
    subplan via exchange reuse when SMJ is chosen; under broadcast the
    scan runs twice but the plan stays 3 exchanges)."""
    import re

    plan = _plan(QUERIES["text_chunk_dedup"](spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3, plan


def test_ewma_single_exchange(spark, sf_dir):
    """The EWMA recurrence costs exactly one shuffle (user_id) -- the
    ordered collect + fold never add an exchange."""
    import re

    plan = _plan(QUERIES["events_value_ewma"](spark, sf_dir))
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n == 1, plan


def test_interpolate_windows_share_one_exchange(spark, sf_dir):
    """Linear interpolation: the prev-frame and next-frame windows are
    both partitioned by event_type and must share one exchange on the
    grid table (plus the hourly groupBy and the grid join)."""
    import re

    plan = _plan(QUERIES["ts_interpolate_linear"](spark, sf_dir))
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n <= 4, plan
    assert plan.count("Window") >= 1, plan


def test_retrieval_joins_broadcast_query_side(spark, sf_dir):
    """TF-IDF/BM25: the query-term and stats sides broadcast; the only
    shuffles are the tf/idf aggregations and the per-query ranking."""
    for name in ("text_tfidf_topk", "text_bm25_topk"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "BroadcastExchange" in plan, name
        assert "CartesianProduct" not in plan, name


def test_interval_overlap_join_no_bnlj(spark, sf_dir):
    """The interval x interval overlap must plan as a banded equi hash
    join -- a BroadcastNestedLoopJoin or CartesianProduct here is the
    O(N*M) scale bug the banding exists to prevent."""
    plan = _plan(QUERIES["join_interval_overlap"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_distribute_sort_by_physical_contract(spark, sf_dir):
    """DISTRIBUTE BY must plan a hash RepartitionByExpression (Exchange
    hashpartitioning with REPARTITION_BY_COL origin) and SORT BY a
    partition-LOCAL sort (global=false) -- a rangepartitioning exchange
    here would mean it degraded to ORDER BY."""
    plan = _plan(QUERIES["sql_distribute_sort_by"](spark, sf_dir))
    assert "REPARTITION_BY_COL" in plan or "hashpartitioning(l_returnflag" in plan, plan
    assert "Sort [" in plan and "], false, 0" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_chunk_sliding_no_wide_shuffle(spark, sf_dir):
    """RAG chunking is map-side: the only exchange allowed is the
    rangepartitioning for the deterministic output sort -- a hash
    shuffle or join here would mean the explode stopped being
    embarrassingly parallel."""
    plan = _plan(QUERIES["pipeline_chunk_sliding"](spark, sf_dir))
    assert "hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert "Generate explode" in plan, plan


def test_fuzzy_blocking_plans_hash_joins(spark, sf_dir):
    """Entity blocking must run as hash equi-joins on the block key --
    BNLJ/CartesianProduct would be the all-pairs product the blocker
    exists to avoid."""
    plan = _plan(QUERIES["entity_fuzzy_match_blocked"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_basket_lift_topn_and_no_cartesian(spark, sf_dir):
    """Pair mining: top-N must fuse to TakeOrderedAndProject and the
    only nested-loop join allowed is the 1-row totals broadcast."""
    plan = _plan(QUERIES["basket_pair_lift"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ohlc_single_aggregate_no_window(spark, sf_dir):
    """OHLC bars must plan as one hash aggregate over the bucket key --
    a Window or Sort before the aggregate means the min_by/max_by
    formulation regressed to the per-row ranking shape."""
    plan = _plan(QUERIES["events_ohlc_hourly"](spark, sf_dir))
    assert "Window" not in plan, plan
    # min_by/max_by on strings plan as SortAggregate -- still the
    # two-phase (partial map-side + final) aggregate contract.
    n_aggs = plan.count("HashAggregate") + plan.count("SortAggregate")
    assert n_aggs >= 2, plan


def test_dynamic_partition_pruning_injects_subquery(spark, sf_dir, tmp_path):
    """Joining a partitioned fact to a filtered dim must inject a
    dynamicpruning partition filter into the fact scan (DPP) -- at
    100 TB this is the difference between scanning 3 partitions and
    all of them."""
    fact_path = str(tmp_path / "orders_part")
    load_table(spark, sf_dir, "orders").write.partitionBy(
        "o_orderpriority"
    ).parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderpriority")
        .distinct()
        .filter(F.col("o_orderpriority") < "3")
    )
    joined = fact.join(dim, "o_orderpriority").groupBy(
        "o_orderpriority"
    ).count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan


def test_sql_broadcast_hint_respected(spark, sf_dir):
    """The /*+ BROADCAST(n) */ comment hint must plan a
    BroadcastHashJoin with nation on the build side."""
    plan = _plan(QUERIES["sql_join_hint_broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Runtime row-level filtering (InjectRuntimeFilter, Spark 3.3+):
    when one side of a shuffle join carries a selective filter, the
    optimizer injects a bloom_filter_agg built from the filtered side's
    join keys and probes it on the other side's SCAN -- at 100 TB this
    drops most fact rows before the shuffle instead of after it. The
    size thresholds are production-tuned (10 GB application side), so
    the test lowers them to exercise the rewrite at test scale."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # SMJ, else no filter needed
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        orders = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        sel = orders.filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            li.join(sel, li.l_orderkey == sel.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().sparkPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:3000]
        assert "might_contain" in plan, plan[:3000]
        assert j.count() >= 1
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_plans_md_covers_full_headline():
    """PLANS.md must audit exactly bench.HEADLINE (r07 verdict item 3).

    Wall-seconds are not comparable across the per-round VMs (proven
    bimodal drift r04/r07), so the PLANS.md structure table is the only
    stable cross-round performance comparator -- it silently diverging
    from the benched set (as happened when 4 r07 operators were added
    without regenerating) would blind the audit. Regenerate with
    `python tools/gen_plans_md.py` whenever HEADLINE changes.
    """
    import os
    import re

    import bench

    plans_path = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    with open(plans_path) as f:
        rows = set(re.findall(r"^\| `([a-z0-9_]+)` \|", f.read(), re.M))
    assert rows == set(bench.HEADLINE), (
        f"PLANS.md out of date: missing={sorted(set(bench.HEADLINE) - rows)} "
        f"stale={sorted(rows - set(bench.HEADLINE))}"
    )


def test_pin_partitioned_join_streams_cached_side(spark):
    """pin_partitioned's contract: a join on the pinned key must shuffle
    ONLY the other side (InMemoryRelation preserves partitioning and
    ordering -- this is what makes every iterative loop's per-round
    network O(|V|), not O(|E|)). If a Spark upgrade stops preserving
    cached partitioning, this fails before the design silently degrades
    back to per-round edge re-shuffles."""
    from pyspark.sql import functions as F

    from ushas_spark.durability import pin_partitioned, plan_counts

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = spark.range(20000).select(
            (F.col("id") % 500).alias("k"), F.col("id").alias("payload")
        )
        pinned = pin_partitioned(big, "k")
        small = spark.range(500).select(F.col("id").alias("k"))
        joined = pinned.join(small, "k")
        counts = plan_counts(joined._jdf.queryExecution().executedPlan())
        assert counts["shuffles"] == 1, (
            counts,
            joined._jdf.queryExecution().executedPlan().toString(),
        )
        assert joined.count() == 20000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.catalog.clearCache()


def test_plan_counts_matches_text_on_uncached(spark, sf_dir):
    """Tree-walk counting (durability.plan_counts) must equal the legacy
    text-regex counts on plans with no cached relations -- the
    comparability contract that keeps pre-r08 PLANS.md rows adjudicable
    against tree-counted ones."""
    import re

    from ushas_spark.durability import plan_counts

    import __spark_entry__ as em

    for name in ["q3_shipping_priority", "window_topk_per_group"]:
        df = em.queries()[name](spark, sf_dir)
        p = df._jdf.queryExecution().executedPlan()
        txt = p.toString()
        assert "InMemoryRelation" not in txt, name
        c = plan_counts(p)
        assert c["shuffles"] == len(
            re.findall(r"Exchange (?:hash|range)partitioning", txt)
        ), name
        assert c["broadcasts"] == txt.count("BroadcastExchange"), name
        assert c["smj"] == txt.count("SortMergeJoin"), name
        assert c["bhj"] == txt.count("BroadcastHashJoin"), name


def test_plan_counts_text_parity_with_reuse(spark, sf_dir):
    """Parity contract on a plan WITH exchange reuse (ADVICE r08).

    ReusedExchange executes zero additional shuffles, so plan_counts
    charges it to the `reused` bucket, not `shuffles` -- but the legacy
    text regex matched the child plan text that the ReusedExchange line
    embeds. The adjudicable relation is therefore
    tree_shuffles + reused == text_count, pinned here on a self-join
    whose plan actually contains a ReusedExchange node. ReusedExchange
    only materializes in the pre-execution tree when AQE is off (with
    AQE on, reuse happens at runtime via stage dedup), so plan under
    adaptive=false + no-broadcast to observe it.
    """
    import re

    from ushas_spark.durability import plan_counts

    import __spark_entry__ as em

    overrides = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        df = em.queries()["join_self_pairs"](spark, sf_dir)
        p = df._jdf.queryExecution().executedPlan()
        txt = p.toString()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "ReusedExchange" in txt, txt[:3000]
    c = plan_counts(p)
    assert c["reused"] >= 1, c
    text_count = len(re.findall(r"Exchange (?:hash|range)partitioning", txt))
    assert c["shuffles"] + c["reused"] == text_count, (c, txt)


def test_post_aqe_plan_adds_no_exchanges(spark, sf_dir):
    """AQE-finalized plans must never contain MORE shuffle exchanges than
    the pre-execution tree count (it coalesces partitions and reuses
    stages, never adds exchanges) -- the assumption PLANS.md's
    pre-execution counting rests on. Guards the next Spark upgrade.
    """
    import re

    from ushas_spark.durability import plan_counts

    import __spark_entry__ as em

    for name in ["q1_pricing_summary", "q3_shipping_priority"]:
        df = em.queries()[name](spark, sf_dir)
        qe = df._jdf.queryExecution()
        pre = plan_counts(qe.executedPlan())["shuffles"]
        df.collect()
        post = qe.executedPlan().toString()
        assert "isFinalPlan=true" in post, name
        final_section = post.split("== Initial Plan ==")[0]
        final_count = len(
            re.findall(r"Exchange (?:hash|range)partitioning", final_section)
        )
        assert 0 < final_count <= pre, (name, pre, final_count, post)


def test_segments_recorder_scope_and_totals(spark):
    """durability.segments() records one Segment per materialize/pin
    call inside its block, stops recording when the block exits -- also
    by an exception -- and plan_totals equals the hand sum of the final
    fragment and every segment."""
    from ushas_spark import durability

    df = spark.range(200).select((F.col("id") % 7).alias("k"), "id")
    try:
        with durability.segments() as segs:
            cut = durability.materialize(df.groupBy("k").count())
            pinned = durability.pin_partitioned(df, "k")
        assert [s.kind for s in segs] == ["checkpoint", "pin"]
        assert segs[0].post is not None and segs[1].post is None

        final = pinned.join(cut, "k").groupBy("k").agg(F.sum("id"))
        hand = durability.plan_counts(final._jdf.queryExecution().executedPlan())
        for seg in segs:
            for k, v in seg.counts.items():
                hand[k] += v
        assert durability.plan_totals(segs, final) == hand

        with pytest.raises(ZeroDivisionError):
            with durability.segments() as raised:
                durability.materialize(df)
                1 / 0
        assert len(raised) == 1
        durability.materialize(df)
        assert len(raised) == 1 and len(segs) == 2
    finally:
        durability.release(spark)


def test_streaming_components_records_same_segments_twice(spark, sf_dir):
    """streaming_incremental_components replays its feed in a fixed
    micro-batch order, so two builds cut the same segments with the
    same plan counts. (Files written by concurrent tasks tie or race on
    modification time, which orders the file stream source.)"""
    from ushas_spark import durability

    runs = []
    for _ in range(2):
        with durability.segments() as segs:
            QUERIES["streaming_incremental_components"](spark, sf_dir)
        durability.release(spark)
        runs.append([s.counts for s in segs])
    assert len(runs[0]) == len(runs[1]), (len(runs[0]), len(runs[1]))
    assert runs[0] == runs[1]
