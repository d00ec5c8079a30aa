"""Golden lineage-graph tests per operator class.

The reference has ZERO automated lineage tests (its examples are runnable
demos only -- SURVEY.md section 5 item 9); this suite is the upgrade:
normalized golden trees per plan shape, edge-list checks, JSON export,
and the <100ms extraction budget (BASELINE.md)."""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F

from ushas_spark.io import load_table
from ushas_spark.lineage import lineage


def test_project_chain_golden(spark, sf_dir):
    n = load_table(spark, sf_dir, "nation")
    df = n.select((F.col("n_nationkey") + 1).alias("nk1"), "n_name").select(
        F.upper("n_name").alias("un"), "nk1"
    )
    got = lineage(df).tree_string(normalize_ids=True)
    # Source paths embed sf_dir; normalise for the golden.
    got = got.replace(f"file:{sf_dir}/", "")
    assert got == (
        "ExpressionColumn(un#0) = upper(n_name) AS un\n"
        "+- ExpressionColumn(n_name#1)\n"
        "   +- RelationColumn(n_name#1) <- nation.parquet\n"
        "ExpressionColumn(nk1#2)\n"
        "+- ExpressionColumn(nk1#2) = (n_nationkey + 1) AS nk1\n"
        "   +- RelationColumn(n_nationkey#3) <- nation.parquet"
    )


def test_filter_sort_limit_pass_through(spark, sf_dir):
    """Filter/Sort/Limit are pass-through (reference ResolveLineage
    :108-116): lineage identical to the bare scan's."""
    n = load_table(spark, sf_dir, "nation")
    plain = lineage(n).tree_string(normalize_ids=True)
    wrapped = lineage(
        n.filter(F.col("n_nationkey") > 3).orderBy("n_name").limit(5)
    ).tree_string(normalize_ids=True)
    assert plain == wrapped


def test_join_pass_through_select_star(spark, sf_dir):
    """A join's output lineage is the concatenation of both sides
    (reference semantics -- per-column precision happens at Project)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    g = lineage(n.join(r, n.n_regionkey == r.r_regionkey))
    assert [c.name for c in g.columns] == [
        "n_nationkey", "n_name", "n_regionkey", "r_regionkey", "r_name",
    ]
    srcs = {(c.name, leaf.source.split("/")[-1]) for c in g.columns for leaf in c.leaves()}
    assert ("n_name", "nation.parquet") in srcs
    assert ("r_name", "region.parquet") in srcs


def test_aggregate_extension_precision(spark, sf_dir):
    """Aggregate outputs trace to exactly their referenced columns --
    the deliberate fix of the reference's pass-through (README 你可以做的事 1)."""
    li = load_table(spark, sf_dir, "lineitem")
    df = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("sq"), F.count("*").alias("n")
    )
    g = lineage(df)
    assert g.edges() == [
        ("l_returnflag", "lineitem", "l_returnflag"),
        ("sq", "lineitem", "l_quantity"),
    ]  # count(*) has no source column; flag maps to itself


def test_window_extension(spark, sf_dir):
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    df = o.select(
        "o_orderkey",
        F.row_number()
        .over(W.partitionBy("o_custkey").orderBy("o_orderdate"))
        .alias("rn"),
    )
    edges = lineage(df).edges()
    assert ("o_orderkey", "orders", "o_orderkey") in edges
    # rn derives from the window's partition/order columns
    assert ("rn", "orders", "o_custkey") in edges
    assert ("rn", "orders", "o_orderdate") in edges


def test_union_zip_nary(spark, sf_dir):
    """Union zips branch columns (UnionColumn); n-ary beyond the
    reference's 2-way (ResolveLineage :96-107)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    n = load_table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("k"))
    g = lineage(c.union(s).union(n))
    [col] = g.columns
    assert col.kind == "UnionColumn"
    assert {leaf.name for leaf in col.leaves()} == {
        "c_nationkey", "s_nationkey", "n_nationkey",
    }


def test_union_by_name(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("k"), F.col("c_acctbal").alias("v")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_acctbal").alias("v"), F.col("s_nationkey").alias("k")
    )
    g = lineage(c.unionByName(s))
    k = g.column("k")
    assert {leaf.name for leaf in k.leaves()} == {"c_nationkey", "s_nationkey"}
    v = g.column("v")
    assert {leaf.name for leaf in v.leaves()} == {"c_acctbal", "s_acctbal"}


def test_self_join_disambiguation(spark, sf_dir):
    """Same table on both sides: exprId-keyed matching keeps the two
    scans distinct (SURVEY.md section 7 hard-parts list)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    a, b = li.alias("a"), li.alias("b")
    df = a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey")).select(
        F.col("a.l_linenumber").alias("ln_a"), F.col("b.l_linenumber").alias("ln_b")
    )
    g = lineage(df)
    a_leaves = [leaf for leaf in g.column("ln_a").leaves()]
    b_leaves = [leaf for leaf in g.column("ln_b").leaves()]
    assert len(a_leaves) == len(b_leaves) == 1
    assert a_leaves[0].name == b_leaves[0].name == "l_linenumber"
    assert a_leaves[0].expr_id != b_leaves[0].expr_id


def test_sql_entry_point_same_lineage(spark, sf_dir):
    """SQL and DataFrame entry points yield identical analyzed plans,
    hence identical lineage (SURVEY.md section 3.2)."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    df_sql = spark.sql(
        "SELECT upper(n_name) AS un, n_nationkey + 1 AS nk1 FROM nation_v"
    )
    df_api = load_table(spark, sf_dir, "nation").select(
        F.upper("n_name").alias("un"), (F.col("n_nationkey") + 1).alias("nk1")
    )
    e_sql = lineage(df_sql).edges()
    e_api = lineage(df_api).edges()
    assert e_sql == e_api


def test_generate_explode(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    df = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    edges = lineage(df).edges()
    assert ("word", "documents", "text") in edges
    assert ("doc_id", "documents", "doc_id") in edges


def test_subquery_and_cte(spark, sf_dir):
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    df = spark.sql(
        """
        WITH big AS (SELECT o_custkey, o_totalprice FROM orders_v
                     WHERE o_totalprice > 1000)
        SELECT o_custkey AS ck, o_totalprice * 2 AS dbl FROM big
        """
    )
    assert lineage(df).edges() == [
        ("ck", "orders", "o_custkey"),
        ("dbl", "orders", "o_totalprice"),
    ]


def test_json_export_roundtrip(spark, sf_dir):
    df = load_table(spark, sf_dir, "nation").select(
        F.upper("n_name").alias("un")
    )
    parsed = json.loads(lineage(df).to_json())
    assert parsed[0]["kind"] == "ExpressionColumn"
    assert parsed[0]["name"] == "un"
    leaf = parsed[0]["children"][0]
    assert leaf["kind"] == "RelationColumn"
    assert leaf["source"].endswith("nation.parquet")


def test_range_and_local_relation_sources(spark):
    g = lineage(spark.range(5).select((F.col("id") * 2).alias("x")))
    [x] = g.columns
    assert [leaf.source for leaf in x.leaves()] == ["Range"]


def test_extraction_under_100ms(spark, sf_dir):
    """BASELINE.md: lineage is a plan walk, <100ms at any data scale."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    df = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("c_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
        .orderBy(F.col("rev").desc())
        .limit(10)
    )
    lineage(df)  # warm the py4j path
    t0 = time.perf_counter()
    g = lineage(df)
    elapsed = time.perf_counter() - t0
    assert elapsed < 0.1, f"lineage took {elapsed * 1000:.1f}ms"
    assert ("rev", "lineitem", "l_discount") in g.edges()


def test_extraction_under_100ms_on_heaviest_tpch_plans(spark, sf_dir):
    """Lineage extraction must stay under the 100ms budget on the
    largest real plans we build -- the correlated/multi-join TPC-H
    shapes (q21 four-way + anti/semi, q17 correlated scalar agg, q20
    nested subqueries, q8 eight-relation join). Records the actual
    timings in the assertion message so a regression shows the numbers.
    """
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    timings: dict[str, float] = {}
    for name in (
        "q21_suppliers_who_kept_waiting",
        "q17_small_quantity_revenue",
        "q20_excess_stock_suppliers",
        "q8_market_share",
    ):
        df = qs[name](spark, sf_dir)
        lineage(df)  # warm py4j + analysis for this plan
        best = float("inf")
        for _ in range(3):  # best-of-3: measure the path, not machine load
            t0 = time.perf_counter()
            g = lineage(df)
            best = min(best, (time.perf_counter() - t0) * 1000)
        timings[name] = best
        assert g.edges(), name
    worst = max(timings.values())
    assert worst < 100, f"lineage over budget: { {k: f'{v:.1f}ms' for k, v in timings.items()} }"


def test_jdbc_relation_leaf_attribution(spark, sf_dir, tmp_path):
    """Lineage over a JDBC scan must attribute leaf columns to the JDBC
    relation's table identity (reference attributes Hive tables via
    catalogTable; JDBC relations carry their table in the relation
    itself)."""
    from ushas_spark.io import load_table
    from ushas_spark.lineage import lineage

    url = f"jdbc:derby:{tmp_path}/ldb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    load_table(spark, sf_dir, "region").write.jdbc(
        url, "region_t", mode="overwrite", properties=props
    )
    back = spark.read.jdbc(url, "region_t", properties=props)
    df = back.select((F.col("r_regionkey") + 1).alias("rk1"))
    g = lineage(df)
    edges = g.edges()
    assert any(
        "region_t" in src and col == "r_regionkey" for _, src, col in edges
    ), edges


def test_adhoc_plan_lineage_digests(spark, sf_dir):
    """The ad-hoc plan shapes keep their pinned lineage digests, and the
    fixture names exactly the registered queries plus these plans (every
    registered query's digest is checked in tests/test_oracle.py)."""
    import __spark_entry__ as entrymod

    from tests import lineage_digest

    pinned = lineage_digest.load()
    plans = lineage_digest.adhoc_plans(spark, sf_dir)
    assert set(pinned) == set(entrymod.queries()) | set(plans)
    for name, df in plans.items():
        graph = lineage(df)
        assert lineage_digest.digest(graph) == pinned[name], (name, graph.edges())


def test_cte_reference_does_not_shift_leaf_sources(spark, sf_dir):
    """A CTERelationRef is a leaf of the JVM plan too: pairing the plan
    JSON's leaves with collectLeaves() must count it, or every scan after
    the first reference takes the wrong relation as its source."""
    import __spark_entry__ as entrymod

    edges = lineage(entrymod.queries()["sql_cte_chain_reuse"](spark, sf_dir)).edges()
    assert ("n_customers", "customer", "c_custkey") in edges, edges
    assert not [e for e in edges if e[1] == "CTERelationRef"], edges


def test_resolution_error_raises(spark, sf_dir, monkeypatch):
    """A failure inside the resolver propagates out of lineage(); there
    is no second resolver to fall back to."""
    import pytest

    from ushas_spark.lineage import extract as ex

    def broken(flat, i):
        raise ValueError("unreadable plan JSON")

    df = load_table(spark, sf_dir, "nation").select("n_name")
    monkeypatch.setattr(ex, "_take_tree", broken)
    with pytest.raises(ValueError, match="unreadable plan JSON"):
        lineage(df)


def test_lineage_through_checkpointed_iterative_plan(spark, sf_dir):
    """Iterative operators truncate their plans via localCheckpoint /
    checkpoint (LogicalRDD leaves). Lineage extraction must still walk
    the post-checkpoint expression chain instead of erroring on the
    unnamed leaf."""
    from ushas_spark import lineage
    from ushas_spark.operators.clustering import kmeans_assign

    df = kmeans_assign(spark, sf_dir, iters=1)
    g = lineage(df)
    names = [c.name for c in g.columns]
    assert names == ["vec_id", "cluster", "dist_x1m"]
    tree = g.tree_string()
    # The argmin expression chain survives the checkpoint boundary.
    assert "arraymin" in tree or "array_min" in tree


def test_lineage_nary_union_through_scd2_merge(spark, sf_dir):
    """The SCD2 merge is a 3-leg unionByName (untouched ∪ closed ∪ new)
    over two source tables; lineage must attribute bal_x100 to BOTH
    possible sources (customer.c_acctbal for carried rows,
    orders.o_totalprice for new versions) through the n-ary union."""
    from ushas_spark import lineage
    from ushas_spark.operators.mergeop import scd2_merge

    g = lineage(scd2_merge(spark, sf_dir))
    names = [c.name for c in g.columns]
    assert names[:2] == ["c_custkey", "bal_x100"]
    edges = {(col, leaf_col) for col, _tbl, leaf_col in g.edges()}
    assert ("bal_x100", "c_acctbal") in edges, sorted(edges)
    assert ("bal_x100", "o_totalprice") in edges, sorted(edges)
    assert ("valid_to", "o_orderdate") in edges, sorted(edges)


def test_cross_query_impact_analysis(spark, sf_dir):
    """Impact analysis ACROSS queries -- the question lineage systems
    exist to answer ("if lineitem.l_extendedprice changes semantics,
    which downstream outputs are affected?"): extract lineage for a
    set of registered queries, invert the per-query edge lists into a
    (table, column) -> [(query, output_column)] impact map, and check
    the revenue-derived outputs are attributed while count-only
    outputs are not."""
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    probe = [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q6_forecast_revenue",
        "q13_customer_distribution",
    ]
    impact: dict[tuple[str, str], set[tuple[str, str]]] = {}
    for name in probe:
        g = lineage(queries[name](spark, sf_dir))
        for out_col, table, src_col in g.edges():
            impact.setdefault((table, src_col), set()).add((name, out_col))

    hit = impact.get(("lineitem", "l_extendedprice"), set())
    hit_queries = {q for q, _ in hit}
    # Revenue formulas in q1/q3/q6 all read l_extendedprice...
    assert {"q1_pricing_summary", "q3_shipping_priority",
            "q6_forecast_revenue"} <= hit_queries
    # ...while q13 (order-count distribution) never touches lineitem.
    assert "q13_customer_distribution" not in hit_queries
    # And the specific q1 outputs derived from it are named.
    q1_cols = {c for q, c in hit if q == "q1_pricing_summary"}
    assert {"sum_base_price", "sum_disc_price", "sum_charge"} <= q1_cols
    # Count-only q1 outputs must NOT be attributed to the price column.
    assert "count_order" not in q1_cols
