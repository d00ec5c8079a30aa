"""Source/generator/limit/sort coverage (SURVEY.md sections 2.1, 2.2, 2.6).

Range generator (reference: basicLogicalOperators.scala:528 /
basicPhysicalOperators.scala:337 RangeExec), inline VALUES / LocalRelation
(LocalRelation.scala), sampling (basicLogicalOperators.scala:870), sorts
with null ordering (expressions/SortOrder.scala:37-62), limit/offset and
the fused top-k (execution/limit.scala:124 TakeOrderedAndProjectExec).
File-format round-trips (CSV/JSON/ORC/text) live in tests/test_sources.py
-- they need scratch paths, which query functions must not create.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ushas_spark.io import load_table
from ushas_spark.registry import query


@query(
    "source_range",
    oracle="""
SELECT COUNT(*) AS n,
       CAST(SUM(x) AS BIGINT) AS total,
       MIN(x) AS lo,
       MAX(x) AS hi
FROM (SELECT range * 7 AS x FROM range(0, 1000))
""",
)
def source_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed range generator: spark.range is partitioned across the
    cluster (start/end/step split per task), not driver-materialised."""
    return spark.range(0, 1000).select((F.col("id") * 7).alias("x")).agg(
        F.count("*").alias("n"),
        F.sum("x").alias("total"),
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
    )


@query(
    "source_values_inline",
    oracle="""
SELECT k, v FROM (VALUES (1, 'a'), (2, 'b'), (3, NULL), (4, 'd')) AS t(k, v)
ORDER BY k
""",
)
def source_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline literal rows -> LocalRelation (reference: plans/logical/
    LocalRelation.scala; what SQL VALUES parses to)."""
    return spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], schema="k int, v string"
    ).orderBy("k")


@query(
    "sample_systematic",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_orderkey % 10 = 0
ORDER BY o_orderkey
""",
)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic sample (key mod N). The engine also has
    true Bernoulli/Poisson sampling (df.sample, reference:
    basicLogicalOperators.scala:870 Sample) -- seeded but engine-specific,
    so it is covered by tests/test_sources.py, not an oracle."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@query(
    "sort_nulls_ordering",
    oracle="""
SELECT n_name, s_name, s_acctbal
FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
ORDER BY s_acctbal DESC NULLS FIRST, n_name, s_name
""",
)
def sort_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit null ordering (reference: SortOrder.scala:37-62
    asc_nulls_first/desc_nulls_first...). Global sort -> range partitioned
    exchange (sampled split points), not a single-task sort."""
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        nation.join(supp, nation.n_nationkey == supp.s_nationkey, "left")
        .select("n_name", "s_name", "s_acctbal")
        .orderBy(F.col("s_acctbal").desc_nulls_first(), "n_name", "s_name")
    )


@query(
    "topk_global",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 15
""",
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy+limit fuses into TakeOrderedAndProject
    (per-partition heaps + single merge; reference: execution/limit.scala
    :124, planned by SpecialLimits SparkStrategies.scala:68). O(k) driver
    memory regardless of input size -- THE scalable global-sort-limit."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(15)
    )


@query(
    "limit_offset",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_orderkey
LIMIT 10 OFFSET 20
""",
)
def limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET over a total order (offset requires deterministic
    ordering to be meaningful)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice").orderBy("o_orderkey").offset(20).limit(10)
    )


@query(
    "source_custom_datasource_v2",
    oracle="""
WITH g AS (
  SELECT range AS id, (range * 2654435761) % 2147483647 AS mixed
  FROM range(0, 1000)
)
SELECT CAST(mixed % 10 AS INT) AS bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND((CAST(mixed % 100000 AS DOUBLE) / 100.0) * 100)
                AS BIGINT)) AS DOUBLE) / 100.0 AS sum_val
FROM g
GROUP BY 1
ORDER BY bucket
""",
)
def source_custom_datasource_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source (the DSv2 surface -- see
    ushas_spark.datasource): partitioned, deterministic synthetic reads;
    the oracle regenerates the rows arithmetically."""
    from ushas_spark.datasource import register

    register(spark)
    df = (
        spark.read.format("ushas_synthetic")
        .option("rows", "1000")
        .option("partitions", "8")
        .load()
    )
    scaled = F.round(F.col("val") * 100).cast("long")
    return (
        df.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            (F.sum(scaled).cast("double") / 100.0).alias("sum_val"),
        )
        .orderBy("bucket")
    )


@query(
    "misc_id_functions",
    oracle="""
SELECT COUNT(*) AS n_rows, COUNT(DISTINCT rid) AS n_distinct_ids
FROM (SELECT row_number() OVER () AS rid FROM lineitem)
""",
)
def misc_id_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """monotonically_increasing_id (reference: expressions/
    MonotonicallyIncreasingID.scala:44): values are partition-dependent,
    so the invariant we pin cross-engine is uniqueness (count distinct ==
    count). The oracle generates its own unique ids."""
    li = load_table(spark, sf_dir, "lineitem")
    ids = li.select(F.monotonically_increasing_id().alias("rid"))
    return ids.agg(
        F.count("*").alias("n_rows"), F.countDistinct("rid").alias("n_distinct_ids")
    )


@query(
    "source_jdbc_roundtrip",
    oracle="""
SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_name
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
)
def source_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC source/sink (reference: execution/datasources/jdbc/
    JdbcRelationProvider.scala:24, JDBCRDD.scala) against EMBEDDED Derby
    -- already on Spark's classpath, so the whole JDBC stack (write
    CREATE/INSERT, read, predicate pushdown into the JDBCRelation scan)
    runs for real in-process with no external endpoint. The nation table
    round-trips through Derby; the aggregate proves the read.

    Scale note: production JDBC reads must set partitionColumn/
    lowerBound/upperBound/numPartitions to parallelise (tested in
    tests/test_sources.py::test_jdbc_partitioned_read_and_pushdown);
    an unpartitioned read is a single task.
    """
    # One in-memory Derby database per sf_dir and JVM: repeated builds
    # reuse it (overwrite mode resets the table), and two processes
    # never share a database on disk.
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir)
    url = f"jdbc:derby:memory:ushas_{tag};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.jdbc(url, "nation_t", mode="overwrite", properties=props)
    back = spark.read.jdbc(url, "nation_t", properties=props)
    return (
        back.groupBy("n_regionkey")
        .agg(F.count("*").alias("n_nations"), F.min("n_name").alias("first_name"))
        .orderBy("n_regionkey")
    )
