"""Skew-mitigation: salted joins and salted aggregation.

At 100 TB a handful of hot keys (the null key, a default account id, a
bot user) can put an entire join or aggregation on one task. Two levers:

1. AQE skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on in
   our session defaults) -- handles the JOIN case at runtime by splitting
   oversized partitions.
2. Explicit salting (this module) -- works for aggregations too, on any
   Spark version, and makes the mitigation visible/plannable: the hot
   side's key becomes (key, salt) with salt in [0, S); the small side is
   replicated S times; results are exact because every (key, salt) pair
   still meets its match.

Both produce identical results to the plain operation -- which is exactly
what the oracle gate checks (the salted query's oracle is the PLAIN SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ushas_spark.io import load_table
from ushas_spark.registry import query

N_SALTS = 8  # salts per hot key: the first shuffle fans each key over 8 reducers


def _row_salt(df: DataFrame, n_salts: int, id_col: str | None) -> F.Column:
    """Retry-deterministic salt in [0, n_salts).

    With ``id_col`` (a stable unique row id): salt = hash(id) -- uniform
    even when row *contents* repeat. Without one: hash of all row columns
    MIXED WITH ``spark_partition_id()``. A pure content hash would give
    every copy of a duplicated row the same salt, silently un-salting the
    exact hot-key-of-identical-rows workload salting targets; the
    partition id separates copies living in different input partitions
    (copies within one partition still share a salt, so per-reducer load
    from any single hot key is bounded by the largest input partition,
    not the key's global count). Both variants re-derive the SAME salt on
    task retry/speculation -- a retried task re-reads the same split, so
    its partition id is stable; ``monotonically_increasing_id`` would
    re-salt rows differently mid-query and break exactness.
    """
    if id_col is not None:
        return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).cast("int")
    return F.pmod(
        F.xxhash64(*df.columns, F.spark_partition_id()), F.lit(n_salts)
    ).cast("int")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    n_salts: int = N_SALTS,
) -> DataFrame:
    """Inner equi-join with the big side salted and the small side
    replicated.

    The big side's salt comes from :func:`_row_salt` (content+partition
    hash -- see its docstring for the duplicate-row rationale). The small
    side explodes to all salts, so every big row finds its partner in
    exactly one (key, salt) bucket.
    """
    salted_big = big.withColumn("_salt", _row_salt(big, n_salts, None))
    salted_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(s) for s in range(n_salts)]))
    )
    joined = salted_big.join(
        salted_small,
        (salted_big[big_key] == salted_small[small_key])
        & (salted_big["_salt"] == salted_small["_salt"]),
        "inner",
    )
    return joined.drop("_salt")


def salted_aggregate_counts(
    df: DataFrame, key: str
) -> DataFrame:
    """Two-phase aggregation through a salted key: partial counts per
    (key, salt), then final per key. For COUNT/SUM-class aggregates this
    is exact; the first shuffle spreads a hot key over N_SALTS reducers.
    Salt is retry-deterministic (see :func:`_row_salt`); note the hash
    aggregate's map-side combine already collapses identical rows before
    the shuffle, so duplicates are far less dangerous here than in the
    join case."""
    partial = (
        df.withColumn("_salt", _row_salt(df, N_SALTS, None))
        .groupBy(key, "_salt")
        .agg(F.count("*").alias("_partial_n"))
    )
    return partial.groupBy(key).agg(F.sum("_partial_n").alias("n"))


_SKEW_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("skew_salted_aggregation", oracle=_SKEW_ORACLE)
def skew_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over a LOW-cardinality key (5
    priorities -- the classic hot-key shape): result identical to the
    plain GROUP BY, but the first shuffle fans each key across 8
    reducers. The oracle is the plain SQL -- exactness is the point."""
    o = load_table(spark, sf_dir, "orders")
    return salted_aggregate_counts(o, "o_orderpriority").orderBy("o_orderpriority")


_SKEW_JOIN_ORACLE = """
SELECT n_name, COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


@query("skew_salted_join", oracle=_SKEW_JOIN_ORACLE)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-dim join: customer keys concentrate on 25 nations
    (hot-key shape). Small side replicated 8x; the result must equal the
    plain join -- the oracle checks exactly that."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = salted_join(cust, nation, "c_nationkey", "n_nationkey", n_salts=8)
    return (
        joined.groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("n_name")
    )
