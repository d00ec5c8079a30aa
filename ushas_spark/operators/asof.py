"""As-of (point-in-time) join.

The reference has NO dedicated as-of/range join operator -- such queries
fall back to theta BNLJ/cartesian (SURVEY.md section 2.3 note). This module
adds the scalable formulation: tag both sides, UNION them, and take the
last preceding right-row per key with an ignore-nulls last_value window.
ONE shuffle on (key), no quadratic blowup -- the standard large-scale
point-in-time join used for feature stores / event attribution, vs.
pd.merge_asof which is single-node.

Cost model at 100 TB: union is shuffle-free; the window shuffles on the
by-key once. Skewed keys behave like any window partition (salt or split
if a single key exceeds a task).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ushas_spark.io import load_table
from ushas_spark.registry import query


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    left_ts: str,
    right_ts: str,
    right_values: list[str],
    direction: str,
) -> DataFrame:
    """For each left row: within the same ``by`` key, the right row with
    the greatest ``right_ts`` <= ``left_ts`` (``direction="backward"``)
    or the smallest ``right_ts`` >= ``left_ts`` (``"forward"`` -- the
    "next action after event" shape: conversion tracking, next-order
    latency).

    Both sides are tagged and unioned; an ignore-nulls ``last`` over the
    preceding frame (backward) or ``first`` over the following frame
    (forward) carries the matched right values to every left row. At
    equal timestamps the right rows sort on the side facing the frame,
    so an equal-time right row matches either way. ONE shuffle on the
    key, no quadratic blowup.

    Returns the left columns + the matched ``right_values`` as
    ``asof_<name>`` (NULL when no right row qualifies).
    """
    backward = {"backward": True, "forward": False}[direction]
    left_side, right_side = (1, 0) if backward else (0, 1)
    lcols = left.columns
    l_tagged = left.select(
        F.col(by).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(left_side).alias("_side"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_values],
    )
    r_tagged = right.select(
        F.col(by).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(right_side).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c).alias(f"_r_{c}") for c in right_values],
    )
    unioned = l_tagged.unionByName(r_tagged)
    w = W.partitionBy("_k").orderBy("_ts", "_side")
    if backward:
        w, fill = w.rowsBetween(W.unboundedPreceding, W.currentRow), F.last
    else:
        w, fill = w.rowsBetween(W.currentRow, W.unboundedFollowing), F.first
    filled = unioned.select(
        "*",
        *[fill(f"_r_{c}", ignorenulls=True).over(w).alias(f"_m_{c}") for c in right_values],
    )
    return filled.filter(F.col("_side") == left_side).select(
        *lcols, *[F.col(f"_m_{c}").alias(f"asof_{c}") for c in right_values]
    )


def _latest_order_asof(
    spark: SparkSession, sf_dir: str, right_values: list[str]
) -> DataFrame:
    """Backward as-of of every event ``(event_id, k, ts)`` against its
    user's orders, carrying ``right_values`` as ``asof_*``. The orders
    side is pre-reduced to max(o_orderkey) per (custkey, orderdate)."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("k"), "ts"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    return asof_join(
        events,
        orders,
        by="k",
        left_ts="ts",
        right_ts="o_orderdate",
        right_values=right_values,
        direction="backward",
    )


_ASOF_ORACLE = """
WITH o AS (
  -- Pre-reduce ties exactly as the Spark side does: DuckDB's ASOF
  -- tie-break among equal o_orderdate rows is unspecified, so the gate
  -- would flake whenever a matched (user, date) has multiple orders.
  SELECT o_custkey AS k, o_orderdate, MAX(o_orderkey) AS o_orderkey
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
       o.o_orderkey AS asof_o_orderkey
FROM events e
ASOF LEFT JOIN o
  ON e.user_id = o.k AND o.o_orderdate <= e.ts
ORDER BY e.event_id
"""


@query("asof_latest_order_before_event", oracle=_ASOF_ORACLE)
def asof_latest_order_before_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each event: the user's most recent order at event time -- the
    point-in-time attribution shape. Oracle uses DuckDB's native ASOF
    JOIN; ours is the union+window formulation.

    Ties: multiple orders can share (o_custkey, o_orderdate); both
    formulations are only well-defined on a unique (key, ts) right side,
    so it is pre-reduced to max(o_orderkey) per (custkey, orderdate).
    """
    out = _latest_order_asof(spark, sf_dir, ["o_orderkey"])
    return out.select(
        "event_id",
        F.col("k").alias("user_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        "asof_o_orderkey",
    ).orderBy("event_id")


_ASOF_FWD_ORACLE = """
WITH o AS (
  SELECT o_custkey AS k, o_orderdate, MIN(o_orderkey) AS o_orderkey
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
       (SELECT o.o_orderkey FROM o
        WHERE o.k = e.user_id AND o.o_orderdate >= e.ts
        ORDER BY o.o_orderdate, o.o_orderkey LIMIT 1) AS asof_o_orderkey
FROM events e
ORDER BY e.event_id
"""


@query("asof_next_order_after_event", oracle=_ASOF_FWD_ORACLE)
def asof_next_order_after_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each event: the user's NEXT order at-or-after event time
    (forward as-of -- conversion attribution). Oracle is a correlated
    min-subquery; ours is the union+window formulation with one shuffle.

    Ties: the right side is pre-reduced to min(o_orderkey) per
    (custkey, orderdate) so "first next order" is well-defined; with
    multiple orders at the matched date, the earliest key wins on both
    engines.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("k"), "ts"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"), "o_orderdate")
        .agg(F.min("o_orderkey").alias("o_orderkey"))
    )
    out = asof_join(
        events,
        orders,
        by="k",
        left_ts="ts",
        right_ts="o_orderdate",
        right_values=["o_orderkey"],
        direction="forward",
    )
    return out.select(
        "event_id",
        F.col("k").alias("user_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        "asof_o_orderkey",
    ).orderBy("event_id")


_ASOF_TOL_ORACLE = """
WITH o AS (
  -- Tie pre-reduction mirrors the Spark side (see _ASOF_ORACLE).
  SELECT o_custkey AS k, o_orderdate, MAX(o_orderkey) AS o_orderkey
  FROM orders GROUP BY 1, 2
)
SELECT event_id, user_id, event_ts,
       CASE WHEN order_date IS NOT NULL
                 AND order_date >= CAST(event_ts AS TIMESTAMP) - INTERVAL 90 DAY
            THEN asof_key END AS asof_o_orderkey
FROM (
  SELECT e.event_id, e.user_id,
         strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
         o.o_orderkey AS asof_key, o.o_orderdate AS order_date
  FROM events e
  ASOF LEFT JOIN o
    ON e.user_id = o.k AND o.o_orderdate <= e.ts
)
ORDER BY event_id
"""


@query("asof_order_within_tolerance", oracle=_ASOF_TOL_ORACLE)
def asof_order_within_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of with a 90-day TOLERANCE (the pd.merge_asof
    ``tolerance`` knob): a preceding order older than the window does
    not count as attribution. Implemented by carrying the matched
    timestamp through the window fill and nulling matches outside the
    tolerance -- zero extra shuffles over the plain as-of."""
    out = _latest_order_asof(spark, sf_dir, ["o_orderkey", "o_orderdate"])
    within = F.col("asof_o_orderdate") >= F.col("ts") - F.expr("INTERVAL 90 DAY")
    return out.select(
        "event_id",
        F.col("k").alias("user_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        F.when(within, F.col("asof_o_orderkey")).alias("asof_o_orderkey"),
    ).orderBy("event_id")


_ASOF_NEAREST_ORACLE = """
WITH o AS (
  SELECT o_custkey AS k, o_orderdate, MAX(o_orderkey) AS o_orderkey
  FROM orders GROUP BY 1, 2
), b AS (
  SELECT e.event_id, MAX(CAST(o.o_orderdate AS TIMESTAMP)) AS bd
  FROM events e LEFT JOIN o
    ON o.k = e.user_id AND CAST(o.o_orderdate AS TIMESTAMP) <= e.ts
  GROUP BY 1
), f AS (
  SELECT e.event_id, MIN(CAST(o.o_orderdate AS TIMESTAMP)) AS fd
  FROM events e LEFT JOIN o
    ON o.k = e.user_id AND CAST(o.o_orderdate AS TIMESTAMP) > e.ts
  GROUP BY 1
), sel AS (
  SELECT e.event_id, e.user_id, e.ts, b.bd, f.fd,
         CASE WHEN bd IS NULL AND fd IS NULL THEN 'none'
              WHEN fd IS NULL THEN 'backward'
              WHEN bd IS NULL THEN 'forward'
              WHEN epoch_us(e.ts) - epoch_us(bd)
                   <= epoch_us(fd) - epoch_us(e.ts) THEN 'backward'
              ELSE 'forward' END AS direction
  FROM events e
  LEFT JOIN b USING (event_id)
  LEFT JOIN f USING (event_id)
)
SELECT s.event_id, s.user_id,
       strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
       s.direction,
       CASE s.direction
            WHEN 'backward' THEN (epoch_us(s.ts) - epoch_us(s.bd)) // 1000000
            WHEN 'forward' THEN (epoch_us(s.fd) - epoch_us(s.ts)) // 1000000
       END AS dist_s,
       o2.o_orderkey AS nearest_o_orderkey
FROM sel s
LEFT JOIN o o2
  ON o2.k = s.user_id
 AND CAST(o2.o_orderdate AS TIMESTAMP) =
     CASE WHEN s.direction = 'backward' THEN s.bd
          WHEN s.direction = 'forward' THEN s.fd END
ORDER BY s.event_id
"""


@query("asof_nearest_order_to_event", oracle=_ASOF_NEAREST_ORACLE)
def asof_nearest_order_to_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of: for each event, the user's closest order
    in TIME, looking both ways (backward <= ts, forward > ts; exact
    ties prefer backward) -- pd.merge_asof(direction='nearest') at
    cluster scale.

    Scale shape: ONE shuffle for the as-of machinery (plus the right
    side's tie pre-reduction aggregate). Both sides union-tag once; the
    backward last_value and forward first_value windows share the same
    (key) partitioning and (ts, side) ordering, so Catalyst plans a
    single Exchange feeding both Window operators -- not two as-of
    passes joined back (verified: 2 hash exchanges total in the
    physical plan, window + pre-reduction). Distances are exact
    epoch-microsecond integers.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("_k"), F.col("ts").alias("_ts")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("_k"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
        .select(
            "_k",
            F.col("o_orderdate").cast("timestamp").alias("_ts"),
            "o_orderkey",
        )
    )
    l_tag = events.select(
        "_k", "_ts", F.lit(1).alias("_side"), "event_id",
        F.lit(None).cast("long").alias("_r_key"),
        F.lit(None).cast("timestamp").alias("_r_ts"),
    )
    r_tag = orders.select(
        "_k", "_ts", F.lit(0).alias("_side"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey").alias("_r_key"),
        F.col("_ts").alias("_r_ts"),
    )
    u = l_tag.unionByName(r_tag)
    # Rights sort before lefts at equal ts: backward sees <=, forward >.
    wb = (
        W.partitionBy("_k")
        .orderBy("_ts", "_side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("_k")
        .orderBy("_ts", "_side")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    filled = u.select(
        "_k", "_ts", "_side", "event_id",
        F.last("_r_key", ignorenulls=True).over(wb).alias("b_key"),
        F.last("_r_ts", ignorenulls=True).over(wb).alias("b_ts"),
        F.first("_r_key", ignorenulls=True).over(wf).alias("f_key"),
        F.first("_r_ts", ignorenulls=True).over(wf).alias("f_ts"),
    ).filter(F.col("_side") == 1)
    db = F.unix_micros("_ts") - F.unix_micros("b_ts")
    df_ = F.unix_micros("f_ts") - F.unix_micros("_ts")
    direction = (
        F.when(F.col("b_ts").isNull() & F.col("f_ts").isNull(), "none")
        .when(F.col("f_ts").isNull(), "backward")
        .when(F.col("b_ts").isNull(), "forward")
        .when(db <= df_, "backward")
        .otherwise("forward")
    )
    out = filled.select(
        "event_id",
        F.col("_k").alias("user_id"),
        F.date_format("_ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        direction.alias("direction"),
        F.when(direction == "backward", F.expr(
            "(unix_micros(_ts) - unix_micros(b_ts)) div 1000000"))
        .when(direction == "forward", F.expr(
            "(unix_micros(f_ts) - unix_micros(_ts)) div 1000000"))
        .alias("dist_s"),
        F.when(direction == "backward", F.col("b_key"))
        .when(direction == "forward", F.col("f_key"))
        .alias("nearest_o_orderkey"),
    )
    return out.orderBy("event_id")
