"""Product-analytics operators over the events table.

The funnel / cohort-retention / transition-matrix family every
clickstream warehouse runs daily. None of these exist as dedicated
operators in the reference (they fall out of its generic SQL surface --
reference: sql/core window + aggregate exec; SURVEY.md section 2.4/2.5);
here each is expressed as the SCALABLE Spark shape: all per-user
sequencing rides ONE hash shuffle on user_id (window functions over the
same partition key share a single Exchange), and the final rollups are
tiny aggregates over per-user rows.

Exactness: every output is an integer count or an epoch-derived integer
(week offsets), so the DuckDB oracles compare bit-for-bit; all final
counts are COUNT(...)/COUNT(DISTINCT ...) which both engines type BIGINT
(no un-cast integer SUMs -- see tests/oracle_harness.py dtype gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ushas_spark.io import load_table
from ushas_spark.registry import query

_FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id
), c AS (
  SELECT v.user_id, v.t_view,
         MIN(CASE WHEN e.event_type = 'click' AND e.ts > v.t_view
                  THEN e.ts END) AS t_click
  FROM v JOIN events e USING (user_id)
  GROUP BY 1, 2
), p AS (
  SELECT c.user_id, c.t_view, c.t_click,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > c.t_click
                  THEN e.ts END) AS t_purchase
  FROM c JOIN events e USING (user_id)
  GROUP BY 1, 2, 3
)
SELECT COUNT(*) AS n_users,
       COUNT(t_view) AS n_view,
       COUNT(t_click) AS n_view_click,
       COUNT(t_purchase) AS n_view_click_purchase
FROM p
"""


def _funnel_stages(e: DataFrame, w) -> DataFrame:
    """Add each user's first view (``t_view``), first click after it
    (``t_click``) and first purchase after that (``t_purchase``): three
    window-mins over the one user partition ``w``."""

    def first_after(event_type: str, prev: str):
        return F.min(
            F.when(
                (F.col("event_type") == event_type) & (F.col("ts") > F.col(prev)),
                F.col("ts"),
            )
        ).over(w)

    return (
        e.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn("t_click", first_after("click", "t_view"))
        .withColumn("t_purchase", first_after("purchase", "t_click"))
    )


@query("events_funnel_conversion", oracle=_FUNNEL_ORACLE)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED funnel view -> click -> purchase: a user converts a stage
    only with an event strictly after their previous stage's first event
    (the sequencing that separates a real funnel from three independent
    COUNT(DISTINCT)s).

    Scale shape: three stacked window-mins over the SAME user_id
    partition -- Catalyst plans one Exchange feeding all three Window
    operators, so the whole per-user sequencing costs a single shuffle
    of the events table; the final count is a scalar aggregate.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    staged = _funnel_stages(e, W.partitionBy("user_id"))
    per_user = staged.groupBy("user_id").agg(
        F.first("t_view").alias("t_view"),
        F.first("t_click").alias("t_click"),
        F.first("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_view_click"),
        F.count("t_purchase").alias("n_view_click_purchase"),
    )


_RETENTION_ORACLE = """
WITH cohorts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT e.user_id, c.cohort_week,
         date_trunc('week', e.ts) AS active_week
  FROM events e JOIN cohorts c USING (user_id)
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST((epoch(active_week) - epoch(cohort_week)) // 604800 AS BIGINT)
         AS week_offset,
       COUNT(*) AS n_users
FROM active
GROUP BY 1, 2
ORDER BY cohort_week, week_offset
"""


@query("events_retention_cohorts", oracle=_RETENTION_ORACLE)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-seen week, then
    counted once per (cohort, active-week-offset) -- the triangle matrix
    behind every retention chart.

    Scale shape: the cohort assignment is a window-min over user_id (one
    shuffle), the (user, week) de-dup is map-side-combinable DISTINCT on
    the same key prefix, and the output is |weeks|^2 rows -- tiny.
    Week offsets are integer epoch arithmetic, exact on both engines.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    w = W.partitionBy("user_id")
    tagged = e.withColumn(
        "cohort_week", F.date_trunc("week", F.min("ts").over(w))
    ).withColumn("active_week", F.date_trunc("week", F.col("ts")))
    active = tagged.select("user_id", "cohort_week", "active_week").distinct()
    offset = (
        (F.unix_timestamp("active_week") - F.unix_timestamp("cohort_week"))
        / F.lit(604800)
    ).cast("long")
    return (
        active.groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            offset.alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY 1, 2
ORDER BY prev_type, next_type
"""


@query("events_type_transitions", oracle=_TRANSITIONS_ORACLE)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition counts (the Markov matrix of
    the clickstream): lag over each user's (ts, event_id)-ordered
    sequence, then a 25-cell rollup. The event_id tiebreak makes the
    sequence -- and therefore the oracle comparison -- deterministic.

    Scale shape: one shuffle on user_id for the lag window; the
    transition rollup aggregates to |types|^2 rows with map-side
    combine.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.withColumn("prev_type", F.lag("event_type").over(w))
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
        .orderBy("prev_type", "next_type")
    )


_ANOMALY_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, hr, n,
         CAST(SUM(n)   OVER w AS BIGINT) AS s1,
         CAST(SUM(n*n) OVER w AS BIGINT) AS s2,
         CAST(COUNT(*) OVER w AS BIGINT) AS c
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hr, n,
       CASE WHEN c >= 12 AND (c*s2 - s1*s1) > 0 THEN
         CAST(ROUND(
           (CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(c AS DOUBLE))
           / SQRT((CAST(c AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                  / (CAST(c AS DOUBLE) * (CAST(c AS DOUBLE) - 1.0)))
           * 10000) AS BIGINT)
       END AS z_x1e4
FROM stats
ORDER BY event_type, hr
"""


@query("events_anomaly_zscore", oracle=_ANOMALY_ORACLE)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-volume anomaly score: each (event_type, hour)
    bucket's count against the trailing 24 observed buckets' mean/std
    (sample), z-scores reported as scaled ints, NULL until 12 buckets of
    history exist.

    Exactness: the window accumulates integer count and count-squared
    sums (exact, order-independent), then mean/std/z are derived
    per-row with one closed-form double evaluation -- the same
    ``oracle_exact`` pattern as the moment aggregates, applied over a
    window frame. Scale shape: one groupBy to hourly buckets (map-side
    combinable), then ONE window partitioned by event_type over the
    bucket table (which is |types| x |hours|, tiny relative to raw
    events regardless of corpus size).
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    )
    hourly = e.groupBy("event_type", "hr").agg(F.count(F.lit(1)).alias("n"))
    w = (
        W.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-24, -1)
    )
    stats = hourly.select(
        "event_type",
        "hr",
        "n",
        F.sum("n").over(w).alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("s2"),
        F.count(F.lit(1)).over(w).alias("c"),
    )
    cd = F.col("c").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    z = (F.col("n").cast("double") - s1d / cd) / F.sqrt(
        (cd * s2d - s1d * s1d) / (cd * (cd - F.lit(1.0)))
    )
    return stats.select(
        "event_type",
        "hr",
        "n",
        F.when(
            (F.col("c") >= 12)
            & ((F.col("c") * F.col("s2") - F.col("s1") * F.col("s1")) > 0),
            F.round(z * 10000).cast("long"),
        ).alias("z_x1e4"),
    ).orderBy("event_type", "hr")


_PATH_LEN = 8
_PATH_TOP = 20

_PATHS_ORACLE = f"""
WITH ranked AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), paths AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= {_PATH_LEN}
  GROUP BY user_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users FROM paths
GROUP BY path ORDER BY n_users DESC, path LIMIT {_PATH_TOP}
"""


@query("events_user_paths", oracle=_PATHS_ORACLE)
def events_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PATH_TOP} user journey paths: each user's first
    {_PATH_LEN} events as an ordered type sequence, counted across
    users.

    Scale shape: ONE shuffle on user_id builds the per-user ordered
    array (collect_list + array_sort -- object-hash aggregate, order
    restored deterministically by (ts, event_id) inside the array, so
    collect order never matters); the path histogram then aggregates
    |users| short strings and the top-k is a TakeOrderedAndProject.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    per_user = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.slice(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    1,
                    _PATH_LEN,
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        per_user.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(_PATH_TOP)
    )


_INTERP_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT event_type, MIN(hr) AS h0, MAX(hr) AS h1 FROM hourly GROUP BY 1
), grid AS (
  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
  FROM spans
), joined AS (
  SELECT g.event_type, g.hr, h.v AS actual
  FROM grid g LEFT JOIN hourly h
    ON h.event_type = g.event_type AND h.hr = g.hr
), ctx AS (
  SELECT event_type, hr, actual,
    LAST_VALUE(actual IGNORE NULLS) OVER w_prev AS pv,
    LAST_VALUE(CASE WHEN actual IS NOT NULL THEN hr END IGNORE NULLS)
      OVER w_prev AS pt,
    FIRST_VALUE(actual IGNORE NULLS) OVER w_next AS nv,
    FIRST_VALUE(CASE WHEN actual IS NOT NULL THEN hr END IGNORE NULLS)
      OVER w_next AS nt
  FROM joined
  WINDOW
    w_prev AS (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    w_next AS (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT event_type, hr,
  CASE WHEN actual IS NOT NULL THEN actual
       WHEN pv IS NULL OR nv IS NULL THEN NULL
       ELSE CAST(ROUND(CAST(pv AS DOUBLE)
            + CAST(nv - pv AS DOUBLE)
              * (CAST(epoch(hr) - epoch(pt) AS DOUBLE)
                 / CAST(epoch(nt) - epoch(pt) AS DOUBLE))) AS BIGINT)
  END AS val_x100,
  CASE WHEN actual IS NOT NULL THEN 'actual'
       WHEN pv IS NULL OR nv IS NULL THEN 'edge'
       ELSE 'interp' END AS src
FROM ctx ORDER BY event_type, hr
"""


@query("ts_interpolate_linear", oracle=_INTERP_ORACLE)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series with LINEAR interpolation across gaps -- the
    numeric sibling of the LOCF gap-fill (`window_gap_fill_locf`): each
    missing bucket gets prev + (next-prev) * elapsed-fraction, computed
    from exact scaled-int neighbors with a single deterministic double
    expression per row (no cross-row float accumulation).

    Scale shape: one groupBy to hourly buckets, a per-type sequence
    explode for the dense grid (|types| x |hours| rows), one window
    partitioned by event_type providing both the previous and next
    known points (two frames over the SAME exchange).
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        F.round(F.col("value") * 100).cast("long").alias("v100"),
    )
    hourly = e.groupBy("event_type", "hr").agg(F.sum("v100").alias("v"))
    spans = hourly.groupBy("event_type").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    grid = spans.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hr"),
    )
    joined = grid.join(hourly, ["event_type", "hr"], "left").select(
        "event_type", "hr", F.col("v").alias("actual")
    )
    wp = (
        W.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wn = (
        W.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(1, W.unboundedFollowing)
    )
    known_hr = F.when(F.col("actual").isNotNull(), F.col("hr"))
    ctx = joined.select(
        "event_type",
        "hr",
        "actual",
        F.last("actual", ignorenulls=True).over(wp).alias("pv"),
        F.last(known_hr, ignorenulls=True).over(wp).alias("pt"),
        F.first("actual", ignorenulls=True).over(wn).alias("nv"),
        F.first(known_hr, ignorenulls=True).over(wn).alias("nt"),
    )
    frac = (
        (F.unix_timestamp("hr") - F.unix_timestamp("pt")).cast("double")
        / (F.unix_timestamp("nt") - F.unix_timestamp("pt")).cast("double")
    )
    interp = F.round(
        F.col("pv").cast("double")
        + (F.col("nv") - F.col("pv")).cast("double") * frac
    ).cast("long")
    return ctx.select(
        "event_type",
        "hr",
        F.when(F.col("actual").isNotNull(), F.col("actual"))
        .when(F.col("pv").isNull() | F.col("nv").isNull(), F.lit(None))
        .otherwise(interp)
        .alias("val_x100"),
        F.when(F.col("actual").isNotNull(), F.lit("actual"))
        .when(F.col("pv").isNull() | F.col("nv").isNull(), F.lit("edge"))
        .otherwise(F.lit("interp"))
        .alias("src"),
    ).orderBy("event_type", "hr")


_EWMA_ORACLE = """
WITH seq AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(vals) AS BIGINT) AS n_events,
       CAST(ROUND(list_reduce(list_prepend(0.0, vals),
            (acc, x) -> acc * 0.5 + x * 0.5) * 1000000) AS BIGINT)
         AS ewma_x1m
FROM seq ORDER BY user_id
"""


@query("events_value_ewma", oracle=_EWMA_ORACLE)
def events_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values
    (alpha = 0.5, zero-seeded), as a deterministic sequential fold over
    the (ts, event_id)-ordered value sequence.

    EWMA is a recurrence, not a commutative aggregate -- the one shape
    partial aggregation CANNOT compute -- so the scalable form is one
    shuffle on user_id, an ordered collect (order restored inside the
    array, so collect order never matters), then a JVM fold. Both
    engines run the identical left fold, and halving is exact in binary
    floating point, so the gate compares whole trajectories bit-for-bit.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    seq = e.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda s: s["value"],
        ).alias("vals")
    )
    ewma = F.aggregate(
        F.col("vals"),
        F.lit(0.0),
        lambda acc, x: acc * F.lit(0.5) + x * F.lit(0.5),
    )
    return seq.select(
        "user_id",
        F.size("vals").cast("long").alias("n_events"),
        F.round(ewma * 1_000_000).cast("long").alias("ewma_x1m"),
    ).orderBy("user_id")


_ATTRIBUTION_ORACLE = """
WITH e AS (
  SELECT event_id, user_id, event_type, ts,
         MAX(CASE WHEN event_type IN ('view', 'click')
                  THEN printf('%020d|%010d|%s', epoch_us(ts), event_id,
                              event_type)
             END) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_touch
  FROM events
)
SELECT CASE WHEN last_touch IS NULL THEN 'none'
            ELSE split_part(last_touch, '|', 3) END AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM e
WHERE event_type = 'purchase'
GROUP BY 1
ORDER BY channel
"""


@query("events_attribution_last_touch", oracle=_ATTRIBUTION_ORACLE)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent PRECEDING view or click ('none' when the
    purchase had no prior touch). The classic formulation is a per-user
    as-of self-join; here it collapses to one running window MAX over a
    conditional column, so the whole operator costs a single user_id
    shuffle -- the same one every other per-user window shares.

    Determinism: the running max compares a fixed-width
    '%020d|%010d|%s'-encoded (epoch_us, event_id, type) string, so
    lexicographic order == (ts, event_id) order on both engines and
    same-timestamp events break ties identically.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin("view", "click"),
        F.format_string(
            "%020d|%010d|%s",
            F.unix_micros("ts"),
            F.col("event_id"),
            F.col("event_type"),
        ),
    )
    attributed = e.withColumn("last_touch", F.max(touch).over(w))
    return (
        attributed.filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(
                F.substring_index("last_touch", "|", -1), F.lit("none")
            ).alias("channel"),
            "user_id",
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("channel")
    )


_OHLC_ORACLE = """
WITH e AS (
  SELECT date_trunc('hour', ts) AS bar_hour, event_type,
         printf('%020d|%010d', epoch_us(ts), event_id) AS ord,
         CAST(ROUND(value * 1000000) AS BIGINT) AS v_x1m
  FROM events
)
SELECT bar_hour, event_type,
       arg_min(v_x1m, ord) AS open_x1m,
       MAX(v_x1m) AS high_x1m,
       MIN(v_x1m) AS low_x1m,
       arg_max(v_x1m, ord) AS close_x1m,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM e
GROUP BY bar_hour, event_type
ORDER BY bar_hour, event_type
"""


@query("events_ohlc_hourly", oracle=_OHLC_ORACLE)
def events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type -- the timeseries resampling
    shape (open/high/low/close/count per bucket) every metrics or
    market-data pipeline runs.

    Open/close are argmin/argmax by a fixed-width '%020d|%010d'
    (epoch_us, event_id) ordering string, so same-timestamp events
    break ties identically on both engines and min_by/max_by stay
    ordinary hash-aggregate functions -- the whole operator is ONE
    map-side-combinable aggregate over a (bucket, type) shuffle, no
    windows, no sort. Values compare as x1e6 scaled integers.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("bar_hour"),
        "event_type",
        F.format_string(
            "%020d|%010d", F.unix_micros("ts"), F.col("event_id")
        ).alias("ord"),
        F.round(F.col("value") * 1_000_000).cast("long").alias("v_x1m"),
    )
    return (
        e.groupBy("bar_hour", "event_type")
        .agg(
            F.min_by("v_x1m", "ord").alias("open_x1m"),
            F.max("v_x1m").alias("high_x1m"),
            F.min("v_x1m").alias("low_x1m"),
            F.max_by("v_x1m", "ord").alias("close_x1m"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("bar_hour", "event_type")
    )


_LIFT_MIN_SUPPORT = 3
_LIFT_TOP = 50


def pair_lift_sql(src: str, basket: str, item: str, min_support: int) -> str:
    """Oracle CTE ``pair``: the co-occurrence count ``n_pair`` of every
    ``item`` pair (``<item>_a`` < ``<item>_b``) sharing a ``basket`` in
    the distinct ``src`` rows, kept at ``min_support`` and above."""
    return f"""pair AS (
  SELECT a.{item} AS {item}_a, b.{item} AS {item}_b, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM {src} a JOIN {src} b ON a.{basket} = b.{basket} AND a.{item} < b.{item}
  GROUP BY 1, 2
  HAVING COUNT(*) >= {min_support}
)"""


_LIFT_ORACLE = f"""
WITH pl AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), tot AS (
  SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM pl
), item AS (
  SELECT pk, CAST(COUNT(*) AS BIGINT) AS n FROM pl GROUP BY pk
), {pair_lift_sql("pl", "ok", "pk", _LIFT_MIN_SUPPORT)}, scored AS (
  SELECT pk_a, pk_b, n_pair, ia.n AS n_a, ib.n AS n_b,
         CAST(ROUND(1000000.0 * n_pair * tot.n_orders /
                    (CAST(ia.n AS DOUBLE) * ib.n)) AS BIGINT) AS lift_x1m
  FROM pair
  JOIN item ia ON pk_a = ia.pk
  JOIN item ib ON pk_b = ib.pk
  CROSS JOIN tot
)
SELECT * FROM scored
ORDER BY lift_x1m DESC, pk_a, pk_b
LIMIT {_LIFT_TOP}
"""


def pair_lift(
    baskets: DataFrame,
    basket: str,
    item: str,
    freq: str,
    total: str,
    min_support: int,
    top: int,
) -> DataFrame:
    """The ``top`` item pairs by lift (P(a,b) / P(a)P(b)) over the
    distinct ``(basket, item)`` rows of ``baskets``, keeping pairs that
    share at least ``min_support`` baskets.

    Output ``(<item>_a, <item>_b, n_pair, <freq>_a, <freq>_b, lift_x1m)``
    with ``<item>_a`` < ``<item>_b``; ``freq`` names the per-item basket
    count and ``total`` the basket count.

    Scale shape: the pair explosion self-joins on the basket key, so
    fan-out per basket is basket_size^2 -- never |items|^2; pair counts
    aggregate with map-side combine; item frequencies broadcast back
    onto the support-filtered pair table (pair-scale, tiny); the final
    top-N is TakeOrderedAndProject (per-partition heaps, no global
    sort). Lift is exact-integer inputs with one double division+round,
    identical on both engines."""
    item_a, item_b = f"{item}_a", f"{item}_b"
    freq_a, freq_b = f"{freq}_a", f"{freq}_b"
    tot = baskets.agg(F.count_distinct(basket).alias(total))
    freqs = baskets.groupBy(item).agg(F.count(F.lit(1)).alias(freq))
    a, b = baskets.alias("a"), baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col(f"a.{basket}") == F.col(f"b.{basket}"))
            & (F.col(f"a.{item}") < F.col(f"b.{item}")),
        )
        .groupBy(F.col(f"a.{item}").alias(item_a), F.col(f"b.{item}").alias(item_b))
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_support)
    )
    fa = freqs.select(F.col(item).alias(item_a), F.col(freq).alias(freq_a))
    fb = freqs.select(F.col(item).alias(item_b), F.col(freq).alias(freq_b))
    scored = (
        pair.join(F.broadcast(fa), item_a)
        .join(F.broadcast(fb), item_b)
        .crossJoin(F.broadcast(tot))
        .select(
            item_a, item_b, "n_pair", freq_a, freq_b,
            F.round(
                F.lit(1_000_000.0) * F.col("n_pair") * F.col(total)
                / (F.col(freq_a).cast("double") * F.col(freq_b))
            ).cast("long").alias("lift_x1m"),
        )
    )
    return scored.orderBy(F.col("lift_x1m").desc(), item_a, item_b).limit(top)


@query("basket_pair_lift", oracle=_LIFT_ORACLE)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: top part pairs by lift over
    order baskets, with a minimum pair support of {_LIFT_MIN_SUPPORT} --
    the pairwise core of FP-growth-style analysis, expressed
    relationally (:func:`pair_lift`; baskets are small and bounded by
    schema, ~7 lines)."""
    pl = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    return pair_lift(pl, "ok", "pk", "n", "n_orders", _LIFT_MIN_SUPPORT, _LIFT_TOP)


_GAP_ORACLE = """
WITH seq AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), gaps AS (
  SELECT user_id,
         CAST(epoch_us(ts) - epoch_us(prev_ts) AS BIGINT) AS gap_us
  FROM seq WHERE prev_ts IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MAX(gap_us) // 1000000 AS BIGINT) AS max_gap_s,
       CASE WHEN MAX(gap_us) > CAST(604800 AS BIGINT) * 1000000
            THEN 'churn_risk'
            ELSE 'active' END AS status
FROM gaps
GROUP BY user_id
ORDER BY user_id
"""


def _user_gaps(e: DataFrame) -> DataFrame:
    """``(user_id, gap_us)``: the exact microseconds between each event
    and the user's previous one, ordered by ``(ts, event_id)``."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "user_id",
            (F.unix_micros("ts") - F.unix_micros("prev_ts")).alias("gap_us"),
        )
    )


@query("events_inactive_gap", oracle=_GAP_ORACLE)
def events_inactive_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user longest inactivity gap + churn-risk flag (gap > 7 days)
    -- the dormancy signal behind every re-engagement campaign. One lag
    window and one aggregate over the SAME user_id shuffle; gaps are
    exact epoch-microsecond integers."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    gaps = _user_gaps(e)
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.expr("max(gap_us) div 1000000").alias("max_gap_s"),
            F.when(
                F.max("gap_us") > 7 * 86400 * 1_000_000, "churn_risk"
            ).otherwise("active").alias("status"),
        )
        .orderBy("user_id")
    )


_RFM_ORACLE = """
WITH base AS (
  SELECT o_custkey,
         CAST(date_diff('day', MAX(o_orderdate),
                        (SELECT MAX(o_orderdate) FROM orders)) AS BIGINT)
           AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_x100
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT o_custkey,
         CAST(NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey)
              AS BIGINT) AS r_score,
         CAST(NTILE(5) OVER (ORDER BY frequency, o_custkey) AS BIGINT)
           AS f_score,
         CAST(NTILE(5) OVER (ORDER BY monetary_x100, o_custkey) AS BIGINT)
           AS m_score
  FROM base
)
SELECT r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(MIN(o_custkey) AS BIGINT) AS example_cust
FROM scored
GROUP BY 1, 2, 3
ORDER BY r_score, f_score, m_score
"""


def _bucketed_rank(
    df: DataFrame,
    key: str,
    width: int,
    asc: bool,
    out: str,
    tiebreak: str = "o_custkey",
    cum_of: str | None = None,
    cum_out: str = "_cum",
) -> DataFrame:
    """Global dense row_number by (key, tiebreak) WITHOUT a global
    window: fixed-width range buckets of the key, per-bucket local
    row_number, plus a broadcast cumulative-offset table over the tiny
    |buckets|-row count rollup (the pipeline_global_sequence shape,
    operators/pipeline.py). One hash shuffle; no task ever sees more
    than one bucket's rows. With ``cum_of``, additionally emits the
    global running SUM(cum_of) in the same order via the identical
    per-bucket-prefix + broadcast-bucket-offset algebra.

    The bucket prefix sums are a broadcast THETA self-join over the
    |buckets|-row table rather than an ORDER BY window: same result,
    but zero unpartitioned WindowExec nodes (so runs never emit the
    'No Partition Defined' warning the plan lint polices, and the
    O(|buckets|^2) join is over tens of rows)."""
    b = df.withColumn("_b", F.expr(f"{key} div {width}"))
    aggs = [F.count(F.lit(1)).alias("_n")]
    if cum_of is not None:
        aggs.append(F.sum(cum_of).alias("_s"))
    counts = b.groupBy("_b").agg(*aggs)
    prior_cols = [
        F.col("_b").alias("_pb"),
        F.col("_n").alias("_pn"),
    ] + ([F.col("_s").alias("_ps")] if cum_of is not None else [])
    prior = counts.select(*prior_cols)
    strictly_before = (
        F.col("_pb") < F.col("_b") if asc else F.col("_pb") > F.col("_b")
    )
    grp = ["_b", "_n"] + (["_s"] if cum_of is not None else [])
    off_aggs = [F.coalesce(F.sum("_pn"), F.lit(0)).alias("_off")]
    if cum_of is not None:
        off_aggs.append(F.coalesce(F.sum("_ps"), F.lit(0)).alias("_soff"))
    offsets = (
        counts.join(F.broadcast(prior), strictly_before, "left")
        .groupBy(*grp)
        .agg(*off_aggs)
        .drop("_n", "_s")
    )
    w_local = W.partitionBy("_b").orderBy(
        F.col(key).asc() if asc else F.col(key).desc(), tiebreak
    )
    ranked = b.withColumn("_rn", F.row_number().over(w_local))
    if cum_of is not None:
        ranked = ranked.withColumn(
            "_csum",
            F.sum(cum_of).over(
                w_local.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
    joined = ranked.join(F.broadcast(offsets), "_b").withColumn(
        out, F.col("_off") + F.col("_rn")
    )
    if cum_of is not None:
        joined = joined.withColumn(
            cum_out, F.col("_soff") + F.col("_csum")
        ).drop("_soff", "_csum")
    return joined.drop("_b", "_rn", "_off")


def _ntile_from_rank(rn: str, n: str, k: int):
    """NTILE(k) from a global 1-based rank and the total row count, in
    exact integer arithmetic: the first (n % k) buckets hold
    (n div k)+1 rows, the rest (n div k) -- identical to the SQL
    NTILE contract, but computable row-locally once rank is known."""
    q = F.expr(f"{n} div {k}")
    r = F.col(n) % k
    cut = r * (q + 1)
    lo = F.expr(f"({rn} + {n} div {k}) div ({n} div {k} + 1)")
    hi = r + F.expr(
        f"({rn} - ({n} % {k}) * ({n} div {k} + 1) + {n} div {k} - 1) "
        f"div ({n} div {k})"
    )
    return F.when(F.col(rn) <= cut, lo).otherwise(hi).cast("long")


@query("events_rfm_segments", oracle=_RFM_ORACLE)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quintile scores for recency (days
    since last order, inverted so recent = 5), frequency (order count)
    and monetary (lifetime spend), rolled up to segment sizes -- the
    classic CRM cube. Ties in every quintile are broken by custkey, so
    bucket assignment is deterministic on both engines; spend is exact
    x100 integers.

    Scale shape: one per-customer aggregate, then three DISTRIBUTED
    quintile assignments. There is NO global NTILE window: each metric
    gets a global rank via fixed-width range buckets + per-bucket
    row_number + a broadcast cumulative-offset table
    (_bucketed_rank, the pipeline_global_sequence pattern), and the
    quintile is then pure integer arithmetic on (rank, N)
    (_ntile_from_rank, the exact NTILE contract). Three hash shuffles
    over per-customer rollups; the only windows run over |buckets|-row
    count tables and within buckets -- survives a billion customers.
    The oracle states the contract as plain NTILEs; both formulations
    must agree row-for-row.
    """
    o = load_table(spark, sf_dir, "orders")
    max_date = o.agg(F.max("o_orderdate").alias("maxd"))
    base = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("monetary_x100"),
        )
        .crossJoin(F.broadcast(max_date))
        .select(
            "o_custkey",
            F.datediff("maxd", "last_order").cast("long").alias("recency_days"),
            "frequency",
            "monetary_x100",
        )
    )
    from ushas_spark.durability import materialize

    # The base rollup feeds three rank passes (each reading it twice:
    # bucket counts + the per-bucket window) plus the N aggregate --
    # materialize once so orders is scanned and aggregated exactly once.
    base = materialize(base)
    n_df = base.agg(F.count(F.lit(1)).alias("n_cust"))
    ranked = _bucketed_rank(base, "recency_days", 64, asc=False, out="r_rn")
    ranked = _bucketed_rank(ranked, "frequency", 4, asc=True, out="f_rn")
    ranked = _bucketed_rank(
        ranked, "monetary_x100", 10_000_000, asc=True, out="m_rn"
    )
    scored = ranked.crossJoin(F.broadcast(n_df)).select(
        "o_custkey",
        _ntile_from_rank("r_rn", "n_cust", 5).alias("r_score"),
        _ntile_from_rank("f_rn", "n_cust", 5).alias("f_score"),
        _ntile_from_rank("m_rn", "n_cust", 5).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("o_custkey").alias("example_cust"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


_YOY_ORACLE = """
WITH monthly AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS ym,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_x100
  FROM orders GROUP BY 1
)
SELECT m.ym, m.rev_x100,
       p.rev_x100 AS rev_prev_year_x100,
       m.rev_x100 - p.rev_x100 AS yoy_delta_x100
FROM monthly m
LEFT JOIN monthly p
  ON p.ym = strftime(CAST(m.ym || '-01' AS DATE) - INTERVAL 12 MONTH,
                     '%Y-%m')
ORDER BY m.ym
"""


def _monthly_revenue(o: DataFrame) -> DataFrame:
    """``(ym, rev_x100)``: exact x100 order revenue per ``yyyy-MM`` month."""
    return o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "ym"
        )
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_x100"
        )
    )


@query("window_yoy_revenue", oracle=_YOY_ORACLE)
def window_yoy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with year-over-year comparison: month rollup,
    then a calendar self-join on the month-minus-12 key (add_months),
    NOT a positional lag(12) -- a positional lag silently compares the
    wrong months whenever the series has a gap. Revenue is exact x100
    integer sums, so deltas gate bit-for-bit; the self-join runs over
    |months| rows (tiny, broadcast)."""
    monthly = _monthly_revenue(load_table(spark, sf_dir, "orders"))
    prev = monthly.select(
        F.col("ym").alias("p_ym"), F.col("rev_x100").alias("p_rev_x100")
    )
    prev_key = F.date_format(
        F.add_months(F.to_date(F.concat_ws("-", F.col("ym"), F.lit("01"))), -12),
        "yyyy-MM",
    )
    return (
        monthly.join(
            F.broadcast(prev), prev.p_ym == prev_key, "left"
        )
        .select(
            "ym",
            "rev_x100",
            F.col("p_rev_x100").alias("rev_prev_year_x100"),
            (F.col("rev_x100") - F.col("p_rev_x100")).alias("yoy_delta_x100"),
        )
        .orderBy("ym")
    )


_DELAY_ORACLE = """
WITH d AS (
  SELECT s.s_nationkey,
         CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
           AS delay_days
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
)
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(delay_days) AS BIGINT) AS total_delay_days,
       CAST(ROUND(100.0 * SUM(delay_days) / COUNT(*)) AS BIGINT)
         AS avg_delay_days_x100,
       CAST(MAX(delay_days) AS BIGINT) AS max_delay_days,
       CAST(SUM(CASE WHEN delay_days > 60 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late
FROM d JOIN nation n ON d.s_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
"""


@query("supply_shipping_delay_stats", oracle=_DELAY_ORACLE)
def supply_shipping_delay_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency per supplier nation (the OTIF-style
    supply-chain KPI): day deltas are exact integers, averages are one
    integer-ratio rounding, and >60-day lines count as late.

    Scale shape: lineitem joins orders on the orderkey both sides
    shuffle on anyway; supplier and nation broadcast; one
    map-side-combinable rollup to 25 rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    d = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.datediff("l_shipdate", "o_orderdate").cast("long").alias(
                "delay_days"
            ),
        )
    )
    return (
        d.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("delay_days").alias("total_delay_days"),
            F.round(
                F.lit(100.0) * F.sum("delay_days") / F.count(F.lit(1))
            ).cast("long").alias("avg_delay_days_x100"),
            F.max("delay_days").alias("max_delay_days"),
            F.sum(F.when(F.col("delay_days") > 60, 1).otherwise(0))
            .cast("long").alias("n_late"),
        )
        .orderBy("n_name")
    )


_LTV_ORACLE = """
WITH firsts AS (
  SELECT o_custkey,
         strftime(date_trunc('month', MIN(o_orderdate)), '%Y-%m')
           AS cohort_month
  FROM orders GROUP BY o_custkey
), rev AS (
  SELECT f.cohort_month,
         CAST(date_diff('month',
                        date_trunc('month', CAST(f.cohort_month || '-01'
                                                 AS DATE)),
                        date_trunc('month', o.o_orderdate)) AS BIGINT)
           AS age_months,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_x100
  FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
  GROUP BY 1, 2
)
SELECT cohort_month, age_months, rev_x100,
       CAST(SUM(rev_x100) OVER (PARTITION BY cohort_month ORDER BY age_months
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_rev_x100
FROM rev
ORDER BY cohort_month, age_months
"""


@query("events_cohort_ltv", oracle=_LTV_ORACLE)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: customers bucketed by first-order month,
    revenue rolled up by (cohort, age-in-months), then a running
    cumulative per cohort -- the lifetime-value curve marketing reads
    off the diagonal. Revenue is exact x100 integers end to end (the
    cumulative is an integer window sum, not a float fold).

    Scale shape: the cohort assignment is one per-customer aggregate
    joined back (at 100 TB customers << orders, and the join shuffles
    on the same o_custkey the rollup uses); the window runs over the
    |cohorts| x |ages| triangle -- tiny."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    firsts = o.groupBy("o_custkey").agg(
        F.date_format(
            F.date_trunc("month", F.min("o_orderdate")), "yyyy-MM"
        ).alias("cohort_month")
    )
    rev = (
        o.join(firsts, "o_custkey")
        .groupBy(
            "cohort_month",
            (
                F.months_between(
                    F.date_trunc("month", F.col("o_orderdate")),
                    F.date_trunc(
                        "month",
                        F.to_date(F.concat(F.col("cohort_month"), F.lit("-01"))),
                    ),
                )
            ).cast("long").alias("age_months"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("rev_x100")
        )
    )
    w = (
        W.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return rev.select(
        "cohort_month",
        "age_months",
        "rev_x100",
        F.sum("rev_x100").over(w).alias("cum_rev_x100"),
    ).orderBy("cohort_month", "age_months")


_FEATURES_ORACLE = """
SELECT user_id,
       to_json([
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT),
         CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT),
         CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT)
       ]) AS features
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@query("events_feature_vectors", oracle=_FEATURES_ORACLE)
def events_feature_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store assembly: one fixed-layout numeric vector per user
    (per-type event counts, exact x1e6 value sum, distinct active days)
    -- the materialization step before ML training joins features to
    labels. The vector crosses the gate as to_json (the canonicalizer
    contract for complex types); positions are documented by the
    SELECT order.

    Scale shape: ONE aggregate over the user_id shuffle -- conditional
    sums are map-side combinable, and the distinct-days term is the
    only expansion (two-phase distinct). No pivot, no per-feature
    passes."""
    e = load_table(spark, sf_dir, "events")
    counts = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).cast("long")
        for t in ["view", "click", "purchase", "signup", "error"]
    ]
    return (
        e.groupBy("user_id")
        .agg(
            F.to_json(
                F.array(
                    *counts,
                    F.sum(
                        F.round(F.col("value") * 1_000_000).cast("long")
                    ),
                    F.count_distinct(F.date_trunc("day", "ts")),
                )
            ).alias("features")
        )
        .orderBy("user_id")
    )


_BACKLOG_ORACLE = """
WITH spans AS (
  SELECT o.o_orderkey, o.o_orderdate AS d0, MAX(l.l_shipdate) AS d1
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
), deltas AS (
  SELECT d0 AS day, 1 AS delta FROM spans
  UNION ALL
  SELECT d1 + INTERVAL 1 DAY, -1 FROM spans
), daily AS (
  SELECT CAST(day AS DATE) AS day, CAST(SUM(delta) AS BIGINT) AS delta
  FROM deltas GROUP BY 1
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(SUM(delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS open_orders
FROM daily
ORDER BY day
"""


@query("orders_open_backlog_daily", oracle=_BACKLOG_ORACLE)
def orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counting by sweep line: how many orders are
    open (order date .. last line shipped) on each day. The naive form
    joins every order against every day it spans (|orders| x avg-span
    row explosion); the sweep-line form emits just TWO deltas per order
    (+1 at start, -1 after end), aggregates them per day (map-side
    combinable), and a running sum over the tiny |days| table yields
    the concurrency curve. The standard trick for "active sessions /
    open tickets / concurrent calls over time" at any scale.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    spans = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("d1"))
    )
    deltas = spans.select(
        F.col("o_orderdate").alias("day"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select(
            F.date_add("d1", 1).alias("day"), F.lit(-1).alias("delta")
        )
    )
    daily = deltas.groupBy("day").agg(F.sum("delta").alias("delta"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.sum("delta").over(w).cast("long").alias("open_orders"),
    ).orderBy("day")


_BOUNCE_ORACLE = """
WITH seq AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sess AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM seq
), sizes AS (
  SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sess GROUP BY user_id, sid
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounce,
       CAST(ROUND(1000000.0 * SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                  / COUNT(*)) AS BIGINT) AS bounce_x1m,
       CAST(MAX(n_events) AS BIGINT) AS max_session_events
FROM sizes
"""


@query("events_bounce_rate", oracle=_BOUNCE_ORACLE)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate over 30-minute-gap sessions: the fraction of
    sessions containing exactly one event -- the canonical engagement
    KPI, composed from the batch gap-sessionization shape (lag ->
    boundary flag -> running session id) plus a session-size rollup.
    Both windows and the rollup share the single user_id shuffle;
    the final report is a scalar aggregate.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w_lag = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w_lag))
    sess = e.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w_lag).isNull() | (gap_us > 1_800_000_000), 1
        ).otherwise(0),
    ).withColumn("sid", F.sum("new_session").over(w_run))
    sizes = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        bounce.cast("long").alias("n_bounce"),
        F.round(F.lit(1_000_000.0) * bounce / F.count(F.lit(1)))
        .cast("long").alias("bounce_x1m"),
        F.max("n_events").alias("max_session_events"),
    )


_PARETO_ORACLE = """
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
), ranked AS (
  SELECT n,
         ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rnk,
         COUNT(*) OVER () AS n_users,
         SUM(n) OVER () AS total
  FROM per_user
), cum AS (
  SELECT rnk, n_users, total,
         SUM(n) OVER (ORDER BY rnk ROWS UNBOUNDED PRECEDING) AS cum_events,
         ((rnk * 10 - 1) // n_users) AS decile
  FROM ranked
)
SELECT CAST(decile + 1 AS BIGINT) AS decile,
       CAST(MAX(rnk) AS BIGINT) AS n_users_cum,
       CAST(MAX(cum_events) AS BIGINT) AS cum_events,
       CAST(ROUND(1000000.0 * MAX(cum_events) / MAX(total)) AS BIGINT)
         AS cum_share_x1m
FROM cum
GROUP BY decile
ORDER BY decile
"""


@query("events_pareto_concentration", oracle=_PARETO_ORACLE)
def events_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / Lorenz concentration: what share of all events comes
    from the most active 10%, 20%, ... of users -- the 80/20 readout
    behind capacity planning and whale analysis (and the cumulative
    companion of profile_gini_impurity's point statistic).

    Scale shape: NO global window anywhere. The per-user rollup
    (|users| rows, one shuffle) is ranked by activity via
    _bucketed_rank -- fixed-width range buckets + per-bucket
    row_number/prefix-sum + a broadcast |buckets|-row offset table --
    which also yields the global cumulative event count in the same
    pass; n_users/total come from a broadcast 1-row aggregate. Decile
    assignment is pure integer arithmetic so both engines bucket
    identically; output is 10 rows. Survives a billion users where the
    old global row_number + running-sum window would funnel every
    per-user row through one task.
    """
    from ushas_spark.durability import materialize

    e = load_table(spark, sf_dir, "events")
    per_user = materialize(
        e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    )
    totals = per_user.agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("n").alias("total")
    )
    ranked = _bucketed_rank(
        per_user,
        key="n",
        width=8,
        asc=False,
        out="rnk",
        tiebreak="user_id",
        cum_of="n",
        cum_out="cum_events",
    )
    cum = ranked.crossJoin(F.broadcast(totals)).select(
        "rnk",
        "n_users",
        "total",
        "cum_events",
        F.expr("(rnk * 10 - 1) div n_users").alias("decile"),
    )
    return (
        cum.groupBy((F.col("decile") + 1).cast("long").alias("decile"))
        .agg(
            F.max("rnk").cast("long").alias("n_users_cum"),
            F.max("cum_events").cast("long").alias("cum_events"),
            F.round(
                F.lit(1_000_000.0) * F.max("cum_events") / F.max("total")
            ).cast("long").alias("cum_share_x1m"),
        )
        .orderBy("decile")
    )


_TTC_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id
), p AS (
  SELECT v.user_id, v.t_view,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > v.t_view
                  THEN e.ts END) AS t_purchase
  FROM v JOIN events e USING (user_id)
  WHERE v.t_view IS NOT NULL
  GROUP BY 1, 2
), durs AS (
  SELECT CAST(epoch_us(t_purchase) - epoch_us(t_view) AS BIGINT) AS d_us
  FROM p WHERE t_purchase IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       CAST(MIN(d_us) // 1000000 AS BIGINT) AS min_s,
       CAST(ROUND(quantile_cont(CAST(d_us AS DOUBLE), 0.5) / 1000000)
            AS BIGINT) AS median_s,
       CAST(MAX(d_us) // 1000000 AS BIGINT) AS max_s
FROM durs
"""


@query("events_time_to_convert", oracle=_TTC_ORACLE)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency: time from a user's first view to their first
    subsequent purchase (min/median/max) -- the funnel's companion
    metric. Durations are exact epoch-microsecond integers; the median
    interpolates at worst to a .5 midpoint of two integers, which both
    engines represent exactly.

    Scale shape: two window-mins over the same user_id partition (one
    shuffle, like the funnel), then a scalar aggregate over the
    converted-user rows."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = W.partitionBy("user_id")
    staged = e.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    ).withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = (
        staged.filter(F.col("t_view").isNotNull())
        .groupBy("user_id")
        .agg(
            F.first("t_view").alias("t_view"),
            F.first("t_purchase").alias("t_purchase"),
        )
        .filter(F.col("t_purchase").isNotNull())
    )
    durs = per_user.select(
        (F.unix_micros("t_purchase") - F.unix_micros("t_view")).alias("d_us")
    )
    return durs.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("min(d_us) div 1000000").alias("min_s"),
        F.round(
            F.percentile(F.col("d_us").cast("double"), F.lit(0.5))
            / 1_000_000
        ).cast("long").alias("median_s"),
        F.expr("max(d_us) div 1000000").alias("max_s"),
    )


_HEATMAP_ORACLE = """
SELECT CAST(isodow(ts) AS BIGINT) AS iso_dow,
       CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
         AS value_x1m
FROM events
GROUP BY 1, 2
ORDER BY iso_dow, hour
"""


@query("events_weekday_hour_heatmap", oracle=_HEATMAP_ORACLE)
def events_weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap by (ISO weekday, hour) -- the 7x24 usage matrix
    every ops dashboard opens with. ISO day-of-week (1=Monday) is the
    one cross-engine-stable day convention (Spark's dayofweek() is
    1=Sunday, DuckDB's dayofweek() is 0=Sunday; EXTRACT DAYOFWEEK_ISO /
    isodow agree). One map-side-combinable rollup to 168 cells."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.expr("extract(DAYOFWEEK_ISO FROM ts)").cast("long").alias(
                "iso_dow"
            ),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.round(F.col("value") * 1_000_000).cast("long")
            ).alias("value_x1m"),
        )
        .orderBy("iso_dow", "hour")
    )


_STREAK_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id,
         CAST(epoch(date_trunc('day', ts)) // 86400 AS BIGINT) AS day_num
  FROM events
), grp AS (
  SELECT user_id, day_num,
         day_num - ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY day_num) AS island
  FROM days
), streaks AS (
  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len,
         CAST(MIN(day_num) AS BIGINT) AS start_day
  FROM grp GROUP BY user_id, island
)
SELECT user_id,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       arg_min(start_day, printf('%010d|%010d', 100000 - len, start_day))
         AS streak_start_day,
       CAST(COUNT(*) AS BIGINT) AS n_streaks
FROM streaks
GROUP BY user_id
ORDER BY user_id
"""


@query("events_longest_streak", oracle=_STREAK_ORACLE)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user -- the classic
    gaps-and-islands pattern: distinct activity days, then
    day_number minus row_number is constant exactly within a
    consecutive run, so a groupBy on that difference materializes the
    islands. Ties on equal-length streaks resolve to the earliest
    start via a fixed-width (inverted length, start) encoding.

    Scale shape: everything shuffles on user_id once (distinct,
    row_number, and both rollups share the key); day numbers are exact
    epoch-day integers."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(
        "user_id",
        F.expr("unix_timestamp(date_trunc('day', ts)) div 86400").alias(
            "day_num"
        ),
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day_num")
    grp = days.withColumn(
        "island", F.col("day_num") - F.row_number().over(w)
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("day_num").alias("start_day"),
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("len").alias("longest_streak"),
            F.min_by(
                "start_day",
                F.format_string(
                    "%010d|%010d",
                    F.lit(100_000) - F.col("len"),
                    F.col("start_day"),
                ),
            ).alias("streak_start_day"),
            F.count(F.lit(1)).alias("n_streaks"),
        )
        .orderBy("user_id")
    )


_STICKY_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id,
         date_trunc('week', ts) AS week,
         date_trunc('day', ts) AS day
  FROM events
), dau AS (
  SELECT week, day, CAST(COUNT(*) AS BIGINT) AS dau
  FROM ud GROUP BY week, day
), weekly AS (
  SELECT week,
         CAST(SUM(dau) AS BIGINT) AS user_days,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM dau GROUP BY week
), wau AS (
  SELECT week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau FROM ud
  GROUP BY week
)
SELECT strftime(w.week, '%Y-%m-%d') AS week,
       wau.wau,
       w.user_days, w.n_days,
       CAST(ROUND(1000000.0 * w.user_days / (w.n_days * wau.wau)) AS BIGINT)
         AS stickiness_x1m
FROM weekly w JOIN wau ON w.week = wau.week
ORDER BY week
"""


@query("events_dau_wau_stickiness", oracle=_STICKY_ORACLE)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per calendar week: average daily actives over
    weekly actives -- the engagement ratio product teams track. Both
    numerator (user-day count) and denominator (weekly distinct users)
    come from ONE (user, week, day) distinct table, so the fact scans
    once; ratios are exact-integer inputs with one rounded division."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.date_trunc("week", "ts").alias("week"),
        F.date_trunc("day", "ts").alias("day"),
    ).distinct()
    dau = ud.groupBy("week", "day").agg(F.count(F.lit(1)).alias("dau"))
    weekly = dau.groupBy("week").agg(
        F.sum("dau").alias("user_days"), F.count(F.lit(1)).alias("n_days")
    )
    wau = ud.groupBy("week").agg(F.count_distinct("user_id").alias("wau"))
    return (
        weekly.join(wau, "week")
        .select(
            F.date_format("week", "yyyy-MM-dd").alias("week"),
            "wau",
            "user_days",
            "n_days",
            F.round(
                F.lit(1_000_000.0) * F.col("user_days")
                / (F.col("n_days") * F.col("wau"))
            ).cast("long").alias("stickiness_x1m"),
        )
        .orderBy("week")
    )


_COHORT_FUNNEL_ORACLE = """
WITH c AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
), v AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id
), k AS (
  SELECT v.user_id, v.t_view,
         MIN(CASE WHEN e.event_type = 'click' AND e.ts > v.t_view
                  THEN e.ts END) AS t_click
  FROM v JOIN events e USING (user_id)
  GROUP BY 1, 2
), p AS (
  SELECT k.user_id, k.t_view, k.t_click,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > k.t_click
                  THEN e.ts END) AS t_purchase
  FROM k JOIN events e USING (user_id)
  GROUP BY 1, 2, 3
)
SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(p.t_view) AS BIGINT) AS n_view,
       CAST(COUNT(p.t_click) AS BIGINT) AS n_view_click,
       CAST(COUNT(p.t_purchase) AS BIGINT) AS n_view_click_purchase
FROM p JOIN c USING (user_id)
GROUP BY 1
ORDER BY cohort_week
"""


@query("events_funnel_by_cohort", oracle=_COHORT_FUNNEL_ORACLE)
def events_funnel_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered funnel broken down by signup cohort (first-seen
    week): did a product change move conversion for NEW users --
    the question the flat funnel can't answer. Cohort assignment and
    all three stage windows ride the same user_id partition, so the
    whole matrix still costs one fact shuffle plus a |cohorts|-row
    rollup."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = W.partitionBy("user_id")
    staged = _funnel_stages(
        e.withColumn("cohort_week", F.date_trunc("week", F.min("ts").over(w))), w
    )
    per_user = staged.groupBy("user_id").agg(
        F.first("cohort_week").alias("cohort_week"),
        F.first("t_view").alias("t_view"),
        F.first("t_click").alias("t_click"),
        F.first("t_purchase").alias("t_purchase"),
    )
    return (
        per_user.groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count("t_view").alias("n_view"),
            F.count("t_click").alias("n_view_click"),
            F.count("t_purchase").alias("n_view_click_purchase"),
        )
        .orderBy("cohort_week")
    )


# ------------------------------------------------ Holt linear forecast
_HOLT_FOLD_SQL = (
    "(acc, x) -> ["
    " CAST(floor((20 * x[1] + 80 * (acc[1] + acc[2])) / 100.0) AS BIGINT),"
    " CAST(floor((10 * (CAST(floor((20 * x[1] + 80 * (acc[1] + acc[2]))"
    " / 100.0) AS BIGINT) - acc[1]) + 90 * acc[2]) / 100.0) AS BIGINT)]"
)

_HOLT_ORACLE = f"""
WITH monthly AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS ym,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_x100
  FROM orders GROUP BY 1
), arr AS (
  SELECT max(ym) AS last_ym,
         list_transform(list_sort(list(ym || '|' || lpad(CAST(rev_x100 AS VARCHAR), 18, '0'))),
                        s -> CAST(split_part(s, '|', 2) AS BIGINT)) AS ys
  FROM monthly
), fold AS (
  SELECT last_ym,
         list_reduce(
           list_prepend([ys[1], ys[2] - ys[1]],
                        list_transform(ys[3:], y -> [y, CAST(0 AS BIGINT)])),
           {_HOLT_FOLD_SQL}) AS lt
  FROM arr
)
SELECT last_ym,
       lt[1] AS level_x100,
       lt[2] AS trend_x100,
       lt[1] + 1 * lt[2] AS forecast_1_x100,
       lt[1] + 2 * lt[2] AS forecast_2_x100,
       lt[1] + 3 * lt[2] AS forecast_3_x100
FROM fold
"""


@query("events_forecast_holt", oracle=_HOLT_ORACLE)
def events_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend) over the
    monthly revenue series, with a 3-month-ahead linear forecast --
    the first-line timeseries forecaster. Smoothing (alpha=0.2,
    beta=0.1) runs in EXACT integer arithmetic: x100 revenue, updates
    floor-divided identically on both engines (floor(x/100.0) -- a
    truncating integer div would disagree with DuckDB's floor-div on
    negative trends), so level/trend/forecasts gate bit-for-bit; the
    oracle replays the identical fold via list_reduce.

    Scale shape: one fact rollup to |months| rows, then a driver-free
    fold over the tiny sorted array inside a single-row aggregate --
    no global window, no collect; the fact table is touched once.
    """
    monthly = _monthly_revenue(load_table(spark, sf_dir, "orders"))
    arr = monthly.agg(
        F.max("ym").alias("last_ym"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("ym"), F.col("rev_x100")))
            ),
            lambda s: s["rev_x100"],
        ).alias("ys"),
    )
    ys = F.col("ys")
    init = F.array(
        F.element_at(ys, 1),
        F.element_at(ys, 2) - F.element_at(ys, 1),
    )
    rest = F.slice(ys, 3, F.greatest(F.size(ys) - 2, F.lit(0)))

    def step(acc, y):
        lvl = F.floor(
            (20 * y + 80 * (F.element_at(acc, 1) + F.element_at(acc, 2)))
            / 100.0
        ).cast("long")
        trend = F.floor(
            (
                10 * (lvl - F.element_at(acc, 1))
                + 90 * F.element_at(acc, 2)
            )
            / 100.0
        ).cast("long")
        return F.array(lvl, trend)

    folded = arr.select(
        "last_ym", F.aggregate(rest, init, step).alias("lt")
    )
    lvl = F.element_at(F.col("lt"), 1)
    trd = F.element_at(F.col("lt"), 2)
    return folded.select(
        "last_ym",
        lvl.alias("level_x100"),
        trd.alias("trend_x100"),
        (lvl + 1 * trd).alias("forecast_1_x100"),
        (lvl + 2 * trd).alias("forecast_2_x100"),
        (lvl + 3 * trd).alias("forecast_3_x100"),
    )


# ------------------------------------------------ CUSUM changepoint
_CUSUM_STEP_SQL = (
    "(acc, x) -> ["
    " acc[1] + 1,"
    " acc[2] + (x[1] * n - total),"
    " CASE WHEN abs(acc[2] + (x[1] * n - total)) > acc[4]"
    "      THEN acc[1] + 1 ELSE acc[3] END,"
    " CASE WHEN abs(acc[2] + (x[1] * n - total)) > acc[4]"
    "      THEN abs(acc[2] + (x[1] * n - total)) ELSE acc[4] END,"
    " CASE WHEN abs(acc[2] + (x[1] * n - total)) > acc[4]"
    "      THEN CASE WHEN acc[2] + (x[1] * n - total) >= 0"
    "                THEN 1 ELSE -1 END"
    "      ELSE acc[5] END]"
)

_CUSUM_ORACLE = f"""
WITH monthly AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS ym,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_x100
  FROM orders GROUP BY 1
), arr AS (
  SELECT list_transform(list_sort(list(ym || '|'
                 || lpad(CAST(rev_x100 AS VARCHAR), 18, '0'))),
                 s -> split_part(s, '|', 1)) AS yms,
         list_transform(list_sort(list(ym || '|'
                 || lpad(CAST(rev_x100 AS VARCHAR), 18, '0'))),
                 s -> CAST(split_part(s, '|', 2) AS BIGINT)) AS ys
  FROM monthly
), stats AS (
  SELECT yms, ys, CAST(len(ys) AS BIGINT) AS n,
         CAST(list_sum(ys) AS BIGINT) AS total
  FROM arr
), fold AS (
  SELECT yms, n,
         list_reduce(
           list_prepend([CAST(0 AS BIGINT), 0, 0, -1, 0],
                        list_transform(ys, y -> [y, CAST(0 AS BIGINT),
                                                 0, 0, 0])),
           {_CUSUM_STEP_SQL}) AS st
  FROM stats
)
SELECT n AS n_months,
       st[3] AS cp_index,
       yms[CAST(st[3] AS INT)] AS cp_month,
       st[4] AS max_abs_cusum_xn,
       st[5] AS direction
FROM fold
"""


@query("events_changepoint_cusum", oracle=_CUSUM_ORACLE)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the monthly revenue series: the
    month where the cumulative deviation from the series mean peaks in
    magnitude -- the standard first answer to "when did the level
    shift?". All arithmetic is EXACT integers: deviations are scaled
    by n (y*n - total) so the mean never becomes a fraction, and the
    argmax fold carries (index, cusum, best_index, best_abs, sign)
    through one deterministic pass, replayed identically by DuckDB's
    list_reduce.

    Scale shape: one fact rollup to |months| rows, then a single-row
    aggregate folding the tiny sorted array -- no global window, no
    collect, fact touched once (same scale story as
    events_forecast_holt)."""
    monthly = _monthly_revenue(load_table(spark, sf_dir, "orders"))
    arr = monthly.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("ym"), F.col("rev_x100")))
        ).alias("pairs")
    ).select(
        F.transform(F.col("pairs"), lambda s: s["ym"]).alias("yms"),
        F.transform(F.col("pairs"), lambda s: s["rev_x100"]).alias("ys"),
    )
    stats = arr.select(
        "yms",
        "ys",
        F.size("ys").cast("long").alias("n"),
        F.aggregate(
            "ys", F.lit(0).cast("long"), lambda a, y: a + y
        ).alias("total"),
    )

    def step(acc, x):
        i = F.element_at(acc, 1) + 1
        c = F.element_at(acc, 2) + (
            x * F.col("n") - F.col("total")
        )
        better = F.abs(c) > F.element_at(acc, 4)
        return F.array(
            i,
            c,
            F.when(better, i).otherwise(F.element_at(acc, 3)),
            F.when(better, F.abs(c)).otherwise(F.element_at(acc, 4)),
            F.when(
                better, F.when(c >= 0, F.lit(1)).otherwise(F.lit(-1))
            ).otherwise(F.element_at(acc, 5)).cast("long"),
        )

    init = F.array(
        F.lit(0).cast("long"),
        F.lit(0).cast("long"),
        F.lit(0).cast("long"),
        F.lit(-1).cast("long"),
        F.lit(0).cast("long"),
    )
    folded = stats.select(
        "yms", "n", F.aggregate("ys", init, step).alias("st")
    )
    return folded.select(
        F.col("n").alias("n_months"),
        F.element_at("st", 3).alias("cp_index"),
        F.element_at(
            F.col("yms"), F.element_at("st", 3).cast("int")
        ).alias("cp_month"),
        F.element_at("st", 4).alias("max_abs_cusum_xn"),
        F.element_at("st", 5).alias("direction"),
    )


# ------------------------------------------------ seasonal indices
_SEASONAL_ORACLE = """
WITH monthly AS (
  SELECT EXTRACT(YEAR FROM o_orderdate) AS y,
         EXTRACT(MONTH FROM o_orderdate) AS m,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_x100
  FROM orders GROUP BY 1, 2
), per_month AS (
  SELECT m,
         CAST(COUNT(*) AS BIGINT) AS n_years,
         CAST(SUM(rev_x100) // COUNT(*) AS BIGINT) AS avg_rev_x100
  FROM monthly GROUP BY m
), overall AS (
  SELECT CAST(SUM(rev_x100) // COUNT(*) AS BIGINT) AS g FROM monthly
)
SELECT CAST(p.m AS BIGINT) AS month, p.n_years, p.avg_rev_x100,
       CAST(1000000 * p.avg_rev_x100 // o.g AS BIGINT) AS seasonal_index_x1m
FROM per_month p CROSS JOIN overall o
ORDER BY month
"""


@query("events_seasonal_index", oracle=_SEASONAL_ORACLE)
def events_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonal indices: each calendar month's average
    monthly revenue relative to the overall monthly average (x1m) --
    the multiplicative-decomposition seasonal factor, and the
    companion input to events_forecast_holt (deseasonalise, smooth,
    reseasonalise). Integer-div averages keep both engines exact.

    Scale shape: one fact rollup to (year, month), a 12-row re-rollup,
    and a broadcast 1-row overall average. Fact touched once."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_x100"
        )
    )
    per_month = monthly.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_years"),
        F.expr("sum(rev_x100) div count(1)").alias("avg_rev_x100"),
    )
    overall = monthly.agg(
        F.expr("sum(rev_x100) div count(1)").alias("g")
    )
    return (
        per_month.crossJoin(F.broadcast(overall))
        .select(
            F.col("m").cast("long").alias("month"),
            "n_years",
            "avg_rev_x100",
            F.expr("1000000 * avg_rev_x100 div g").alias(
                "seasonal_index_x1m"
            ),
        )
        .orderBy("month")
    )


# ------------------------------------------------ Gini coefficient
_GINI_ORACLE = """
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
), ranked AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n, user_id) AS rnk
  FROM per_user
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(n) AS BIGINT) AS total,
         CAST(SUM(rnk * n) AS BIGINT) AS weighted
  FROM ranked
)
SELECT n_users, total,
       CAST((2000000 * weighted) // (n_users * total)
            - (1000000 * (n_users + 1)) // n_users AS BIGINT) AS gini_x1m
FROM agg
"""


@query("events_gini_coefficient", oracle=_GINI_ORACLE)
def events_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of per-user activity -- the single-number
    inequality companion to events_pareto_concentration's curve, via
    the rank formula G = 2*sum(i*y_i)/(n*sum(y)) - (n+1)/n over
    ascending ranks. The global rank comes from the DISTRIBUTED
    bucketed-rank machinery (_bucketed_rank) -- no single-partition
    window -- and the formula is evaluated in pure integer arithmetic
    (x1m, floor-div in the same order on both engines).

    Scale shape: per-user rollup (one shuffle), bucketed rank (one
    more), then a 1-row aggregate. Survives a billion users."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    ranked = _bucketed_rank(
        per_user, key="n", width=8, asc=True, out="rnk", tiebreak="user_id"
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n").alias("total"),
        F.sum(F.col("rnk") * F.col("n")).alias("weighted"),
    )
    return agg.select(
        "n_users",
        "total",
        (
            F.expr("(2000000 * weighted) div (n_users * total)")
            - F.expr("(1000000 * (n_users + 1)) div n_users")
        ).cast("long").alias("gini_x1m"),
    )


# ------------------------------------------------ Benford's-law audit
# Expected first-digit frequencies log10(1 + 1/d), scaled x1m and
# hard-coded as integers so both engines compare against identical
# constants (no cross-engine log10 evaluation).
_BENFORD_X1M = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910,
    5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757,
}
_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {v}" for d, v in _BENFORD_X1M.items()
)

_BENFORD_ORACLE = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS d
  FROM orders
  WHERE o_totalprice > 0
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM digits)
SELECT d AS first_digit,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(1000000 * COUNT(*) // MAX(t.n) AS BIGINT) AS observed_x1m,
       CAST(CASE d {_BENFORD_CASE} END AS BIGINT) AS benford_x1m,
       CAST(1000000 * COUNT(*) // MAX(t.n)
            - CASE d {_BENFORD_CASE} END AS BIGINT) AS deviation_x1m
FROM digits CROSS JOIN tot t
GROUP BY d
ORDER BY d
"""


@query("agg_benford_first_digit", oracle=_BENFORD_ORACLE)
def agg_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order amounts -- the
    data-quality / fraud screen: observed first-digit frequencies next
    to the log10(1+1/d) expectation (hard-coded x1m integers, so no
    cross-engine transcendental evaluation) and the signed deviation.
    First digits come from the exact x100 integer amounts' decimal
    rendering, identical on both engines.

    Scale shape: one scan, map-side digit extraction, 9-row rollup
    with a broadcast 1-row total."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("d")
    )
    tot = digits.agg(F.count(F.lit(1)).alias("n"))
    expected = F.expr(f"CASE d {_BENFORD_CASE} END").cast("long")
    return (
        digits.crossJoin(F.broadcast(tot))
        .groupBy("d", "n")
        .agg(F.count(F.lit(1)).alias("n_values"))
        .select(
            F.col("d").alias("first_digit"),
            "n_values",
            F.expr("1000000 * n_values div n").alias("observed_x1m"),
            expected.alias("benford_x1m"),
            (F.expr("1000000 * n_values div n") - expected).alias(
                "deviation_x1m"
            ),
        )
        .orderBy("first_digit")
    )


# ------------------------------------------------ similar user paths
PATHS_N_PROBES = 5
PATHS_TOP_K = 5

_SIMILAR_PATHS_ORACLE = f"""
WITH seq AS (
  SELECT user_id,
         list_transform(
           list_sort(list(lpad(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR), 20, '0')
                          || '|' || lpad(CAST(event_id AS VARCHAR), 12, '0')
                          || '|' || event_type)),
           s -> split_part(s, '|', 3)) AS types
  FROM events GROUP BY user_id
), grams AS (
  SELECT user_id,
         list_distinct(CASE WHEN len(types) >= 2 THEN
           [types[i] || '>' || types[i+1]
            FOR i IN generate_series(1, len(types) - 1)]
           ELSE [] END) AS g
  FROM seq
), probe AS (
  SELECT user_id AS probe_user, g AS pg FROM grams
  WHERE user_id < {PATHS_N_PROBES}
), scored AS (
  SELECT p.probe_user, c.user_id AS cand_user,
         CAST(ROUND(1000.0 * len(list_intersect(p.pg, c.g))
              / (len(p.pg) + len(c.g) - len(list_intersect(p.pg, c.g))))
           AS BIGINT) AS jac_x1000
  FROM probe p JOIN grams c ON c.user_id <> p.probe_user
  WHERE len(p.pg) + len(c.g) > 0
    AND len(list_intersect(p.pg, c.g)) > 0
)
SELECT probe_user, cand_user, jac_x1000, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_user
                               ORDER BY jac_x1000 DESC, cand_user) AS rnk
  FROM scored)
WHERE rnk <= {PATHS_TOP_K}
ORDER BY probe_user, rnk
"""


@query("events_similar_paths", oracle=_SIMILAR_PATHS_ORACLE)
def events_similar_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral TRAJECTORY similarity: for each probe user, the
    {PATHS_TOP_K} users with the most similar clickstream -- paths
    reduced to transition-bigram sets ('view>cart'), compared by exact
    Jaccard (x1000 integers), ranked per probe. The sequence-retrieval
    companion to the vector tier (sim_*): same broadcast-probe shape,
    set overlap instead of cosine.

    Scale shape: one shuffle builds per-user ordered sequences
    (sort_array over collect_list -- no per-user window pass), bigram
    sets stay as arrays (array_intersect in codegen, no explode
    shuffle), the {PATHS_N_PROBES}-row probe side broadcasts, and
    ranking partitions by probe. With a LOW-cardinality event alphabet
    an inverted bigram index cannot prune (every user shares common
    transitions) -- the honest plan IS the broadcast linear scan; for
    rich alphabets (URLs, SKUs) swap in the DF-capped inverted-index
    candidate generation of dedup_ngram_jaccard unchanged."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    seq = e.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ).alias("types")
    )
    n = F.size("types")
    grams = seq.select(
        "user_id",
        F.when(
            n >= 2,
            F.array_distinct(
                F.zip_with(
                    F.slice("types", 1, n - 1),
                    F.slice("types", 2, n - 1),
                    lambda a, b: F.concat_ws(">", a, b),
                )
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("g"),
    )
    probe = grams.filter(F.col("user_id") < PATHS_N_PROBES).select(
        F.col("user_id").alias("probe_user"), F.col("g").alias("pg")
    )
    inter = F.size(F.array_intersect("pg", "g"))
    union = F.size("pg") + F.size("g") - inter
    scored = (
        grams.crossJoin(F.broadcast(probe))
        .filter(
            (F.col("user_id") != F.col("probe_user"))
            & (union > 0)
            & (inter > 0)
        )
        .select(
            "probe_user",
            F.col("user_id").alias("cand_user"),
            F.round(F.lit(1000.0) * inter / union).cast("long").alias(
                "jac_x1000"
            ),
        )
    )
    w = W.partitionBy("probe_user").orderBy(
        F.col("jac_x1000").desc(), "cand_user"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= PATHS_TOP_K)
        .orderBy("probe_user", "rnk")
    )


# ------------------------------------------------ interval union time
IV_WIDTH_US = 5 * 60 * 1_000_000  # each event opens a 5-minute interval

_INTERVAL_UNION_ORACLE = f"""
WITH iv AS (
  SELECT user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS s,
         epoch_us(CAST(ts AS TIMESTAMP)) + {IV_WIDTH_US} AS e
  FROM events
), marked AS (
  SELECT user_id, s, e,
         CASE WHEN s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING)
                   OR MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) IS NULL
              THEN 1 ELSE 0 END AS new_block
  FROM iv
), blocks AS (
  SELECT user_id, s, e,
         SUM(new_block) OVER (PARTITION BY user_id ORDER BY s, e
                              ROWS UNBOUNDED PRECEDING) AS block_id
  FROM marked
), merged AS (
  SELECT user_id, block_id,
         MIN(s) AS bs, MAX(e) AS be
  FROM blocks GROUP BY user_id, block_id
), per_user AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(be - bs) AS BIGINT) AS active_us
  FROM merged GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(n_blocks) AS BIGINT) AS n_merged_intervals,
       CAST(SUM(active_us) // 1000000 AS BIGINT) AS total_active_s,
       CAST(MAX(active_us) // 1000000 AS BIGINT) AS max_user_active_s,
       CAST(SUM(active_us) // COUNT(*) // 1000000 AS BIGINT)
         AS avg_user_active_s
FROM per_user
"""


@query("events_interval_union_time", oracle=_INTERVAL_UNION_ORACLE)
def events_interval_union_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL UNION aggregation: every event opens a 5-minute
    activity window; overlapping windows per user merge, and the
    metric is the length of the UNION -- the correct "time actually
    active" number naive sum-of-durations double-counts (the billing /
    engagement-time primitive, and the measure sessionization
    approximates). Merge detection is the classic running-max-of-ends
    pass: an interval starts a new block iff its start exceeds the max
    end among all earlier intervals (not just the previous one --
    a long interval can swallow several later ones).

    Scale shape: every window partitions BY USER (the lint-enforced
    discipline); one shuffle on user_id, then the block rollup and a
    constant-width summary. Exact epoch-microsecond integers end to
    end."""
    e = load_table(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (F.unix_micros(F.col("ts")) + IV_WIDTH_US).alias("e"),
    )
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_max_e = F.max("e").over(w_prev)
    marked = iv.withColumn(
        "new_block",
        (prev_max_e.isNull() | (F.col("s") > prev_max_e)).cast("long"),
    )
    w_cum = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    blocks = marked.withColumn("block_id", F.sum("new_block").over(w_cum))
    merged = blocks.groupBy("user_id", "block_id").agg(
        F.min("s").alias("bs"), F.max("e").alias("be")
    )
    per_user = merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.col("be") - F.col("bs")).alias("active_us"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_blocks").alias("n_merged_intervals"),
        F.expr("sum(active_us) div 1000000").alias("total_active_s"),
        F.expr("max(active_us) div 1000000").alias("max_user_active_s"),
        F.expr("sum(active_us) div count(1) div 1000000").alias(
            "avg_user_active_s"
        ),
    )


# ------------------------------------------------ market concentration
_HHI_ORACLE = """
WITH rev AS (
  SELECT s.s_nationkey,
         l.l_suppkey,
         CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                       AS BIGINT)) // 100000 AS BIGINT) AS v
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey
), per_nation AS (
  SELECT r.s_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         CAST(SUM(v) AS BIGINT) AS total_v,
         CAST(SUM(v * v) AS BIGINT) AS sum_sq
  FROM rev r GROUP BY r.s_nationkey
)
SELECT n.n_name,
       p.n_suppliers,
       CAST(CASE WHEN p.total_v > 0
                 THEN 1000000 * p.sum_sq // (p.total_v * p.total_v)
                 ELSE NULL END AS BIGINT) AS hhi_x1m,
       CAST(1000000 // p.n_suppliers AS BIGINT) AS perfect_competition_x1m
FROM per_nation p JOIN nation n ON p.s_nationkey = n.n_nationkey
ORDER BY n.n_name
"""


@query("supply_hhi_concentration", oracle=_HHI_ORACLE)
def supply_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market concentration of supplier revenue
    within each nation -- the antitrust-style single number (1e6 =
    monopoly, 1e6/n = perfect competition, printed alongside for
    reference). The ratio sum(v^2)/sum(v)^2 is computed with ONE
    integer division at the end, so no per-share float accumulates;
    revenues are pre-scaled to thousands (div 100000 of the x100
    cents) so the squared sums stay far inside BIGINT at any SF.

    Scale shape: one fact rollup to (nation, supplier), a |nations|
    re-rollup, broadcast nation-name join. Fact touched once."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.expr(
                "CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)"
                " * 100) AS BIGINT)) div 100000 AS BIGINT)"
            ).alias("v")
        )
    )
    per_nation = rev.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("v").alias("total_v"),
        F.sum(F.col("v") * F.col("v")).alias("sum_sq"),
    )
    return (
        per_nation.join(
            F.broadcast(n), per_nation.s_nationkey == n.n_nationkey
        )
        .select(
            "n_name",
            "n_suppliers",
            F.when(
                F.col("total_v") > 0,
                F.expr("1000000 * sum_sq div (total_v * total_v)"),
            )
            .cast("long")
            .alias("hhi_x1m"),
            F.expr("1000000 div n_suppliers").alias(
                "perfect_competition_x1m"
            ),
        )
        .orderBy("n_name")
    )


# ------------------------------------------------ ABC classification
_ABC_ORACLE = """
WITH rev AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS v
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey, v,
         SUM(v) OVER (ORDER BY v DESC, l_partkey
                      ROWS UNBOUNDED PRECEDING) AS cum_v,
         SUM(v) OVER () AS total_v
  FROM rev
), classed AS (
  SELECT l_partkey, v,
         CASE WHEN 100 * (cum_v - v) < 80 * total_v THEN 'A'
              WHEN 100 * (cum_v - v) < 95 * total_v THEN 'B'
              ELSE 'C' END AS cls
  FROM ranked
)
SELECT cls,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(v) AS BIGINT) AS revenue_x100,
       CAST(1000000 * SUM(v) // MAX(t.total) AS BIGINT) AS revenue_share_x1m
FROM classed
CROSS JOIN (SELECT SUM(v) AS total FROM rev) t
GROUP BY cls
ORDER BY cls
"""


@query("supply_abc_classification", oracle=_ABC_ORACLE)
def supply_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, class A =
    items before the 80% cumulative-revenue line, B to 95%, C beyond
    -- the warehouse-policy segmentation (count-few/count-often). A
    part classifies by the revenue BEFORE it (cum - v), so the item
    that crosses a boundary still belongs to the higher class, and
    boundaries compare in exact integer cross-multiplication
    (100*cum vs 80*total -- no percentage floats).

    Scale shape: per-part rollup, then the global cumulative revenue
    comes from the DISTRIBUTED bucketed machinery (_bucketed_rank with
    cum_of) -- no single-partition window -- plus a broadcast 1-row
    total; the oracle states the contract with plain windows."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        ).alias("v")
    )
    # Rank descending by revenue; reuse the distributed rank + running
    # sum (key must be a column name: materialise v as the sort key).
    ranked = _bucketed_rank(
        rev.withColumnRenamed("l_partkey", "o_custkey"),
        key="v",
        width=10_000_000,
        asc=False,
        out="rnk",
        cum_of="v",
        cum_out="cum_v",
    ).withColumnRenamed("o_custkey", "l_partkey")
    total = rev.agg(F.sum("v").alias("total_v"))
    classed = ranked.crossJoin(F.broadcast(total)).select(
        "l_partkey",
        "v",
        "total_v",
        F.when(
            100 * (F.col("cum_v") - F.col("v")) < 80 * F.col("total_v"), "A"
        )
        .when(
            100 * (F.col("cum_v") - F.col("v")) < 95 * F.col("total_v"), "B"
        )
        .otherwise("C")
        .alias("cls"),
    )
    return (
        classed.groupBy("cls", "total_v")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("v").alias("revenue_x100"),
        )
        .select(
            "cls",
            "n_parts",
            "revenue_x100",
            F.expr("1000000 * revenue_x100 div total_v").alias(
                "revenue_share_x1m"
            ),
        )
        .orderBy("cls")
    )


# ------------------------------------------------ repurchase intervals
_REPURCHASE_ORACLE = """
WITH seq AS (
  SELECT o_custkey, o_orderdate,
         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS prev_d
  FROM orders
), gaps AS (
  SELECT o_custkey,
         CAST(date_diff('day', prev_d, o_orderdate) AS BIGINT) AS gap_days
  FROM seq WHERE prev_d IS NOT NULL
), per_cust AS (
  SELECT o_custkey,
         CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(gap_days) // COUNT(*) AS BIGINT) AS avg_gap_days
  FROM gaps GROUP BY o_custkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_repeat_customers,
       CAST(SUM(n_gaps) AS BIGINT) AS n_intervals,
       CAST(SUM(n_gaps * avg_gap_days) // SUM(n_gaps) AS BIGINT)
         AS weighted_avg_gap_days,
       CAST(MIN(avg_gap_days) AS BIGINT) AS min_avg_gap_days,
       CAST(MAX(avg_gap_days) AS BIGINT) AS max_avg_gap_days,
       CAST(SUM(CASE WHEN avg_gap_days <= 30 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_monthly_or_faster
FROM per_cust
"""


@query("orders_repurchase_intervals", oracle=_REPURCHASE_ORACLE)
def orders_repurchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval analysis: per repeat customer, the days
    between consecutive orders (per-customer lag window), rolled up to
    the replenishment-cycle summary every retention model starts from
    -- how many repeat customers, their weighted-average reorder gap,
    and the monthly-or-faster cohort size. Integer day arithmetic and
    floor-div averages keep both engines exact.

    Scale shape: one per-customer window (partitioned shuffle on
    custkey -- the lint-enforced discipline), two rollups. Fact
    touched once."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.withColumn("prev_d", F.lag("o_orderdate").over(w))
        .filter(F.col("prev_d").isNotNull())
        .select(
            "o_custkey",
            F.datediff("o_orderdate", "prev_d").cast("long").alias(
                "gap_days"
            ),
        )
    )
    per_cust = gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.expr("sum(gap_days) div count(1)").alias("avg_gap_days"),
    )
    return per_cust.agg(
        F.count(F.lit(1)).alias("n_repeat_customers"),
        F.sum("n_gaps").alias("n_intervals"),
        F.expr("sum(n_gaps * avg_gap_days) div sum(n_gaps)").alias(
            "weighted_avg_gap_days"
        ),
        F.min("avg_gap_days").alias("min_avg_gap_days"),
        F.max("avg_gap_days").alias("max_avg_gap_days"),
        F.sum((F.col("avg_gap_days") <= 30).cast("long")).alias(
            "n_monthly_or_faster"
        ),
    )


# ------------------------------------------------ new vs returning
_NEW_RETURNING_ORACLE = """
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS first_ts
  FROM events GROUP BY user_id
), tagged AS (
  SELECT CAST(date_trunc('day', CAST(e.ts AS TIMESTAMP)) AS DATE) AS day,
         CASE WHEN date_trunc('day', CAST(e.ts AS TIMESTAMP))
                   = date_trunc('day', f.first_ts)
              THEN 1 ELSE 0 END AS is_new
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(SUM(is_new) AS BIGINT) AS n_new_user_events,
       CAST(SUM(1 - is_new) AS BIGINT) AS n_returning_events,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM tagged
GROUP BY day
ORDER BY day
"""


@query("events_new_vs_returning", oracle=_NEW_RETURNING_ORACLE)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning split: an event is 'new' iff it falls on
    its user's first-ever active day -- the acquisition/retention
    mix every growth dashboard leads with. First-day attribution via
    one per-user MIN aggregate joined back (co-partitioned on
    user_id), not a window over the fact.

    Scale shape: per-user rollup + same-key join (one shuffle pair on
    user_id), then the daily rollup. Exact date arithmetic."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    tagged = e.join(firsts, "user_id").select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        (
            F.date_trunc("day", "ts") == F.date_trunc("day", "first_ts")
        ).cast("long").alias("is_new"),
    )
    return (
        tagged.groupBy("day")
        .agg(
            F.sum("is_new").alias("n_new_user_events"),
            F.sum(1 - F.col("is_new")).alias("n_returning_events"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("day").cast("string").alias("day"),
            "n_new_user_events",
            "n_returning_events",
            "n_events",
        )
        .orderBy("day")
    )


# ------------------------------------------------ segment migration
_MIGRATION_ORACLE = """
WITH yearly AS (
  SELECT o_custkey, EXTRACT(YEAR FROM o_orderdate) AS y,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS spend_x100
  FROM orders GROUP BY 1, 2
), terciled AS (
  SELECT o_custkey, y,
         CAST(NTILE(3) OVER (PARTITION BY y
                             ORDER BY spend_x100, o_custkey) AS BIGINT)
           AS segment
  FROM yearly
)
SELECT a.segment AS from_segment,
       b.segment AS to_segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(MIN(a.o_custkey) AS BIGINT) AS example_cust
FROM terciled a
JOIN terciled b ON a.o_custkey = b.o_custkey AND b.y = a.y + 1
GROUP BY a.segment, b.segment
ORDER BY from_segment, to_segment
"""


@query("events_segment_migration", oracle=_MIGRATION_ORACLE)
def events_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year customer SEGMENT MIGRATION matrix: spend terciles
    computed within each year, then each customer's consecutive-year
    (from, to) transition counted -- the upgrade/downgrade/churn-risk
    flow behind every "customer movement" sankey. Terciles are
    PER-YEAR NTILE windows (partitioned by year -- a few thousand
    customers per partition at any SF share a year only if active in
    it; at extreme scale swap in the bucketed-rank machinery per year,
    same as events_rfm_segments did globally), ties broken by custkey
    so both engines bucket identically; the self-join on (customer,
    adjacent years) co-partitions on customer.

    Output: the 3x3 transition matrix with deterministic example ids.
    """
    o = load_table(spark, sf_dir, "orders")
    yearly = o.groupBy(
        F.col("o_custkey"), F.year("o_orderdate").alias("y")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "spend_x100"
        )
    )
    w = W.partitionBy("y").orderBy("spend_x100", "o_custkey")
    terciled = yearly.select(
        "o_custkey", "y", F.ntile(3).over(w).cast("long").alias("segment")
    )
    b = terciled.select(
        F.col("o_custkey").alias("b_cust"),
        F.col("y").alias("b_y"),
        F.col("segment").alias("to_segment"),
    )
    return (
        terciled.join(
            b,
            (F.col("o_custkey") == F.col("b_cust"))
            & (F.col("b_y") == F.col("y") + 1),
        )
        .groupBy(
            F.col("segment").alias("from_segment"), F.col("to_segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("o_custkey").alias("example_cust"),
        )
        .orderBy("from_segment", "to_segment")
    )


# ------------------------------------------------ abandonment paths
_DROPOFF_ORACLE = """
WITH t AS (
  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                   - epoch_us(lag(CAST(ts AS TIMESTAMP))
                              OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id)) > 1800000000
                   OR lag(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), s AS (
  SELECT user_id, event_id, event_type, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM t
), sess AS (
  SELECT user_id, sid,
         list_transform(
           list_sort(list(lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                          || '|' || lpad(CAST(event_id AS VARCHAR), 12, '0')
                          || '|' || event_type)),
           x -> split_part(x, '|', 3)) AS types
  FROM s GROUP BY user_id, sid
), dropped AS (
  SELECT types[greatest(len(types) - 2, 1):] AS tail3
  FROM sess
  WHERE list_contains(types, 'view')
    AND NOT list_contains(types, 'purchase')
), paths AS (
  SELECT array_to_string(tail3, '>') AS path,
         CAST(COUNT(*) AS BIGINT) AS n_sessions
  FROM dropped GROUP BY 1
)
SELECT path, n_sessions, rnk FROM (
  SELECT path, n_sessions,
         ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS rnk
  FROM paths)
WHERE rnk <= 10
ORDER BY rnk
"""


@query("events_dropoff_paths", oracle=_DROPOFF_ORACLE)
def events_dropoff_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABANDONMENT paths: among SESSIONS (30-minute gap
    sessionization) that contained a view but no purchase, the 10 most
    common final three-event sequences -- where the funnel actually
    loses people, which a conversion RATE cannot show. Session
    assignment is the standard per-user gap window; per-session
    sequences build via sort_array over collect_list; the trailing
    slice / membership / join are array codegen.

    Scale shape: per-user windows (partitioned), one rollup to
    sessions, a |paths|-row rollup and a top-10 rank over that tiny
    table (bounded by |event_type|^3)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(
        F.lag("ts").over(w)
    )
    t = e.withColumn(
        "new_session",
        (F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000)).cast(
            "long"
        ),
    )
    s = t.withColumn(
        "sid",
        F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    sess = s.groupBy("user_id", "sid").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda x: x["event_type"],
        ).alias("types")
    )
    dropped = sess.filter(
        F.array_contains("types", "view")
        & ~F.array_contains("types", "purchase")
    ).select(
        F.concat_ws(
            ">",
            F.slice(
                "types",
                F.greatest(F.size("types") - 2, F.lit(1)),
                F.lit(3),
            ),
        ).alias("path")
    )
    paths = dropped.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    wr = W.orderBy(F.col("n_sessions").desc(), "path")
    return (
        paths.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 10)
        .select("path", "n_sessions", F.col("rnk").cast("long"))
        .orderBy("rnk")
    )


# ----------------------------------------------- 2-D skyline (Pareto front)

_SKYLINE_ORACLE = """
WITH pts AS (
  SELECT user_id,
         SUM(value) AS total_value,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
)
SELECT p.user_id, p.total_value, p.n_events
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts v
  WHERE v.user_id <> p.user_id
    AND v.total_value >= p.total_value
    AND v.n_events >= p.n_events
    AND (v.total_value > p.total_value OR v.n_events > p.n_events)
)
ORDER BY p.total_value DESC, p.n_events DESC, p.user_id
"""


@query("events_skyline_frontier", oracle=_SKYLINE_ORACLE)
def events_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) over per-user (total spend, event
    count): the users no other user beats on BOTH axes -- the classic
    dominance operator Spark has no builtin for, and the whale-report
    shape of engagement analytics.

    Scale shape (grid-pruned skyline, the block-nested-loop killer):
    one groupBy(user) aggregate, then 64 fixed-width range buckets over
    total_value.  A point in bucket b has STRICTLY smaller total than
    every point in buckets > b, so if any higher bucket holds a point
    with >= its event count, it is dominated -- that check is a
    broadcast join against the 64-row suffix-max table (itself a tiny
    theta self-join, no global window).  Only the survivors of the
    coarse prune do exact same-bucket dominance pairs, and each pair
    join is confined to ONE bucket's residents (the near-frontier
    points), never all-pairs over users.  At any corpus size the
    quadratic term is bounded by the densest single bucket, and the
    bucket count is a constant the operator can raise.
    """
    from ushas_spark.durability import materialize

    ev = load_table(spark, sf_dir, "events")
    # pts feeds four branches (stats, bucket maxima, candidates, pairs):
    # materialize so the per-user aggregate is computed once, not once
    # per branch of the DAG.
    pts = materialize(
        ev.groupBy("user_id").agg(
            F.sum("value").alias("total_value"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    nb = 64
    stats = pts.agg(
        F.min("total_value").alias("lo"), F.max("total_value").alias("hi")
    )
    p = pts.crossJoin(F.broadcast(stats)).withColumn(
        "bucket",
        F.least(
            F.lit(nb - 1),
            F.floor(
                (F.col("total_value") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / nb + F.lit(1e-12))
            ),
        ).cast("long"),
    )
    bmax = p.groupBy("bucket").agg(F.max("n_events").alias("bn"))
    suffix = (
        bmax.alias("a")
        .join(bmax.alias("b"), F.col("b.bucket") > F.col("a.bucket"), "left")
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.max(F.col("b.bn")).alias("suffix_max_n"))
    )
    cand = materialize(
        p.join(F.broadcast(suffix), "bucket")
        .where(
            F.col("suffix_max_n").isNull()
            | (F.col("n_events") > F.col("suffix_max_n"))
        )
        .select("bucket", "user_id", "total_value", "n_events")
    )
    v = cand.select(
        F.col("bucket").alias("vb"),
        F.col("user_id").alias("vu"),
        F.col("total_value").alias("vt"),
        F.col("n_events").alias("vn"),
    )
    dominated_in_bucket = (
        cand.join(
            v,
            (F.col("vb") == F.col("bucket"))
            & (F.col("vu") != F.col("user_id"))
            & (F.col("vt") >= F.col("total_value"))
            & (F.col("vn") >= F.col("n_events"))
            & (
                (F.col("vt") > F.col("total_value"))
                | (F.col("vn") > F.col("n_events"))
            ),
            "left_semi",
        )
        .select("user_id")
    )
    return (
        cand.join(dominated_in_bucket, "user_id", "left_anti")
        .select("user_id", "total_value", "n_events")
        .orderBy(F.desc("total_value"), F.desc("n_events"), "user_id")
    )


# ------------------------------------------------------- A/B test z-score

_AB_TEST_ORACLE = """
WITH flags AS (
  SELECT user_id,
         CAST(user_id % 2 AS BIGINT) AS arm,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
arms AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(converted) AS BIGINT) AS x
  FROM flags GROUP BY arm
),
wide AS (
  SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
         MAX(CASE WHEN arm = 0 THEN x END) AS x0,
         MAX(CASE WHEN arm = 1 THEN n END) AS n1,
         MAX(CASE WHEN arm = 1 THEN x END) AS x1
  FROM arms
)
SELECT n0, x0, n1, x1,
       CAST(1000000 * x0 // n0 AS BIGINT) AS p0_x1e6,
       CAST(1000000 * x1 // n1 AS BIGINT) AS p1_x1e6,
       CASE WHEN x0 + x1 > 0 AND x0 + x1 < n0 + n1 THEN
         CAST(ROUND(
           (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE))
           / SQRT((CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                  * (1.0 - CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                  * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
           * 10000) AS BIGINT)
       END AS z_x1e4
FROM wide
"""


@query("events_ab_test_zscore", oracle=_AB_TEST_ORACLE)
def events_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B z-test on conversion ('purchase') with the
    assignment arm derived from user_id parity -- the experiment
    read-out every growth dashboard computes, expressed as exact
    integer counts plus ONE closed-form double evaluation (the
    oracle_exact moment pattern: +,-,*,/ and IEEE sqrt are
    correctly-rounded and engine-identical; only libm transcendentals
    are not, and none appear here).

    Scale shape: per-user conversion flags are a map-side-combinable
    MAX groupBy on user_id; the arm rollup is 2 cells; the z arithmetic
    runs on one row. No window, no join -- two shuffles whose second
    carries two rows."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    flags = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("long")).alias("converted")
    )
    arms = flags.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("x")
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("x"))).alias("x0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("x"))).alias("x1"),
    )
    n0d, x0d = F.col("n0").cast("double"), F.col("x0").cast("double")
    n1d, x1d = F.col("n1").cast("double"), F.col("x1").cast("double")
    pool = (x0d + x1d) / (n0d + n1d)
    z = (x1d / n1d - x0d / n0d) / F.sqrt(
        pool * (F.lit(1.0) - pool) * (F.lit(1.0) / n0d + F.lit(1.0) / n1d)
    )
    # Degenerate experiments (0% or 100% pooled conversion) have a zero
    # standard error: z is undefined, and ANSI-mode Spark would throw on
    # the double division where DuckDB yields inf. NULL on both engines.
    z_guarded = F.when(
        (F.col("x0") + F.col("x1") > 0)
        & (F.col("x0") + F.col("x1") < F.col("n0") + F.col("n1")),
        F.round(z * 10000).cast("long"),
    )
    return wide.select(
        "n0", "x0", "n1", "x1",
        F.expr("1000000 * x0 div n0").alias("p0_x1e6"),
        F.expr("1000000 * x1 div n1").alias("p1_x1e6"),
        z_guarded.alias("z_x1e4"),
    )


# ------------------------------------------------- bot-like gap regularity

_BOT_GAP_ORACLE = """
WITH seq AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
gaps AS (
  SELECT user_id,
         CAST(epoch_us(ts) - epoch_us(prev_ts) AS BIGINT) AS gap_us,
         CAST((epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS BIGINT) AS gap_s
  FROM seq WHERE prev_ts IS NOT NULL
),
stats AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(gap_s) AS BIGINT) AS s1,
         CAST(SUM(gap_s * gap_s) AS BIGINT) AS s2,
         CAST(MIN(gap_us) AS BIGINT) AS min_gap_us
  FROM gaps GROUP BY user_id
),
scored AS (
  SELECT user_id, n_gaps, min_gap_us,
         CAST(s1 // n_gaps AS BIGINT) AS mean_gap_s,
         CASE WHEN n_gaps >= 2 AND s1 > 0 THEN
           CAST(ROUND(
             SQRT(GREATEST((CAST(n_gaps AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)), 0.0)
                  / (CAST(n_gaps AS DOUBLE) * (CAST(n_gaps AS DOUBLE) - 1.0)))
             / (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE)) * 10000)
           AS BIGINT)
         END AS cv_x1e4
  FROM stats
)
SELECT user_id, n_gaps, mean_gap_s, min_gap_us, cv_x1e4,
       CAST(CASE WHEN (cv_x1e4 IS NOT NULL AND cv_x1e4 < 2500)
                   OR min_gap_us < 1000000
             THEN 1 ELSE 0 END AS BIGINT) AS bot_flag
FROM scored ORDER BY user_id
"""


@query("events_bot_gap_regularity", oracle=_BOT_GAP_ORACLE)
def events_bot_gap_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-likeness from inter-event timing: per user, the coefficient
    of variation of consecutive gaps (machines are REGULAR: cv near 0)
    and the minimum gap (machines are FAST: sub-second). Flag when
    cv < 0.25 or any gap < 1s -- the pre-training traffic-cleaning
    heuristic that drops scripted sessions before engagement data
    becomes training signal.

    Exactness: gaps are exact integer microseconds, with moments
    accumulated at second resolution so squares stay far inside BIGINT
    even for month-scale gaps; cv is one
    closed-form double evaluation rounded to x1e4, and the flag bands
    on the ROUNDED integer, so both engines agree at the threshold.

    Scale shape: one window partitioned by user_id (the natural event
    partitioning -- no global window), then a map-side-combinable
    per-user aggregate. Nothing downstream exceeds |users| rows."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    gaps = (
        _user_gaps(e)
        # Moments accumulate at SECOND resolution: a month-long gap is
        # ~2.6e12 us, whose square overflows BIGINT; in seconds the
        # square is ~6.7e12, leaving six orders of headroom for the
        # per-user sum. min_gap keeps microseconds (the bot check needs
        # sub-second resolution).
        .withColumn("gap_s", F.expr("gap_us div 1000000"))
    )
    stats = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_s").alias("s1"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("s2"),
        F.min("gap_us").alias("min_gap_us"),
    )
    nd = F.col("n_gaps").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    cv = F.sqrt(
        F.greatest(nd * s2d - s1d * s1d, F.lit(0.0)) / (nd * (nd - F.lit(1.0)))
    ) / (s1d / nd)
    scored = stats.select(
        "user_id",
        "n_gaps",
        F.expr("s1 div n_gaps").alias("mean_gap_s"),
        "min_gap_us",
        F.when(
            (F.col("n_gaps") >= 2) & (F.col("s1") > 0),
            F.round(cv * 10000).cast("long"),
        ).alias("cv_x1e4"),
    )
    return scored.select(
        "user_id",
        "n_gaps",
        "mean_gap_s",
        "min_gap_us",
        "cv_x1e4",
        # Sub-second minimum gap flags independently of cv: a user with a
        # single gap (cv undefined, cv_x1e4 NULL) is still a bot if that
        # gap is machine-speed. coalesce() keeps the OR two-valued so the
        # NULL cv never poisons the flag.
        (
            F.coalesce(F.col("cv_x1e4") < 2500, F.lit(False))
            | (F.col("min_gap_us") < 1_000_000)
        )
        .cast("long")
        .alias("bot_flag"),
    ).orderBy("user_id")


# -------------------------------------------------- engagement (L30) curve

_ENGAGEMENT_ORACLE = """
WITH act AS (
  SELECT user_id, COUNT(DISTINCT date_trunc('day', ts)) AS n_active_days
  FROM events GROUP BY user_id
),
hist AS (
  SELECT n_active_days, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM act GROUP BY n_active_days
),
tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS total_users FROM hist)
SELECT h.n_active_days,
       h.n_users,
       CAST((SELECT SUM(h2.n_users) FROM hist h2
             WHERE h2.n_active_days >= h.n_active_days) AS BIGINT)
         AS users_at_least,
       CAST(1000 * (SELECT SUM(h2.n_users) FROM hist h2
                    WHERE h2.n_active_days >= h.n_active_days)
            // (SELECT total_users FROM tot) AS BIGINT)
         AS share_at_least_x1000
FROM hist h
ORDER BY h.n_active_days
"""


@query("events_engagement_curve", oracle=_ENGAGEMENT_ORACLE)
def events_engagement_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The L30 engagement curve: how many users were active on at
    least K distinct days of the window, for every K observed -- the
    power-user curve product analytics reads DAU quality from (a
    right-shifted curve means a habit product; a wall at K=1 means
    drive-by traffic).

    Scale shape: distinct active days per user is one map-side-
    combinable groupBy (the (user, day) distinct rides the same
    shuffle); the curve itself lives on the |distinct day counts|
    rollup (<= days-in-window rows), where the tail-cumulative is a
    broadcast theta self-join on the bounded histogram -- the repo's
    standard prefix-sum discipline, no global window."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    from ushas_spark.durability import materialize

    act = (
        e.distinct()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_active_days"))
    )
    # Materialized: the <= |days-in-window|-row histogram feeds three
    # branches (itself, the theta self-join side, the total) -- without
    # truncation each branch re-runs the corpus pipeline (audited: 10
    # shuffles -> 4 across two segments, one corpus pass instead of 3).
    hist = materialize(
        act.groupBy("n_active_days").agg(F.count(F.lit(1)).alias("n_users"))
    )
    tot = hist.agg(F.sum("n_users").alias("total_users"))
    h2 = hist.select(
        F.col("n_active_days").alias("d2"), F.col("n_users").alias("n2")
    )
    cum = (
        hist.join(F.broadcast(h2), F.col("d2") >= F.col("n_active_days"))
        .groupBy("n_active_days", "n_users")
        .agg(F.sum("n2").alias("users_at_least"))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "n_active_days",
            F.col("n_users").cast("long"),
            F.col("users_at_least").cast("long"),
            F.expr("1000 * users_at_least div total_users").alias(
                "share_at_least_x1000"
            ),
        )
        .orderBy("n_active_days")
    )
