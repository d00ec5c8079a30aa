"""Cross-engine exactness helpers.

The correctness gate hashes raw values, so Spark and DuckDB must agree
*bit-for-bit*. Per-row IEEE-754 arithmetic is already deterministic across
engines (same input bits + same op order => same output bits). What is NOT
portable is (a) cross-row float accumulation -- sum/avg over doubles depends
on partitioning and combine order -- and (b) double->decimal cast rounding,
which the two engines implement differently on boundary rows (verified
empirically). The portable pattern used throughout this repo:

    per-row:   ROUND(expr * 10^scale)  -- a double; both engines round
               half-away-from-zero on the identical input bits
               (Spark: catalyst/expressions/mathExpressions.scala Round /
               BigDecimal.ROUND_HALF_UP; DuckDB: std::round)
    cast:      -> BIGINT               -- exact
    aggregate: SUM(bigint)             -- exact, order-independent, safe for
               Spark's partial->final two-phase aggregation (reference:
               execution/aggregate/AggUtils.scala)
    report:    CAST(sum AS DOUBLE) / 10^scale  -- one deterministic division

Result columns are therefore plain DOUBLE / BIGINT -- no DECIMAL in any
output schema, avoiding engine-specific decimal width/representation
differences at the comparison layer.

Moment statistics (stddev/var) are recomputed from exact scaled power sums
via the closed-form formula, never the engines' order-dependent streaming
implementations.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 10^4 fixed-point: enough for money-like doubles (2-dp inputs, products of
# two 2-dp factors). Row magnitude up to ~1e14 after scaling and 2^63 sums
# keep headroom through ~1e4 x larger data than sf0.1.
SCALE = 4


def _factor(scale: int) -> int:
    return 10**scale


def dec_sum(col: Column, alias: str, scale: int = SCALE) -> Column:
    """Order-independent, engine-portable SUM of a double expression."""
    f = _factor(scale)
    scaled = F.sum(F.round(col * f).cast("long"))
    return (scaled.cast("double") / float(f)).alias(alias)


def dec_avg(col: Column, alias: str) -> Column:
    """Order-independent, engine-portable AVG of a double expression."""
    f = _factor(SCALE)
    scaled = F.sum(F.round(col * f).cast("long")).cast("double") / float(f)
    return (scaled / F.count(col).cast("double")).alias(alias)


def sql_dec_sum(expr: str, alias: str, scale: int = SCALE) -> str:
    """DuckDB-side mirror of :func:`dec_sum` for oracle strings."""
    f = _factor(scale)
    return (
        f"CAST(SUM(CAST(ROUND(({expr}) * {f}) AS BIGINT)) AS DOUBLE)"
        f" / {float(f)} AS {alias}"
    )


def sql_dec_avg(expr: str, alias: str) -> str:
    """DuckDB-side mirror of :func:`dec_avg`."""
    f = _factor(SCALE)
    return (
        f"CAST(SUM(CAST(ROUND(({expr}) * {f}) AS BIGINT)) AS DOUBLE)"
        f" / {float(f)} / CAST(COUNT({expr}) AS DOUBLE) AS {alias}"
    )


def dec_stddev_samp(col: Column, alias: str, scale: int = SCALE) -> Column:
    """Portable sample stddev from exact scaled power sums.

    sqrt((n*S2 - S1^2) / (n*(n-1))) with S1=sum(x), S2=sum(x^2) accumulated
    as exact scaled integers, then evaluated in double. Semantically matches
    the reference's CentralMomentAgg (reference: catalyst/expressions/
    aggregate/CentralMomentAgg.scala:140) but reproducible across engines
    and partitionings.
    """
    f = float(_factor(scale))
    s1 = F.sum(F.round(col * f).cast("long")).cast("double") / f
    s2 = F.sum(F.round(col * col * f).cast("long")).cast("double") / f
    n = F.count(col).cast("double")
    return F.sqrt((n * s2 - s1 * s1) / (n * (n - F.lit(1.0)))).alias(alias)


def sql_dec_stddev_samp(expr: str, alias: str, scale: int = SCALE) -> str:
    """DuckDB-side mirror of :func:`dec_stddev_samp`."""
    f = float(_factor(scale))
    s1 = f"(CAST(SUM(CAST(ROUND(({expr}) * {f}) AS BIGINT)) AS DOUBLE) / {f})"
    s2 = f"(CAST(SUM(CAST(ROUND(({expr})*({expr}) * {f}) AS BIGINT)) AS DOUBLE) / {f})"
    n = f"CAST(COUNT({expr}) AS DOUBLE)"
    return f"SQRT(({n}*{s2} - {s1}*{s1}) / ({n}*({n}-1.0))) AS {alias}"


def dec_var_samp(col: Column, alias: str, scale: int = SCALE) -> Column:
    """Portable sample variance (see :func:`dec_stddev_samp`)."""
    f = float(_factor(scale))
    s1 = F.sum(F.round(col * f).cast("long")).cast("double") / f
    s2 = F.sum(F.round(col * col * f).cast("long")).cast("double") / f
    n = F.count(col).cast("double")
    return ((n * s2 - s1 * s1) / (n * (n - F.lit(1.0)))).alias(alias)


def sql_dec_var_samp(expr: str, alias: str, scale: int = SCALE) -> str:
    f = float(_factor(scale))
    s1 = f"(CAST(SUM(CAST(ROUND(({expr}) * {f}) AS BIGINT)) AS DOUBLE) / {f})"
    s2 = f"(CAST(SUM(CAST(ROUND(({expr})*({expr}) * {f}) AS BIGINT)) AS DOUBLE) / {f})"
    n = f"CAST(COUNT({expr}) AS DOUBLE)"
    return f"(({n}*{s2} - {s1}*{s1}) / ({n}*({n}-1.0))) AS {alias}"
