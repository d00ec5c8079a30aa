"""Query registry: the bridge between operator modules and __spark_entry__.

Every implemented operator/query from SURVEY.md section 2 registers itself
here with (optionally) an equivalent ANSI-SQL oracle string that DuckDB can
run on the same parquet tables. The driver's correctness gate compares the
Spark result with the oracle result (row count + schema + order-insensitive
value hash), so registered pairs must agree bit-for-bit -- see
``ushas_spark.oracle_exact`` for the determinism patterns that make float
aggregation portable across engines.

Queries are served in registration order -- the order their modules are
first imported, then decorator (source) order within a module; nothing
re-sorts them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as a named query; ``oracle`` is DuckDB-runnable SQL.

    Omit ``oracle`` only for genuinely non-SQL-expressible ops (custom
    stateful streaming, approximate sketches with engine-specific values);
    the driver then records a weaker rows-only check.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# No-oracle-by-design queries (golden/property-tested locally): the driver
# records a weaker rows-only check for them. A reviewed allowance: a query
# that loses its oracle must be named here (tests/test_registry.py).
_ROWS_ONLY = {
    "agg_approx_sketches",
    "agg_count_min_sketch",
    "expr_spark_only_battery",
    "expr_xpath_url_battery",
    "sim_brute_force_topk_numpy",
}


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    # Imports are inside the function so `import ushas_spark` stays cheap
    # and there is exactly one place that defines the coverage surface.
    from ushas_spark.queries import (  # noqa: F401
        aggregates,
        analytics,
        arrow_ext,
        collections,
        coverage_fill,
        expressions,
        joins,
        lineage_demo,
        misc,
        setops,
        sources,
        sql_conformance,
        subqueries,
        tpch,
        udfs,
        windows,
    )
    from ushas_spark.operators import (  # noqa: F401
        asof,
        bpe,
        clustering,
        dedup,
        entity,
        graph,
        ivf,
        layout,
        mergeop,
        multimodal,
        pipeline,
        profiling,
        rangejoin,
        similarity,
        skew,
        text,
    )
    from ushas_spark.streaming import queries as streaming_queries  # noqa: F401
