"""Query registry: the bridge between operator modules and __spark_entry__.

Every implemented operator/query from SURVEY.md section 2 registers itself
here with (optionally) an equivalent ANSI-SQL oracle string that DuckDB can
run on the same parquet tables. The driver's correctness gate compares the
Spark result with the oracle result (row count + schema + order-insensitive
value hash), so registered pairs must agree bit-for-bit -- see
``ushas_spark.oracle_exact`` for the determinism patterns that make float
aggregation portable across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ushas_spark.rotation_state import GREEN_LAST_ROUND

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


# The driver's correctness gate walks queries() in REGISTRATION ORDER and
# covers only a prefix of about 50 queries per round, so the order is part
# of the verification strategy. It is derived, not hand-maintained:
# tools/gen_rotation_state.py scans every CORRECTNESS_r{N}.json into
# rotation_state.GREEN_LAST_ROUND; never-checked queries sort first, then
# driver-greens oldest evidence first (see _reorder). Progress is judged by
# PLANS.md plan counts, never by wall seconds across rounds (the VMs drift
# bimodally). Add a new operator only for a real SURVEY.md section 2 gap,
# and park it in _DEFER_NEW. Earlier probe adjudications are in git history
# and OPTIMIZATION_r12.md / OPTIMIZATION_r13.md.
_PRIORITY_NAMES: list[str] = [
    # (empty since r11: expr_xpath_url_battery's clean rows-only row
    # landed in CORRECTNESS_r10, closing driver sampling at 382/382;
    # the pin and the gen_rotation_state.EXPECTED_RED entry were
    # retired together per the hygiene-test pairing.)
]

# Queries ADDED this round (never in any module the gate has half-walked):
# rank them behind every older never-checked query so the ~50-slot prefix
# certifies the backlog first; these get their turn in a later round.
_DEFER_NEW: set[str] = set()

# No-oracle-by-design queries (golden/property-tested locally): keep them
# permanently at the back of the walk order.
_ROWS_ONLY_TAIL = {
    "agg_approx_sketches",
    "agg_count_min_sketch",
    "expr_spark_only_battery",
    "expr_xpath_url_battery",
    "sim_brute_force_topk_numpy",
}

# Tie-break order only (since r09): primary ranking is never-checked
# first, then driver-greens by evidence age (rotation_state). Within a
# tier, modules walk in this order and queries keep decorator order.
_MODULE_ORDER = [
    "ushas_spark.queries.analytics",
    "ushas_spark.streaming.queries",
    "ushas_spark.operators.entity",
    "ushas_spark.operators.clustering",
    "ushas_spark.operators.graph",
    "ushas_spark.operators.mergeop",
    "ushas_spark.operators.layout",
    "ushas_spark.operators.bpe",
    "ushas_spark.operators.profiling",
    "ushas_spark.queries.sources",
    "ushas_spark.queries.sql_conformance",
    "ushas_spark.queries.misc",
    "ushas_spark.operators.dedup",
    "ushas_spark.operators.similarity",
    "ushas_spark.operators.ivf",
    "ushas_spark.operators.asof",
    "ushas_spark.operators.rangejoin",
    "ushas_spark.operators.skew",
    "ushas_spark.operators.text",
    "ushas_spark.operators.pipeline",
    "ushas_spark.operators.multimodal",
    "ushas_spark.queries.tpch",
    "ushas_spark.queries.windows",
    "ushas_spark.queries.setops",
    "ushas_spark.queries.subqueries",
    "ushas_spark.queries.udfs",
    "ushas_spark.queries.arrow_ext",
    "ushas_spark.queries.expressions",
    "ushas_spark.queries.joins",
    "ushas_spark.queries.aggregates",
    "ushas_spark.queries.collections",
    "ushas_spark.queries.coverage_fill",
    "ushas_spark.queries.lineage_demo",
]

# Names with a driver CORRECTNESS row (hash-green, or the by-design
# rows-only no_oracle marker), derived from the committed
# CORRECTNESS_r{N}.json evidence by tools/gen_rotation_state.py. They
# sort behind every never-checked query, oldest evidence first.
_DRIVER_GREEN: frozenset[str] = frozenset(GREEN_LAST_ROUND)



def _reorder() -> None:
    """Rebuild QUERIES/ORACLE in driver-verification priority order.

    Stable sort: within a module, decorator (source) order is kept."""

    def rank(item: tuple[str, QueryFn]) -> tuple[int, int, int]:
        name, fn = item
        if name in _PRIORITY_NAMES:
            # Explicit head pins beat everything, including the rows-only
            # tail (that is how a tail-parked query earns its driver row).
            return (0, _PRIORITY_NAMES.index(name), 0)
        if name in _ROWS_ONLY_TAIL:
            return (9, 0, 0)
        mod = getattr(fn, "__module__", "")
        try:
            mod_idx = _MODULE_ORDER.index(mod)
        except ValueError:
            mod_idx = len(_MODULE_ORDER)
        last = GREEN_LAST_ROUND.get(name)
        if last is None and name not in _DEFER_NEW:
            # Never driver-checked: first after explicit pins.
            return (1, mod_idx, 0)
        if name in _DEFER_NEW:
            # New this round: behind older never-checked work, ahead of
            # re-certification.
            return (2, mod_idx, 0)
        # Driver-green: re-certify stalest evidence first.
        return (3, last, mod_idx)

    ordered = sorted(QUERIES.items(), key=rank)
    QUERIES.clear()
    QUERIES.update(ordered)
    oracle_ordered = {n: ORACLE[n] for n, _ in ordered if n in ORACLE}
    ORACLE.clear()
    ORACLE.update(oracle_ordered)


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

    _reorder()
