"""Plan lint over EVERY registered query: no scale-killers may ship.

This makes the PLANS.md discipline self-enforcing as the registry grows:
a new query that introduces (a) an unpartitioned WindowExec over
unbounded input, (b) a CartesianProduct, or (c) a row-at-a-time Python
eval outside the UDF-conformance module fails the build here, before it
ever reaches a benchmark or the driver gate.

Global windows are only acceptable over PROVABLY BOUNDED inputs (a
|buckets|-row offset table, a |months| calendar rollup, a LIMITed
top-k); each allowance below is reviewed and justified by name. A new
query that needs one must be added here with its justification -- that
review step is the point.
"""

from __future__ import annotations

import json

import pytest

from ushas_spark import registry

registry.load_all()

# name -> (max unpartitioned logical Window nodes, reviewed justification)
GLOBAL_WINDOW_OK: dict[str, tuple[int, str]] = {
    # events_rfm_segments / events_pareto_concentration need NO allowance:
    # their bucket prefix sums are broadcast theta self-joins, not windows.
    "pipeline_global_sequence": (
        1,
        "bucketed-rank offsets: window over the |buckets|-row count rollup",
    ),
    "orders_open_backlog_daily": (
        1,
        "sweep-line running sum over the |days| calendar table (bounded)",
    ),
    "profile_join_keys": (
        3,
        "rank over a LIMITed hot-key table + two windows over the "
        "frequency-of-frequencies rollup (|distinct multiplicities| rows)",
    ),
    "agg_equidepth_histogram": (
        2,
        "rank arithmetic over the per-value frequency rollup (documented "
        "scalable quantile pattern)",
    ),
    "q15_top_supplier": (
        1,
        "MAX over the |suppliers|-row aggregate: one fact scan instead of "
        "recomputing the CTE under a scalar subquery (documented)",
    ),
    "window_range_frame": (
        1,
        "exists precisely to conformance-test the global-RANGE SQL shape",
    ),
    "window_max_drawdown": (
        2,
        "cumulative sum + running max over the |months| equity curve",
    ),
    "sql_window_over_aggregate": (
        1,
        "conformance shape for SUM(COUNT(*)) OVER () (window.sql family)",
    ),
    "events_dropoff_paths": (
        1,
        "top-10 rank over the distinct-path rollup, bounded by "
        "|event_type|^3 rows",
    ),
    "text_rank_fusion": (
        3,
        "exclusive running sums over three per-value frequency rollups "
        "(|distinct signal values| rows each; the corpus-side rank is a "
        "broadcast join, never a corpus window)",
    ),
    "pipeline_token_budget_select": (
        1,
        "threshold search over the per-score token rollup (|distinct "
        "scores| rows); the boundary-score greedy sum is partitioned",
    ),
}

# Python row/arrow eval is the conformance subject matter here, not a
# hot-path accident.
PY_EVAL_OK_MODULES = {"ushas_spark.queries.udfs", "ushas_spark.queries.arrow_ext"}

# Arrow-batched Python plans (mapInPandas / applyInPandas / cogroup) are
# the slow path too -- legitimate ONLY where Python is the point:
# per-asset multimodal decoding (stdlib codecs operate on one binary
# blob at a time) and the UDF-conformance modules. Anything else must
# express its logic with built-in JVM functions.
PANDAS_EVAL_OK_MODULES = PY_EVAL_OK_MODULES | {"ushas_spark.operators.multimodal"}

# Reviewed per-query allowances: Python/Arrow eval IS the subject matter.
PANDAS_EVAL_OK_NAMES = {
    # The deliberate Arrow+numpy matmul arm of the brute-force ANN pair;
    # its JVM-expression twin (sim_brute_force_topk) is the oracle-gated
    # default, and rank agreement between the two is pinned in
    # tests/test_operators.py.
    "sim_brute_force_topk_numpy",
    # Reviewed r11 (measured): the Hilbert xy2d conversion is the case
    # the JVM-first rule carves out -- each of the 16 unrolled steps
    # references the prior step's columns ~4x, so the pure-expression
    # chain needs materialize() barriers every 4 steps (Catalyst
    # analysis + codegen method limits), i.e. 3 full-corpus write+read
    # round trips that one vectorized Arrow projection does not pay.
    # Arrow won both interleaved isolated sf0.1 pairings 1.29/1.63 s vs
    # 4.06/5.31 s, hash-identical outputs; the JVM chain is kept as the
    # bit-equality twin (_hilbert_chain_histogram) and the query stays
    # DuckDB-oracle-gated.
    "layout_hilbert_histogram",
    # Reviewed r12 (measured, OPTIMIZATION_r12.md item 11): the PCA moment
    # pass's three readouts (upper-triangle second moments, per-dim
    # sums, row count) are all exact-integer sums, so one mapInPandas
    # pass over the quantised corpus replaces three corpus scans and
    # the 2080-named_structs-per-row explode (~31M struct rows at
    # sf0.1) with <= 2145 partial rows per batch; numpy int64 matmul
    # is the identical integer arithmetic. Won both interleaved
    # isolated sf0.1 pairings 2.12/2.00 s vs 4.94/3.61, hash-identical
    # at sf0.001/0.01/0.1. The JVM explode shape is kept as the
    # bit-equality twin (_pca_jvm_power_iteration,
    # tests/test_pca_twin.py); the query stays DuckDB-oracle-gated.
    "sim_pca_power_iteration",
}

_BATCH_QUERIES = [
    name
    for name, fn in registry.QUERIES.items()
    # Streaming queries execute a real streaming job on invocation; their
    # stateful plans are audited in tests/test_streaming.py instead.
    if fn.__module__ != "ushas_spark.streaming.queries"
]


@pytest.mark.parametrize("name", sorted(_BATCH_QUERIES))
def test_no_scale_killers_in_plan(spark, sf_dir, name):
    fn = registry.QUERIES[name]
    df = fn(spark, sf_dir)

    # Driver-gate output-shape lint (VERDICT r09 "What's missing #3"):
    # the driver's pandas canonicalizer crashes on top-level
    # array/map/struct columns (the r09 expr_xpath_url_battery red row),
    # so every registered query must return atomic columns only --
    # serialize containers with array_join/to_json before returning.
    # Checked here statically (analysis only, no execution) for every
    # batch query; streaming queries get the same check at execution in
    # tests/test_oracle.py.
    from tests.oracle_harness import driver_canon_problems

    canon = driver_canon_problems(df.schema)
    assert not canon, f"{name}: " + "; ".join(canon)

    qe = df._jdf.queryExecution()

    nodes = json.loads(qe.optimizedPlan().toJSON())
    global_windows = sum(
        1
        for n in nodes
        if n["class"].endswith(".Window") and not n.get("partitionSpec")
    )
    allowed, why = GLOBAL_WINDOW_OK.get(name, (0, ""))
    assert global_windows <= allowed, (
        f"{name}: {global_windows} unpartitioned Window node(s) in the "
        f"optimized plan (allowed {allowed}{': ' + why if why else ''}). "
        "A global window funnels every row through one task at scale -- "
        "use the bucketed-rank + broadcast-offset pattern "
        "(queries/analytics.py _bucketed_rank), or add a reviewed "
        "GLOBAL_WINDOW_OK entry if the input is provably bounded."
    )

    phys = qe.sparkPlan().toString()
    assert "CartesianProduct" not in phys, (
        f"{name}: CartesianProduct in the physical plan -- an O(N*M) "
        "scale-killer; add an equi-condition or broadcast the small side."
    )

    if fn.__module__ not in PY_EVAL_OK_MODULES:
        # A reviewed PANDAS_EVAL_OK_NAMES entry covers Arrow-VECTORIZED
        # eval only (ArrowEvalPython = scalar pandas_udf); row-at-a-time
        # BatchEvalPython is never excusable by a per-query allowance.
        markers = ("BatchEvalPython",) if name in PANDAS_EVAL_OK_NAMES else (
            "BatchEvalPython",
            "ArrowEvalPython",
        )
        for marker in markers:
            assert marker not in phys, (
                f"{name}: {marker} in the physical plan outside the UDF "
                "conformance module -- Python eval in a hot path; express "
                "with built-in functions or mapInPandas."
            )

    if fn.__module__ not in PANDAS_EVAL_OK_MODULES and name not in PANDAS_EVAL_OK_NAMES:
        for marker in (
            "MapInPandas",
            "FlatMapGroupsInPandas",
            "FlatMapCoGroupsInPandas",
            "MapInArrow",
        ):
            assert marker not in phys, (
                f"{name}: {marker} in the physical plan outside the "
                "multimodal/UDF modules -- an Arrow-batched Python stage "
                "smuggled into a relational query; express the logic with "
                "built-in functions so it stays inside WholeStageCodegen."
            )
