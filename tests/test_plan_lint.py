"""Scale-killer plan lint for EVERY registered query, and its allowances.

This makes the PLANS.md discipline self-enforcing as the registry grows:
a new query that introduces (a) an unpartitioned Window over unbounded
input, (b) a CartesianProduct, or (c) a Python eval outside the
UDF-conformance modules fails the build, before it ever reaches a
benchmark or the driver gate. ``tests/test_oracle.py`` runs
:func:`scale_killer_problems` on its one build of each registered query,
streaming ones included, over the final plan AND every segment that
``durability.segments()`` recorded: an iterative operator's
``materialize``/``pin_partitioned`` calls cut its plan, and a lint of
the final plan alone would be blind to every upstream segment. It keeps
each result in :data:`LINTED`, and ``test_no_scale_killers_in_plan``
reports that result under the query's own name, building the query
itself only when ``test_oracle`` did not run in the session.

Global windows are only acceptable over PROVABLY BOUNDED inputs (a
|buckets|-row offset table, a |months| calendar rollup, a LIMITed
top-k); each allowance below is reviewed and justified by name, with its
exact count. A new query that needs one must be added here with its
justification -- that review step is the point.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ushas_spark import durability, registry

registry.load_all()

# name -> (exact unpartitioned logical Window nodes across the final plan
# and every segment, reviewed justification)
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


# name -> scale_killer_problems of this session's one build of the query
LINTED: dict[str, list[str]] = {}


def scale_killer_problems(
    name: str, module: str, df, segs: list[durability.Segment]
) -> list[str]:
    """Scale-killers in ``df``'s final plan and in ``segs``, the segments
    recorded while it was built (empty == pass). ``module`` is the
    registered function's module, which the Python-eval allowances name.
    Global windows are read from the optimized logical plans, the other
    markers from the physical ones."""
    qe = df._jdf.queryExecution()
    problems = []
    windows = durability.global_windows(qe.optimizedPlan().toJSON()) + sum(
        durability.global_windows(s.opt) for s in segs
    )
    allowed, why = GLOBAL_WINDOW_OK.get(name, (0, ""))
    if windows != allowed:
        problems.append(
            f"{name}: {windows} unpartitioned Window node(s) across the "
            f"final plan and {len(segs)} segment(s), reviewed count {allowed}"
            f"{': ' + why if why else ''}. A global window funnels every "
            "row through one task at scale -- use the bucketed-rank + "
            "broadcast-offset pattern (queries/analytics.py "
            "_bucketed_rank), or review the GLOBAL_WINDOW_OK entry if the "
            "input is provably bounded."
        )

    markers = {
        "CartesianProduct": "an O(N*M) scale-killer; add an equi-condition "
        "or broadcast the small side"
    }
    if module not in PY_EVAL_OK_MODULES:
        # A reviewed PANDAS_EVAL_OK_NAMES entry covers Arrow-VECTORIZED
        # eval only (ArrowEvalPython = scalar pandas_udf); row-at-a-time
        # BatchEvalPython is never excusable by a per-query allowance.
        hot = (
            "Python eval in a hot path outside the UDF conformance module; "
            "express with built-in functions or mapInPandas"
        )
        markers["BatchEvalPython"] = hot
        if name not in PANDAS_EVAL_OK_NAMES:
            markers["ArrowEvalPython"] = hot
    if module not in PANDAS_EVAL_OK_MODULES and name not in PANDAS_EVAL_OK_NAMES:
        for marker in (
            "MapInPandas",
            "FlatMapGroupsInPandas",
            "FlatMapCoGroupsInPandas",
            "MapInArrow",
        ):
            markers[marker] = (
                "an Arrow-batched Python stage outside the multimodal/UDF "
                "modules; express the logic with built-in functions so it "
                "stays inside WholeStageCodegen"
            )
    plans = {"final plan": qe.sparkPlan().toString()}
    plans.update((f"segment {i} ({s.kind})", s.pre) for i, s in enumerate(segs))
    for marker, reason in markers.items():
        problems += [
            f"{name}: {marker} in the {where} -- {reason}"
            for where, plan in plans.items()
            if marker in plan
        ]
    return problems


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_no_scale_killers_in_plan(spark, sf_dir, name):
    if name not in LINTED:
        fn = registry.QUERIES[name]
        with durability.segments() as segs:
            df = fn(spark, sf_dir)
        LINTED[name] = scale_killer_problems(name, fn.__module__, df, segs)
    assert not LINTED[name], "; ".join(LINTED[name])


def test_allowances_name_registered_queries():
    stale = (set(GLOBAL_WINDOW_OK) | PANDAS_EVAL_OK_NAMES) - set(registry.QUERIES)
    assert not stale, f"allowances for unregistered queries: {sorted(stale)}"


def test_lint_reads_segments_not_only_the_final_plan(spark):
    """A global window cut off by ``materialize`` is invisible in the
    final plan; the lint still finds it in the recorded segment."""
    with durability.segments() as segs:
        ranked = durability.materialize(
            spark.range(20).withColumn("r", F.row_number().over(Window.orderBy("id")))
        )
        df = ranked.filter("r > 2")
    final = df._jdf.queryExecution().optimizedPlan().toJSON()
    assert durability.global_windows(final) == 0
    assert [s.kind for s in segs] == ["checkpoint"]
    problems = scale_killer_problems("lint_probe", __name__, df, segs)
    assert len(problems) == 1 and "1 unpartitioned Window" in problems[0], problems
