"""Run every registered query against its DuckDB oracle (driver-gate replica)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests import lineage_digest
from tests.oracle_harness import driver_canon_problems, run_pair
from tests.test_plan_lint import LINTED, scale_killer_problems
from ushas_spark import durability
from ushas_spark.lineage import lineage

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()
DIGESTS = lineage_digest.load()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    # One build serves every check, in order: the driver's output-shape
    # rule, the scale-killer lint over the final plan and every recorded
    # segment, the pinned lineage digest (tests/lineage_digest.py), then
    # the result against the oracle.
    fn = QUERIES[name]
    with durability.segments() as segs:
        df = fn(spark, sf_dir)
    canon = driver_canon_problems(df.schema)
    assert not canon, f"{name}: " + "; ".join(canon)
    killers = LINTED[name] = scale_killer_problems(name, fn.__module__, df, segs)
    assert not killers, "; ".join(killers)
    graph = lineage(df)
    assert lineage_digest.digest(graph) == DIGESTS[name], (
        f"{name}: lineage changed: {graph.edges()}"
    )
    if name not in ORACLES:
        # rows-only queries: assert they execute and return a stable schema.
        assert df.columns
        assert df.count() >= 0
        return
    problems = run_pair(spark, sf_dir, lambda s, d: df, ORACLES[name])
    assert not problems, f"{name}: " + "; ".join(problems)
