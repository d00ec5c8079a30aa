"""Run every registered query against its DuckDB oracle (driver-gate replica)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests import lineage_digest
from tests.oracle_harness import driver_canon_problems, run_pair
from ushas_spark.lineage import lineage

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()
DIGESTS = lineage_digest.load()

# Queries where an empty result is legitimate at some scale factor.
EMPTY_OK: set[str] = set()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    # One build serves both checks: the pinned lineage digest
    # (tests/lineage_digest.py), then the result against the oracle.
    df = QUERIES[name](spark, sf_dir)
    graph = lineage(df)
    assert lineage_digest.digest(graph) == DIGESTS[name], (
        f"{name}: lineage changed: {graph.edges()}"
    )
    if name not in ORACLES:
        # rows-only queries: assert they execute, return a stable schema,
        # and that the driver's rows-only canonicalizer can hash the
        # output (atomic top-level columns only -- the r09 xpath red row).
        assert df.columns
        canon = driver_canon_problems(df.schema)
        assert not canon, f"{name}: " + "; ".join(canon)
        assert df.count() >= 0
        return
    problems = run_pair(
        spark, sf_dir, lambda s, d: df, ORACLES[name], allow_empty=name in EMPTY_OK
    )
    assert not problems, f"{name}: " + "; ".join(problems)
