"""Regime twins + plan pins for the r13 restructures.

Three restructures (OPTIMIZATION_r13.md items 1-3, all winners of 4/4
interleaved isolated sf0.1 pairings, hash-identical at three SFs):

- graph_random_walks: size-gated adjacency regime -- array-packed
  per-src neighbor lists + explicit broadcast of the walk table per hop
  + in-row argmin; the merge regime (r10 driver-green shape) runs
  byte-unchanged past durability.BROADCAST_MAX_ROWS.
- graph_personalized_pagerank: graph.pagerank with a seed cap, so the
  seed membership join is the provable ``node < PPR_SEED_CAP``
  predicate in both regimes; the gate flips the same pins and ranks
  broadcast as global PageRank. One loop serves both queries, so a
  cap above every node id must reproduce global PageRank exactly.
- pipeline_bloom_prefilter: gram table materialized once (was evaluated
  3x), probe-side bit explode + (doc_id, ng) min-agg replaced by
  BLOOM_HASHES broadcast word joins + in-row AND; no regime gate (every
  broadcast is constant-size or pre-existing).

The twins (tests/regime_twin.py) prove the gate only changes physical
strategy, never values, and that forcing the budget to 0 really flips
the regime; the plan pins prove the shape the restructure bought, via the same
tree-walk counter PLANS.md uses (never text grep -- cached relations
re-print their stored plans).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.regime_twin import twin
from ushas_spark import durability
from ushas_spark.durability import plan_counts, release
from ushas_spark.operators import graph


def _counts(df):
    return plan_counts(df._jdf.queryExecution().executedPlan())


def test_walks_regimes_bit_identical(spark, sf_dir, monkeypatch):
    adjacency, merge = twin(  # every test SF is small-V
        spark, monkeypatch, lambda: graph.graph_random_walks(spark, sf_dir)
    )
    assert adjacency.rows == merge.rows
    assert len(adjacency.rows) > 0
    assert len(adjacency.rows[0]) == graph.WALK_LEN + 1  # n0..n{len}
    # The in-row argmin drops the per-hop groupBy(walker) exchanges.
    assert adjacency.total["shuffles"] < merge.total["shuffles"], (
        adjacency.total, merge.total)


def test_walks_adjacency_plan_no_smj_one_exchange(spark, sf_dir):
    """Small-V final fragment: one BHJ per hop against the checkpointed
    adjacency, zero SMJ, and the only planned exchange is the final
    orderBy (the per-hop groupBy(walker) argmin exchanges are gone)."""
    counts = _counts(graph.graph_random_walks(spark, sf_dir))
    release(spark)
    assert counts["smj"] == 0, counts
    assert counts["bhj"] == graph.WALK_LEN, counts
    assert counts["shuffles"] == 1, counts


def test_ppr_regimes_bit_identical(spark, sf_dir, monkeypatch):
    broadcast, merge = twin(
        spark,
        monkeypatch,
        lambda: graph.graph_personalized_pagerank(spark, sf_dir),
    )
    assert broadcast.rows == merge.rows
    assert 0 < len(broadcast.rows) <= graph.TOP_N
    # Dst-pinned edges + broadcast ranks: the rounds plan no exchange.
    assert broadcast.final["shuffles"] < merge.final["shuffles"], (
        broadcast.final, merge.final)


def test_ppr_broadcast_plan_no_smj_rounds_exchange_free(spark, sf_dir):
    """Small-V final fragment: the ITERS nested rounds plan zero
    exchanges (dst-pinned edges + explicit ranks broadcast; the seed
    membership is a WHEN predicate, not a join) -- only the top-N sort
    exchange remains, and no SMJ anywhere."""
    counts = _counts(graph.graph_personalized_pagerank(spark, sf_dir))
    release(spark)
    assert counts["smj"] == 0, counts
    assert counts["shuffles"] <= 1, counts


def test_pagerank_seed_cap_above_every_node_is_global(spark, sf_dir, monkeypatch):
    """With every node below the cap the teleport set is all of V, so
    the seeded loop must return global PageRank's rows exactly -- at the
    shipped budget and in the merge regime. Pins the teleport algebra
    of the one loop without the oracle."""
    every_node = 1 << 62  # node ids are custkeys and suppkey + 1e9

    def rows(df):
        out = sorted(tuple(r) for r in df.collect())
        release(spark)
        return out

    for budget in (durability.BROADCAST_MAX_ROWS, 0):
        with monkeypatch.context() as m:
            m.setattr(durability, "BROADCAST_MAX_ROWS", budget)
            plain = rows(graph.pagerank(spark, sf_dir))
            seeded = rows(graph.pagerank(spark, sf_dir, seed_cap=every_node))
        assert seeded == plain, budget
        assert len(plain) > graph.TOP_N


def test_bloom_single_documents_scan_and_four_shuffles(spark, sf_dir):
    """The gram table is materialized once (pre-r13: the documents scan
    + 3-gram explode + two md5 hashes ran 3x), the words table once
    (BLOOM_HASHES broadcast instances would otherwise each re-plan the
    build), and the probe side plans no explode/min-agg exchange:
    audited totals are 4 shuffles (words build; truth distinct; final
    per-doc agg; orderBy), zero SMJ."""
    from ushas_spark.operators.pipeline import pipeline_bloom_prefilter

    with durability.segments() as segments:
        df = pipeline_bloom_prefilter(spark, sf_dir)
    total = durability.plan_totals(segments, df)
    plans = [seg.pre for seg in segments] + [
        df._jdf.queryExecution().executedPlan().toString()
    ]
    release(spark)
    scans = sum("documents" in p for p in plans)
    assert scans == 1, f"{scans} plans scan the documents parquet"
    assert total["shuffles"] == 4, total
    assert total["smj"] == 0, total
