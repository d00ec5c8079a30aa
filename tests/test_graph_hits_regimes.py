"""Regime twins for the r12 size-gated graph and dedup operators.

graph_hits_hub_authority picks its per-round join strategy by a size
gate (durability.broadcast_fits): broadcast regime (pins on groupBy keys,
explicit broadcast score side) below it, merge regime (pins on join
keys, unhinted join -- the 100 TB shape) above it. Both regimes must
produce bit-identical rows: same integer sums, same rounding points,
same top-10. The gate only changes physical strategy, never values.

The merge regime is the pre-r12 shipped formulation, so this twin also
pins the restructure against the r04-r11 driver-green evidence. PageRank,
connected components, triangles and k-core gate the same way; every
twin forces the merge regime through durability.BROADCAST_MAX_ROWS and
asserts a plan count that differs between the regimes
(tests/regime_twin.py).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.regime_twin import twin
from ushas_spark.durability import release
from ushas_spark.operators import graph


def test_regimes_bit_identical(spark, sf_dir, monkeypatch):
    broadcast, merge = twin(
        spark, monkeypatch, lambda: graph.graph_hits_hub_authority(spark, sf_dir)
    )
    assert broadcast.rows == merge.rows
    assert len(broadcast.rows) == 20  # top-10 per role, both roles present
    # Pins on the groupBy keys drop every per-round exchange (11 -> 6).
    assert broadcast.total["shuffles"] < merge.total["shuffles"], (
        broadcast.total, merge.total)


def test_pagerank_regimes_bit_identical(spark, sf_dir, monkeypatch):
    """Same gate pattern transferred to global PageRank
    (OPTIMIZATION_r12.md item 2): broadcast regime won both interleaved
    sf0.1 pairings. Personalized PageRank runs the same loop; its twin
    is in tests/test_r13_regimes.py."""
    broadcast, merge = twin(
        spark, monkeypatch, lambda: graph.graph_pagerank_top(spark, sf_dir)
    )
    assert broadcast.rows == merge.rows
    assert len(broadcast.rows) == graph.TOP_N
    # The dst pin moves the per-round groupBy exchanges into the
    # one-time pin: the rounds of the final fragment plan none.
    assert broadcast.final["shuffles"] < merge.final["shuffles"], (
        broadcast.final, merge.final)


def test_cc_regimes_bit_identical(spark, sf_dir, monkeypatch):
    """connected_components' r12 folded-broadcast regime (self-loops
    baked into a d-pinned edge list + explicit labels broadcast) must
    equal the merge loop row-for-row -- checked through BOTH the
    seeded/incremental caller and a plain dedup caller
    (OPTIMIZATION_r12.md item 3: won all four sf0.1 head-to-heads)."""
    from ushas_spark.operators import dedup

    for fn in (
        graph.graph_components_incremental,
        dedup.dedup_cluster_components,
    ):
        broadcast, merge = twin(spark, monkeypatch, lambda: fn(spark, sf_dir))
        assert broadcast.rows == merge.rows
        assert len(broadcast.rows) > 0
        # The folded loop's rounds plan no exchange; the merge loop's do.
        assert broadcast.total["shuffles"] < merge.total["shuffles"], (
            fn.__name__, broadcast.total, merge.total)


def test_triangle_regimes_bit_identical(spark, sf_dir, monkeypatch):
    """triangle_summary's r12 broadcast regime (OPTIMIZATION_r12.md
    item 7; won all three interleaved isolated sf0.1 pairings
    3.50/2.69/2.72 vs 3.95/2.77/5.79 s) must equal the r10 shuffle shape
    row-for-row. The shuffle shape is the r10-r11 driver-green
    formulation, so this twin pins the restructure against that
    evidence the same way the HITS/CC/k-core twins do."""
    broadcast, merge = twin(
        spark, monkeypatch, lambda: graph.graph_triangle_count(spark, sf_dir)
    )
    assert broadcast.rows == merge.rows
    assert len(broadcast.rows) == 1  # one-row summary
    assert broadcast.total["smj"] == 0 < merge.total["smj"], (
        broadcast.total, merge.total)


def test_triangle_broadcast_plan_no_smj(spark, sf_dir):
    """Win condition of the triangle broadcast regime: the degree
    orientation and the closing intersection all join as broadcast
    BHJs -- no sort-merge join anywhere, and the E-row array-carrying
    exchange on t is gone (summed shuffles 8 -> 6). Audited via the
    same tree-walk counter PLANS.md uses."""
    from ushas_spark import durability

    with durability.segments() as segments:
        df = graph.graph_triangle_count(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    release(spark)
    totals = durability.plan_totals(segments)
    assert totals["smj"] == 0, totals
    assert totals["bhj"] >= 3, totals
    assert totals["shuffles"] <= 6, totals


def test_kcore_regimes_bit_identical(spark, sf_dir, monkeypatch):
    """k-core's r12 broadcast-anti peel regime (OPTIMIZATION_r12.md
    item 4; won both interleaved isolated sf0.1 pairings 4.96/4.69 vs
    5.86/5.69 s) must equal the r11 semi-join merge shape row-for-row.
    The merge shape is the r11 driver-green formulation, so this twin
    pins the restructure against that evidence the same way the HITS
    twin does."""
    broadcast, merge = twin(
        spark, monkeypatch, lambda: graph.graph_kcore_summary(spark, sf_dir)
    )
    assert broadcast.rows == merge.rows
    assert len(broadcast.rows) == 1  # one-row core summary
    assert broadcast.total["smj"] == 0 < merge.total["smj"], (
        broadcast.total, merge.total)


def test_kcore_broadcast_rounds_plan_one_exchange_no_smj(spark, sf_dir):
    """Win condition of the kcore broadcast regime: every peel round
    plans exactly one (groupBy) hash exchange, a broadcast anti BHJ,
    and no sort-merge join -- vs the merge shape's two exchanges + semi
    SMJ. Audited via the same tree-walk counter PLANS.md uses."""
    from ushas_spark import durability

    with durability.segments() as segments:
        df = graph.graph_kcore_summary(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    release(spark)
    round_segs = segments[-graph.KCORE_ROUNDS:]
    assert len(round_segs) == graph.KCORE_ROUNDS
    for seg in round_segs:
        assert seg.counts["shuffles"] == 1, seg.counts
        assert seg.counts["smj"] == 0, seg.counts
        assert seg.counts["bhj"] == 1, seg.counts


def test_small_v_regime_plans_zero_round_exchanges(spark, sf_dir):
    """The broadcast regime's win condition: each half-round segment
    (score join + groupBy over the groupBy-key-pinned pairs) plans no
    hash exchange at all -- the explicit broadcast plus co-partitioned
    partial agg finish in place. Segments audited via the same
    tree-walk counter PLANS.md uses."""
    from ushas_spark import durability

    with durability.segments() as segments:
        df = graph.graph_hits_hub_authority(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    release(spark)
    # Round segments = the checkpoint segments. The FIRST round segment
    # carries the one-time initial-hubs distinct (one |V|-row exchange);
    # every later round segment must plan zero.
    round_segs = [s for s in segments if s.kind == "checkpoint"]
    assert len(round_segs) == 2 * graph.HITS_ITERS
    assert round_segs[0].counts["shuffles"] <= 1
    for seg in round_segs[1:]:
        assert seg.counts["shuffles"] == 0, seg.counts
