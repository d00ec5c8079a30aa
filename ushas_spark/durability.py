"""Plan-truncation durability policy for iterative operators.

Iterative DataFrame algorithms (label-propagation connected components,
LSH signature reuse, inverted-index materialization) must truncate the
logical plan every round or the driver dies re-optimizing a plan that
doubles per iteration. Two ways to truncate:

- ``localCheckpoint(eager=True)`` (the default): blocks live on executor
  local storage. Fast -- no DFS write -- and correct on a healthy
  cluster, but executor-LOCAL: lose an executor (preemptible/spot nodes,
  OOM kills) and the blocks are gone AND unrecomputable, failing the job.
  Fine on local[N]; a liability for long 100 TB jobs on flaky fleets.
- reliable ``checkpoint(eager=True)``: writes to the session checkpoint
  directory (HDFS/S3 on a cluster). One extra DFS round-trip per
  iteration buys full executor-loss tolerance -- the same resilience the
  reference gets from shuffle-stage recomputation
  (reference: core/src/main/scala/org/apache/spark/rdd/RDD.scala
  ``checkpoint`` vs ``localCheckpoint`` docs).

Toggle per-session with :func:`set_reliable` (or the
``USHAS_RELIABLE_CHECKPOINT=1`` env var, read at import): the iterative
operators all route through :func:`materialize`, so one switch moves
every truncation point. Default stays local -- identical plans and
timings to previous rounds on local[32].
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_RELIABLE = os.environ.get("USHAS_RELIABLE_CHECKPOINT", "") in ("1", "true")

# Plan-audit hook: when active, every materialize() records the plan of
# the segment it truncates. Without this, a plan auditor that inspects
# only the query's FINAL DataFrame is blind to the upstream stages --
# e.g. sim_mmr_rerank's audited fragment showed "1 shuffle" while the
# query actually runs 5+ materialized jobs (r05 verdict, "what's wrong"
# item 3). tools/gen_plans_md.py wraps query construction in
# begin/end_plan_audit and sums metrics across all segments.
_AUDIT: list[dict] | None = None


def begin_plan_audit() -> None:
    global _AUDIT
    _AUDIT = []


def end_plan_audit() -> list[dict]:
    """Return the segment plans recorded since begin_plan_audit().

    Each entry: {"pre": pre-execution physical plan string,
    "post": post-execution (AQE-finalized) plan string,
    "opt": optimized-logical-plan node list (toJSON),
    "counts": plan_counts of the pre-execution plan}."""
    global _AUDIT
    out = _AUDIT if _AUDIT is not None else []
    _AUDIT = None
    return out


# The one broadcast budget of every size-gated regime (HITS, PageRank,
# personalized PageRank, random walks, triangles, k-core, connected
# components). Below it a gate takes its broadcast regime: an explicit
# F.broadcast of a table bounded by the counted rows (10M rows of a few
# bigints is ~80-160 MB, far above every test SF and under typical
# broadcast limits). Past it -- |V| or |E| grows linearly with the
# corpus at 100 TB -- the gate takes its merge regime, the pinned
# sort-merge shape. Tests force the merge regime everywhere with
# monkeypatch.setattr(durability, "BROADCAST_MAX_ROWS", 0).
BROADCAST_MAX_ROWS = 10_000_000


def broadcast_fits(df: DataFrame) -> bool:
    """True when ``df``'s row count is within :data:`BROADCAST_MAX_ROWS`.

    Runs one count job; callers pass either a parquet table (a metadata
    count) or a just-materialized frame (a scan of cached blocks). The
    budget is read at call time, so patching the module global moves
    every gate."""
    return df.count() <= BROADCAST_MAX_ROWS


def set_reliable(on: bool) -> None:
    """Switch every subsequent :func:`materialize` call between
    executor-local (fast, not fault-tolerant) and reliable (checkpoint
    dir, executor-loss tolerant) truncation."""
    global _RELIABLE
    _RELIABLE = on


def plan_counts(jplan) -> dict[str, int]:
    """Structure metrics via REAL plan-tree traversal (not text parse).

    Cached relations print their stored plan inside the plan STRING
    (with de-indenting ``== Final Plan ==`` sections that defeat
    indent-based stripping), so text-regex counting charges a pinned
    query for exchanges that executed once at cache-population time and
    never again. ``InMemoryTableScan`` has NO children in the physical
    tree, so walking nodes counts exactly what THIS plan executes.
    Verified to match the legacy text counts node-for-node on
    non-cached queries (q1/q3/window_topk/text_collocations), so
    cross-round PLANS.md comparability holds everywhere except the
    pinned loops the change exists to measure honestly.

    ``ReusedExchange`` is counted in its own bucket, NOT under
    ``shuffles``: a reused exchange executes zero additional shuffles
    (it reads the twin's shuffle files), so charging it would overcount
    actual network. With AQE on (every PLANS.md row), pre-execution
    plans contain no ReusedExchange at all -- reuse happens at runtime
    via stage dedup (probe-verified r09: graph_kcore_summary's twin
    semi-join builds show reused=0 in all 8 segments), so pre-r08 text
    counts and tree counts agree even on reuse-bearing plans. The
    bucket matters for AQE-OFF plans, where planning inserts the node:
    tests/test_plans.py::test_plan_counts_text_parity_with_reuse pins
    tree_shuffles + reused == legacy_text_count there.
    """
    c = {
        "shuffles": 0, "broadcasts": 0, "smj": 0, "bhj": 0, "bnlj": 0,
        "reused": 0,
    }

    def walk(node) -> None:
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(node.initialPlan())
            return
        if name.startswith("ReusedExchange"):
            # Count only SHUFFLE-exchange reuse (the bucket's documented
            # semantics and the text-parity relation): ReusedExchange
            # also wraps BroadcastExchange twins, whose line the legacy
            # regex never matched.
            s = node.verboseString(1)
            if "hashpartitioning" in s or "rangepartitioning" in s:
                c["reused"] += 1
            # Do not descend: the child is the twin's already-counted
            # subtree; it executes once, there.
            return
        if name.startswith("Exchange"):
            s = node.verboseString(1)
            if "hashpartitioning" in s or "rangepartitioning" in s:
                c["shuffles"] += 1
        elif name == "BroadcastExchange":
            c["broadcasts"] += 1
        elif name == "SortMergeJoin":
            c["smj"] += 1
        elif name == "BroadcastHashJoin":
            c["bhj"] += 1
        elif "BroadcastNestedLoop" in name:
            c["bnlj"] += 1
        for i in range(node.children().size()):
            walk(node.children().apply(i))
        it = node.subqueries().iterator()
        while it.hasNext():
            walk(it.next())

    walk(jplan)
    return c


def _audit_segment(df: DataFrame) -> Callable[[bool], None]:
    """Capture ``df``'s pre-execution plan for the active plan audit.

    Returns ``record(post)``, to call once the segment has run: it appends
    the audit entry, with the AQE-finalized plan of the same query
    execution as ``"post"`` when ``post`` is true and None otherwise. A
    no-op when no audit is active."""
    if _AUDIT is None:
        return lambda post: None
    qe = df._jdf.queryExecution()
    pre = qe.executedPlan().toString()
    counts = plan_counts(qe.executedPlan())
    opt = qe.optimizedPlan().toJSON()

    def record(post: bool) -> None:
        _AUDIT.append(
            {
                "pre": pre,
                "post": qe.executedPlan().toString() if post else None,
                "opt": opt,
                "counts": counts,
            }
        )

    return record


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and TRUNCATE its logical plan.

    Local mode: ``localCheckpoint``. Reliable mode: ``checkpoint`` to the
    session's checkpoint dir (auto-set to a temp dir if the session has
    none -- on a real cluster, point it at DFS via
    ``spark.sparkContext.setCheckpointDir("hdfs://...")`` first).
    """
    record = _audit_segment(df)
    if not _RELIABLE:
        out = df.localCheckpoint(eager=eager)
    else:
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            sc.setCheckpointDir(tempfile.mkdtemp(prefix="ushas_ckpt_"))
        out = df.checkpoint(eager=eager)
    record(post=True)
    return out


def pin_partitioned(df: DataFrame, *keys: str) -> DataFrame:
    """Cache ``df`` hash-partitioned (and sorted) on ``keys`` for reuse
    as the LOOP-INVARIANT side of iterative joins.

    ``materialize`` truncates lineage but LOSES outputPartitioning --
    ``LogicalRDD`` from (local)checkpoint reports unknown partitioning,
    so a loop that joins a checkpointed edge table every round
    re-shuffles the BIG side each iteration (probe-verified on this
    Spark build: both sides of a join of checkpointed pre-partitioned
    tables exchange). ``InMemoryRelation`` (``persist``) DOES preserve
    its child's outputPartitioning and outputOrdering, so pinning =
    repartition(keys) + sortWithinPartitions(keys) + persist gives
    every subsequent join/groupBy on ``keys`` an exchange-free AND
    sort-free big side -- the in-session equivalent of a bucketed
    table, which is exactly what a 100 TB deployment would make this:
    write the edge list bucketed+sorted by the join key once, and every
    per-round join reads it co-located (rounds x |E| network becomes
    |E| + rounds x |V|).

    Storage: MEMORY_AND_DISK (Spark default) -- spills, never OOMs; on
    executor loss the cached partition recomputes from lineage (unlike
    localCheckpoint, which fails the job). The one-time repartition is
    recorded as a plan-audit segment like materialize, so PLANS.md
    still charges the pin's shuffle to the query.
    """
    pinned = df.repartition(*[F.col(k) for k in keys]).sortWithinPartitions(
        *[F.col(k) for k in keys]
    )
    record = _audit_segment(pinned)
    pinned = pinned.persist()
    pinned.count()  # eager: populate before the loop references it twice
    # Cache population executes INSIDE the count()'s InMemoryTableScan,
    # not through the audited qe, so no AQE-finalized plan of the
    # population exists anywhere we can reach -- unlike materialize, whose
    # eager checkpoint executes through the same qe. Record post=None so
    # consumers (tools/gen_plans_md.py) fall back to the pre plan for
    # text-derived columns instead of silently reading an un-executed
    # "post" that is byte-identical to pre.
    record(post=False)
    return pinned
