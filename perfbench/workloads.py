"""Frozen workload definitions: which registered queries each workload runs.

The lists are frozen here, not read from ``bench.py``, so later edits to the
repository's own bench cannot change a workload. perfbench/README.md gives
the reason for each workload and how its queries were chosen.
"""

from __future__ import annotations

# Scan / aggregate / join / window plans from ``queries.*`` with no
# durability segment. The control: it never enters an iteration loop.
RELATIONAL = (
    "q1_pricing_summary",
    "q10_returned_items",
    "events_retention_cohorts",
)

# Iterative operators with two or more durability segments: driver-side
# build, materialization and per-job overhead dominate. The image-dedup
# clusters run connected components over a pin_partitioned edge list.
ITERATIVE = (
    "events_skyline_frontier",
    "cluster_kmeans_stats",
    "multimodal_image_dedup_clusters",
)

WORKLOADS = {
    "relational": RELATIONAL,
    "iterative": ITERATIVE,
}

# lineage(df) calls per query and pass: each call does the same work, and
# four give the lineage latencies enough samples for a tail.
LINEAGE_CALLS_PER_OP = 4

# Seconds of --seconds one timed pass of each workload is charged. An
# untraced run makes ceil(--seconds / PASS_BUDGET_S[workload]) passes (4 on
# relational and 2 on iterative at --seconds 12): a fixed count, so every run
# of a workload takes the same number of samples. A run then takes about
# 40 s (relational) and 60 s (iterative) on the reference host (4 cores);
# see README.md.
PASS_BUDGET_S = {
    "relational": 3.0,
    "iterative": 8.0,
}
