"""Regenerate PLANS.md: physical-plan audit of every bench headline query.

Structure metrics (exchanges, join strategies, pushdown) are read from
the pre-execution physical plan -- the honest operator-count view; the
AQE-finalized plan after execution duplicates exchange nodes in its
string form. Codegen spans and AQE shuffle coalescing are read from the
finalized plan (they only exist after execution).

Materialized queries (iterative operators that truncate lineage via
ushas_spark.durability.materialize) run SEVERAL jobs: the final
DataFrame's plan is only the last fragment. The durability.segments()
recorder captures every truncated segment's plan during query
construction, and the table below sums metrics across ALL
segments plus the final fragment -- previously sim_mmr_rerank read
"1 shuffle" when it really runs 5+ materialized jobs (r05 verdict).

Run: python tools/gen_plans_md.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
_CODEGEN_RE = r"\*\((\d+)\)"

HEADER = """# PLANS — physical-plan audit of the bench headline queries

Generated by `tools/gen_plans_md.py` at sf=%(sf)s (structure is
SF-independent). Columns:

- **segs** — materialized plan segments: 1 = a single job; N>1 means
  the query truncates lineage N-1 times (iterative operators), and all
  other columns are SUMS across every segment plus the final fragment.
- **shuffles** — hash/range-partitioning Exchange nodes in the
  pre-execution plan, counted by real tree traversal (AQE may coalesce
  partitions at runtime, never add exchanges). Tree traversal (r08)
  stops at `InMemoryTableScan`, so a `pin_partitioned` cache's one-time
  population shuffle is charged once (its own audit segment), not once
  per round that reads it; on non-cached plans the counts are
  node-identical to the pre-r08 text-regex numbers.
- **broadcast / SMJ / BHJ / BNLJ** — join strategies chosen. BNLJ rows
  here are all tiny-build-side broadcasts (K-row centroid/stat tables
  joined with non-equi or cross semantics), not quadratic scans.
- **codegen spans** — distinct WholeStageCodegen regions in the
  finalized plan; the JVM-side pipelines every row flows through.
  (Text-derived: segments of pinned queries re-print the cache's
  stored spans, so those rows read slightly high.)
- **pushdown** — non-empty `PushedFilters` on a parquet scan.
- **AQE coalesce** — runtime shuffle-partition coalescing engaged.
- **global window** — unpartitioned logical Window nodes. Non-zero
  entries are the reviewed bounded-input allowances enforced by
  `tests/test_plan_lint.py` (bucket-offset tables, |months| rollups,
  LIMITed top-k); anything else fails the build there.

Design notes the table supports: every dimension-sized join broadcasts
(BHJ, zero SMJ in the TPC-H tier at this SF); iterative operators
(connected components, k-means, PageRank, HITS, BFS, random walks)
bound their per-round shuffle to label/centroid/rank cells -- the
|E|-row side is pinned partitioned+sorted on the join key
(durability.pin_partitioned) so rounds never re-shuffle or re-sort it;
no query plans a cartesian product or a row-at-a-time Python UDF.

"""


def main() -> None:
    from ushas_spark.session import get_spark
    from ushas_spark import registry
    from ushas_spark import durability
    import bench

    registry.load_all()
    spark = get_spark("plans-md", shuffle_partitions=32)
    lines = [
        "| query | segs | shuffles | broadcasts | SMJ | BHJ | BNLJ |"
        " codegen spans | pushdown | AQE coalesce | global window |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name in bench.HEADLINE:
        if name not in registry.QUERIES:
            continue
        with durability.segments() as segments:
            df = registry.QUERIES[name](spark, SF_DIR)
        gwin = durability.global_windows(df._jdf.queryExecution().optimizedPlan().toJSON())
        pre = df._jdf.queryExecution().executedPlan().toString()
        df.collect()
        post = df._jdf.queryExecution().executedPlan().toString()
        pres = [s.pre for s in segments] + [pre]
        # pin_partitioned segments have NO executed post plan (population
        # runs inside the cache build, unreachable from any qe) -- fall
        # back to pre for the text-derived columns (codegen markers are
        # planning-time artifacts, present in pre too; AQEShuffleRead can
        # only under-report for those segments, never invent).
        posts = [s.post or s.pre for s in segments] + [post]
        gwin += sum(durability.global_windows(s.opt) for s in segments)
        # Structure metrics come from REAL plan-tree traversal
        # (durability.plan_counts, recorded per segment at capture
        # time): cached relations print their stored plan inside the
        # plan STRING, so text-regex counting charges pin_partitioned
        # queries for exchanges that executed once at cache population
        # and never again. Tree counts match the legacy text counts
        # node-for-node on non-cached plans (probe-verified r08), so
        # cross-round comparability holds for every pre-r08 row.
        tot = durability.plan_totals(segments, df)
        codegen = sum(len(set(re.findall(_CODEGEN_RE, p))) for p in posts)
        pushdown = any(
            "PushedFilters" in p and "PushedFilters: []" not in p for p in pres
        )
        lines.append(
            f"| `{name}` | {len(pres)} | {tot['shuffles']} |"
            f" {tot['broadcasts']} |"
            f" {tot['smj']} |"
            f" {tot['bhj']} |"
            f" {tot['bnlj']} |"
            f" {codegen} |"
            f" {'yes' if pushdown else '—'} |"
            f" {'yes' if any('AQEShuffleRead' in p for p in posts) else '—'} |"
            f" {gwin if gwin else '—'} |"
        )
        durability.release(spark)
    out = HEADER % {"sf": SF_DIR.rsplit("sf", 1)[-1]} + "\n".join(lines) + "\n"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write(out)
    print("wrote PLANS.md,", len(lines) - 2, "queries")
    spark.stop()


if __name__ == "__main__":
    main()
