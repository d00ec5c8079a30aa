"""Capture .explain("formatted") for a list of registered queries.

Writes <out>/<query>_<suffix>.txt for each query: the FINAL fragment's
formatted plan plus, for iterative/materialized operators, every
truncated segment's pre-execution plan (recorded by
durability.segments() -- the final fragment of a pinned loop
shows only the top-k over caches, so the segments are where the
restructures are visible: see PLANS.md header).

Run from the tree whose plans you want (the repo root for "after", a
`git archive` copy of the parent commit for "before"):

    SPARK_GRAFT_SF_DIR=<sf dir> python tools/dump_plans.py after \
        --out plans/<name> --queries graph_hits_hub_authority,...

Uses a PLAIN SparkSession (driver contract) at SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.getcwd())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("suffix", choices=["before", "after"])
    ap.add_argument("--out", required=True)
    ap.add_argument("--queries", required=True, help="comma-separated names")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        ap.error("set SPARK_GRAFT_SF_DIR to the scale-factor directory")
    os.makedirs(args.out, exist_ok=True)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .appName("dump_plans")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from ushas_spark import durability

    qs = entry.queries()
    for name in args.queries.split(","):
        name = name.strip()
        if not name:
            continue
        print(f"== {name}", flush=True)
        spark.sparkContext.setJobDescription(f"dump_plans {name} ({args.suffix})")
        with durability.segments() as segs:
            df = qs[name](spark, sf_dir)
        qe = df._jdf.queryExecution()
        formatted = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
        final_counts = durability.plan_counts(qe.executedPlan())
        total = durability.plan_totals(segs, df)
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(
                f"# {name} -- {args.suffix} (sf_dir={sf_dir})\n"
                f"# Final-fragment .explain('formatted'); for materialized\n"
                f"# (iterative) operators the {len(segs)} truncated segment\n"
                f"# plans follow -- the final fragment of a pinned loop only\n"
                f"# shows the tail over InMemoryTableScans.\n"
                f"#\n"
                f"# NOTE on counting: cached relations PRINT their stored\n"
                f"# plan (incl. the one-time cache-population exchange)\n"
                f"# inside every plan string that scans them, so a text\n"
                f"# grep for 'Exchange' over this file OVERCOUNTS what\n"
                f"# executes. The honest numbers below are real plan-TREE\n"
                f"# traversals (durability.plan_counts stops at\n"
                f"# InMemoryTableScan), the same counter PLANS.md uses.\n"
                f"#\n"
                f"# AUDITED TOTALS (final fragment + all segments):\n"
                f"#   {total}\n"
                f"# final fragment: {final_counts}\n"
            )
            for i, seg in enumerate(segs):
                f.write(f"# segment {i + 1}: {seg.counts}\n")
            f.write("\n")
            f.write(formatted)
            for i, seg in enumerate(segs):
                f.write(
                    f"\n\n==== materialized segment {i + 1}/{len(segs)}"
                    f" (pre-execution physical plan;"
                    f" tree counts {seg.counts}) ====\n"
                )
                f.write(seg.pre)
        durability.release(spark)
        print(f"   wrote {path} ({len(segs)} segments)", flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
