"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ..., "loadavg_start": [...],
"loadavg_end": [...], "cpu_steal_pct": ...}. Methodology follows the
reference's TPCDSQueryBenchmark (reference: sql/core/src/test/scala/org/
apache/spark/sql/execution/benchmark/TPCDSQueryBenchmark.scala:48-83):
warm JVM, best-of-N wall time per query, full pipeline execution (every
row computed into the noop sink, no driver-side result transfer).

One run is:
  1. one untimed warm pass over the whole list (JIT of shared kernels);
  2. per query: one untimed warm-up, then best-of-3 timed runs, each
     followed by a blocking storage release outside the timed region;
  3. one JSON line on stdout (at most 1800 chars: the slowest 15
     queries plus "n" and "detail" when the full map does not fit).
A full sweep also writes the complete record to BENCH_DETAIL.json and
BENCH_DETAIL_rNN.json; a USHAS_BENCH_QUERIES subset writes no file.

Environment: SPARK_GRAFT_SF_DIR (the scale-factor directory, sf0.1 by
default) and USHAS_BENCH_QUERIES (a comma-separated subset of registry
names). Nothing else is read.

The loadavg and steal fields are a note on the window, not a verdict.
Sweep walls on a shared VM drift 1.2-1.5x between windows on identical
plans, so compare rounds on PLANS.md structure and on perfbench's
same-window alternating pairs, not on sweep walls.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ushas_spark import durability, registry
from ushas_spark.session import get_spark

# Queries that define the headline number: one per operator class
# (scan-agg, join-agg, 6-way join, filter-agg, join-topk, plus extensions
# appended as they land). Keep this list in sync with SURVEY.md section 2
# coverage milestones.
HEADLINE = [
    # scan / filter / aggregate
    "q1_pricing_summary",
    "q6_forecast_revenue",
    # join shapes
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q9_product_type_profit",
    "q18_large_volume",
    "join_self_pairs",
    # window / top-k / set ops / grouping
    "window_topk_per_group",
    "window_rows_frame",
    "topk_global",
    "setop_except_all",
    "agg_cube",
    # subquery decorrelation
    "subq_scalar_correlated",
    # LLM-pipeline extensions
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_cluster_components",
    "sim_brute_force_topk",
    "sim_brute_force_topk_numpy",
    "sim_hamming_packed_topk",
    "text_quality_score",
    "text_repetition_score",
    "pipeline_decontaminate",
    "pipeline_quota_sample",
    "pipeline_end_to_end",
    "sim_label_centroid_stats",
    "multimodal_wav_decode",
    # analytics extensions (round 3)
    "events_funnel_conversion",
    "events_retention_cohorts",
    # iterative / layout / merge operators (round 3)
    "cluster_kmeans_stats",
    "graph_pagerank_top",
    "merge_scd2_stats",
    "layout_zorder_histogram",
    "sim_sq8_topk",
    "text_bpe_train_merges",
    "text_chunk_dedup",
    "text_tfidf_topk",
    "graph_random_walks",
    "events_anomaly_zscore",
    "sim_pq_adc_topk",
    "text_bm25_topk",
    "merge_cdc_apply",
    "sim_ivfpq_topk",
    "pipeline_chunk_sliding",
    "entity_fuzzy_match_blocked",
    "events_ohlc_hourly",
    "events_rfm_segments",
    # round 4: remaining iterative/graph + merge + analytics/text heads
    "graph_triangle_count",
    "graph_kcore_summary",
    "merge_scd2_upsert",
    "events_attribution_last_touch",
    "text_collocations",
    "sim_mmr_rerank",
    "multimodal_ahash_near_dup",
    "graph_link_prediction",
    "text_bpe_encode",
    "text_lm_fluency",
    # round 5: r04-deferred heavyweights now under the same plan audit
    "graph_personalized_pagerank",
    "graph_hits_hub_authority",
    "multimodal_audio_dedup_clusters",
    "multimodal_image_dedup_clusters",
    # round 5 additions
    "dedup_repeated_ngram_spans",
    "dedup_semantic_clusters",
    "text_gopher_quality_rules",
    "pipeline_dsir_weights",
    "text_quality_classifier",
    "text_corpus_divergence",
    "events_skyline_frontier",
    # round 6 additions
    "sim_pca_power_iteration",
    "sim_matryoshka_prefix_recall",
    "text_boilerplate_ngrams",
    "multimodal_video_frame_sample",
    "pipeline_bloom_prefilter",
    "pipeline_padding_efficiency",
    "events_ab_test_zscore",
    "events_bot_gap_regularity",
    "text_ccnet_lm_buckets",
    "graph_components_incremental",
    "pipeline_rendezvous_sharding",
    "pipeline_temperature_mixture",
    "events_engagement_curve",
    "layout_hilbert_histogram",
    "dedup_keep_longest",
    # round 7 additions
    "text_dedup_rebuild",
    "text_rank_fusion",
    "pipeline_token_budget_select",
    "pipeline_lang_alpha_sampling",
]

ITERATIONS = 3  # best-of-N, after one untimed warm-up


def _run_once(fn, spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    # Force full execution through the noop sink: computes every row,
    # transfers none (executeCollect would bill driver-side transfer to
    # queries with large outputs, e.g. full-table window functions).
    df.write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    durability.release(spark)
    return elapsed


_REPO = os.path.dirname(os.path.abspath(__file__))


def _this_round() -> int:
    """Infer the current round from committed driver artifacts.

    The driver writes BENCH_r{N}.json AFTER bench.py runs, so at bench
    time the highest committed BENCH_r* belongs to the PREVIOUS round.
    """
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(_REPO, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return (max(rounds) + 1) if rounds else 1


def _loadavg() -> list[float] | None:
    """1/5/15-min load averages, or None where the platform lacks them.

    os.getloadavg is Unix-only (raises OSError on some containers,
    absent entirely on Windows); a bench run must degrade to a null
    stamp, never crash."""
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except (OSError, AttributeError):
        return None


def _cpu_times() -> list[int] | None:
    """Aggregate jiffies from /proc/stat's first line (Linux only).

    Hypervisor steal is contention the guest's loadavg cannot see; two
    snapshots around the timed sweep give its share of that window."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError, IndexError):
        return None


def _steal_pct(start: list[int] | None, end: list[int] | None) -> float | None:
    """Percent of all CPU time stolen by the hypervisor between the two
    _cpu_times() snapshots, or None when unreadable (field 8 = steal).

    Only the first 8 fields (user nice system idle iowait irq softirq
    steal) enter the denominator: the kernel already folds guest and
    guest_nice (fields 9-10) into user/nice, so summing them would
    double-count guest time and understate steal on hosts running
    nested VMs."""
    if not start or not end or len(start) < 8 or len(end) < 8:
        return None
    delta = [e - s for s, e in zip(start[:8], end[:8])]
    total = sum(delta)
    if total <= 0:
        return None
    return round(100.0 * delta[7] / total, 2)


def main() -> None:
    load_start = _loadavg()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # durability.release drops RDD blocks, but BROADCAST blocks pile up
    # across a ~400-run sweep and are only reclaimed when the context
    # cleaner sees a driver GC -- which a large quiet heap may not run
    # for the whole sweep. A 2-minute periodic GC keeps broadcast litter
    # bounded without the cost of a forced GC per query, which adds
    # minutes to a sweep. (Observed: sim_mmr_rerank 2.1s alone or 2nd
    # in a sweep, 6.7s at position ~52 of 77.)
    spark = get_spark(
        "ushas-bench", extra_conf={"spark.cleaner.periodicGC.interval": "2min"}
    )
    registry.load_all()

    names = [n for n in HEADLINE if n in registry.QUERIES]
    extra = os.environ.get("USHAS_BENCH_QUERIES")
    if extra:
        names = [n.strip() for n in extra.split(",") if n.strip() in registry.QUERIES]

    # Global warm pass: one untimed run of the whole suite first. JIT
    # compilation of the shared operator kernels (parquet reader, hash agg,
    # SMJ) otherwise lands entirely on whichever query runs first and
    # misattributes ~2-8s of one-time JVM cost to it. The reference
    # benchmark methodology likewise times only warm iterations.
    for name in names:
        _run_once(registry.QUERIES[name], spark, sf_dir)

    # The two window notes differ on purpose: loadavg_start (read before
    # any Spark work) measures load from outside the bench, which the
    # bench's own threads would mask once the session starts; steal is a
    # share of the bench's own CPU time, so it brackets the timed sweep
    # only, undiluted by session start-up and the warm pass.
    cpu_start = _cpu_times()
    timings: dict[str, float] = {}
    for name in names:
        fn = registry.QUERIES[name]
        _run_once(fn, spark, sf_dir)  # per-query warm-up: plan + footer cache
        timings[name] = min(_run_once(fn, spark, sf_dir) for _ in range(ITERATIONS))
    steal = _steal_pct(cpu_start, _cpu_times())
    load_end = _loadavg()
    spark.stop()

    out = {
        "metric": "headline_queries_total_best_of_%d" % ITERATIONS,
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": {k: round(v, 4) for k, v in timings.items()},
        "sf": sf_val,
        # A note on the window, not a verdict: loadavg at start (external
        # contention) and end (includes the sweep's own threads), and the
        # hypervisor steal share over the timed sweep (null off-Linux).
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "cpu_steal_pct": steal,
    }
    if not extra:
        # Full sweeps only: a subset must never clobber the 87-query map.
        for fname in ("BENCH_DETAIL.json", "BENCH_DETAIL_r%02d.json" % _this_round()):
            with open(os.path.join(_REPO, fname), "w") as f:
                json.dump(out, f, indent=1, sort_keys=True)
                f.write("\n")
    # Callers parse the JSON line from the last ~2000 chars of stdout,
    # so the line must fit: inline only the slowest queries when the
    # full map would overflow (BENCH_r05 lost its number that way).
    line = json.dumps(out)
    if len(line) > 1800:
        slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:15])
        out["queries"] = {k: round(v, 4) for k, v in slowest.items()}
        out["n"] = len(timings)
        out["detail"] = "BENCH_DETAIL.json"
        line = json.dumps(out)
    print(line)


if __name__ == "__main__":
    main()
