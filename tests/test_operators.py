"""Unit tests for the LLM-pipeline operators beyond the oracle gate:
recall quality, plumbing shapes, and edge cases the SQL oracles can't
express."""

from __future__ import annotations

from pyspark.sql import functions as F

from ushas_spark.io import load_table
from ushas_spark.operators import dedup, multimodal, similarity
from ushas_spark.operators.asof import asof_join


def test_ann_recall_vs_brute_force(spark, sf_dir):
    """LSH top-k must recover a solid fraction of the true top-k (recall
    depends on planes/buckets; 8 planes over 500 vecs -> expect >= 30%
    on average, and the test pins a floor so regressions show)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "e"
    )
    brute = {
        (r.qid, r.cand_id)
        for r in similarity.cosine_topk(q, emb, k=10).collect()
    }
    ann = {
        (r.qid, r.cand_id)
        for r in similarity.ann_lsh_topk(emb, k=10).collect()
    }
    recall = len(brute & ann) / len(brute)
    assert recall >= 0.3, f"ANN recall too low: {recall:.2f}"


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF with nprobe=2 of 8 centroids must recover a reasonable share
    of the true top-k (floor pinned so quantiser regressions show)."""
    from ushas_spark.operators.ivf import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), "e")
    brute = {
        (r.qid, r.cand_id) for r in similarity.cosine_topk(q, emb, k=10).collect()
    }
    ivf = {(r.qid, r.cand_id) for r in ivf_topk(emb, k=10).collect()}
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.2, f"IVF recall too low: {recall:.2f}"


def test_hamming_quantized_recall(spark, sf_dir):
    """Sign-quantized (packed-bit) Hamming top-k must recover a floor
    fraction of the true cosine top-k -- 64 sign bits on this corpus
    measures ~26% recall; the floor pins regressions, not the ceiling."""
    from ushas_spark.operators.similarity import sim_hamming_packed_topk

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), "e")
    brute = {
        (r.qid, r.cand_id) for r in similarity.cosine_topk(q, emb, k=10).collect()
    }
    ham = {
        (r.qid, r.cand_id)
        for r in sim_hamming_packed_topk(spark, sf_dir).collect()
    }
    recall = len(brute & ham) / len(brute)
    assert recall >= 0.15, f"quantized recall too low: {recall:.2f}"


def test_simhash_hamming_pairs(spark, sf_dir):
    """Byte-banded SimHash candidates: every returned pair respects the
    Hamming bound and near-dup docs (bag-fingerprint collisions) are
    found."""
    docs = load_table(spark, sf_dir, "documents")
    sims = dedup.simhash(docs)
    pairs = dedup.simhash_near_pairs(sims, max_hamming=3).collect()
    assert all(p.hamming <= 3 for p in pairs)
    # permuted near-dups have IDENTICAL simhash (bag-of-tokens signature)
    fp = docs.select(
        "doc_id",
        F.md5(
            F.array_join(F.array_sort(F.split(F.col("text"), r"\s+")), " ")
        ).alias("fp"),
    )
    dup_groups = (
        fp.groupBy("fp").agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .collect()
    )
    if dup_groups:
        pair_set = {(p.doc_a, p.doc_b) for p in pairs}
        g = sorted(dup_groups[0].ids)
        assert (g[0], g[1]) in pair_set


def test_minhash_approximates_jaccard(spark, sf_dir):
    """Minhash agreement rate estimates Jaccard: for verified LSH pairs,
    signature agreement must correlate with the exact value."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs).collect()
    by_id = {r.doc_id: [r[f"mh{i}"] for i in range(dedup.N_HASHES)] for r in sigs}
    exact = dedup._jaccard_pairs(spark, sf_dir).filter(F.col("jac") >= 0.5).collect()
    for r in exact[:10]:
        a, b = by_id[r.doc_a], by_id[r.doc_b]
        est = sum(1 for x, y in zip(a, b) if x == y) / dedup.N_HASHES
        assert abs(est - r.jac) < 0.45  # 12 hashes -> coarse but correlated


def test_multimodal_decode_plumbing(spark, sf_dir):
    assets = multimodal.documents_as_assets(spark, sf_dir)
    feats = multimodal.decode_assets(assets, feature_dim=8)
    rows = feats.orderBy("asset_id").limit(5).collect()
    assert len(rows) == 5
    for r in rows:
        assert len(r.features) == 8
        assert all(0.0 <= x <= 1.0 for x in r.features)
        assert r.n_bytes > 0
    # deterministic across runs
    again = feats.orderBy("asset_id").limit(5).collect()
    assert rows == again


def test_multimodal_resize_and_frame_sample(spark, sf_dir):
    """Resize / frame-sample plumbing: schema, filtering by mime, 1->N
    expansion, determinism (codec stubbed -- see module docstring)."""
    assets = multimodal.documents_as_assets(spark, sf_dir)
    resized = multimodal.resize_images(assets, 64, 48)
    r = resized.orderBy("asset_id").limit(3).collect()
    assert all(row.width == 64 and row.height == 48 for row in r)
    assert all(row.mime == "image/png" for row in r)
    frames = multimodal.sample_frames(assets, every_n_bytes=64)
    f = frames.filter(F.col("asset_id") == 1).orderBy("frame_idx").collect()
    assert [row.frame_idx for row in f] == list(range(len(f)))
    assert len(f) >= 2  # docs are a few hundred bytes -> several windows
    again = frames.filter(F.col("asset_id") == 1).orderBy("frame_idx").collect()
    assert f == again


def test_multimodal_metadata_query_prunes_payload(spark, sf_dir):
    """A metadata-only aggregate must not read the payload column."""
    a = multimodal.documents_as_assets(spark, sf_dir)
    q = a.groupBy("meta.mime").count()
    plan = q._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan and "text" not in scan[0].split("ReadSchema")[-1]


def test_asof_no_preceding_row_is_null(spark, sf_dir):
    """Events before any order of that user -> NULL match."""
    events = spark.createDataFrame(
        [(1, 7, "1990-01-01 00:00:00")], "event_id long, k long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    orders = spark.createDataFrame(
        [(7, "1995-01-01 00:00:00", 100)], "k long, ots string, okey long"
    ).withColumn("ots", F.col("ots").cast("timestamp"))
    out = asof_join(
        events, orders, by="k", left_ts="ts", right_ts="ots", right_values=["okey"],
        direction="backward",
    ).collect()
    assert len(out) == 1 and out[0].asof_okey is None


def test_asof_equal_timestamp_matches(spark):
    events = spark.createDataFrame(
        [(1, 7, "1995-01-01 00:00:00")], "event_id long, k long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    orders = spark.createDataFrame(
        [(7, "1995-01-01 00:00:00", 100), (7, "1994-01-01 00:00:00", 50)],
        "k long, ots string, okey long",
    ).withColumn("ots", F.col("ots").cast("timestamp"))
    out = asof_join(
        events, orders, by="k", left_ts="ts", right_ts="ots", right_values=["okey"],
        direction="backward",
    ).collect()
    assert out[0].asof_okey == 100  # <= semantics: row AT the ts wins


def test_hash60_matches_python(spark):
    """The portable hash family agrees with Python's md5 (and therefore
    with the DuckDB oracle expression)."""
    import hashlib

    df = spark.createDataFrame([("abc",), ("0:the fast key",)], "s string")
    rows = df.select("s", dedup.hash60(F.col("s")).alias("h")).collect()
    for r in rows:
        expect = int(hashlib.md5(r.s.encode()).hexdigest()[:15], 16)
        assert r.h == expect


def test_connected_components_chain_triangle_singleton(spark):
    """CC on a known graph: a 4-chain (diameter > 1 forces multiple
    propagation rounds), a triangle, and an isolated node."""
    from ushas_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(8)], ["id"])
    #  chain 0-1-2-3, triangle 4-5-6, singleton 7
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5), (5, 6), (4, 6)], ["src", "dst"]
    )
    got = {
        (r.id, r.label)
        for r in connected_components(nodes, edges, id_col="id").collect()
    }
    assert got == {(0, 0), (1, 0), (2, 0), (3, 0), (4, 4), (5, 4), (6, 4), (7, 7)}


def test_connected_components_edgeless_graph_terminates(spark):
    """No edges: every node labels itself and the loop ends. The size
    and change flags are read with ``Observation.get``, which blocks
    with no timeout if its metric never arrives, so the run is bounded
    by a thread join here instead of hanging the suite."""
    import threading

    from ushas_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    edges = spark.createDataFrame([], "src long, dst long")
    got = []
    run = threading.Thread(
        target=lambda: got.extend(
            connected_components(nodes, edges, id_col="id").collect()
        ),
        daemon=True,
    )
    run.start()
    run.join(timeout=120)
    assert not run.is_alive(), "connected_components did not terminate"
    assert {(r.id, r.label) for r in got} == {(i, i) for i in range(4)}


def test_connected_components_runs_to_convergence(spark):
    """A path 0-1-...-59 needs 59 propagation rounds for node 59 to see
    label 0: the loop has no round cap, so every node ends in component 0."""
    from ushas_spark.operators.dedup import connected_components

    nodes = spark.range(60)
    edges = spark.range(59).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    got = {r.id: r.label for r in connected_components(nodes, edges).collect()}
    assert got == dict.fromkeys(range(60), 0)


def test_connected_components_reliable_checkpoint_mode(spark):
    """durability.set_reliable(True) routes every iterative truncation
    point through a RELIABLE checkpoint (executor-loss tolerant, the
    100 TB / preemptible-fleet setting) -- results must be identical and
    checkpoint files must actually land in the checkpoint dir. The
    convergence flag is observed on the checkpointed frame, so the same
    number of rounds (checkpoint segments) as in local mode shows the
    observation fires under ``checkpoint(eager=True)`` too."""
    import os

    from ushas_spark import durability
    from ushas_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(8)], ["id"])
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5), (5, 6), (4, 6)], ["src", "dst"]
    )

    def run() -> tuple[set, int]:
        with durability.segments() as segs:
            df = connected_components(nodes, edges, id_col="id")
        rows = {(r.id, r.label) for r in df.collect()}
        return rows, sum(s.kind == "checkpoint" for s in segs)

    local, local_ckpts = run()
    durability.set_reliable(True)
    try:
        got, ckpts = run()
        ckpt_dir = spark.sparkContext._jsc.sc().getCheckpointDir()
        assert not ckpt_dir.isEmpty()
        path = ckpt_dir.get()
        assert any(os.scandir(path.removeprefix("file:"))), "no checkpoint files written"
    finally:
        durability.set_reliable(False)
    assert got == {(0, 0), (1, 0), (2, 0), (3, 0), (4, 4), (5, 4), (6, 4), (7, 7)}
    assert got == local
    assert ckpts == local_ckpts


def test_image_dedup_clusters_job_count(spark, sf_dir):
    """Building multimodal_image_dedup_clusters launches at most 19
    Spark jobs (the count at sf0.001 and sf0.01): connected components
    reads its regime gate and convergence flag from observations on its
    materialize jobs, and the aHash table is materialized unsorted. A
    per-round count job or a sort-sampling job brought back fails this
    pin."""
    from ushas_spark import durability

    load_table(spark, sf_dir, "documents")  # schema inference is not the build
    sc = spark.sparkContext
    group = "test_image_dedup_clusters_job_count"
    sc.setJobGroup(group, group, False)
    try:
        multimodal.multimodal_image_dedup_clusters(spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
        durability.release(spark)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 19, f"{jobs} jobs"


def test_banded_join_matches_naive_theta(spark, sf_dir):
    """The bucketed band join must return exactly the naive inequality
    join's pairs (the formulation the reference would BNLJ)."""
    from ushas_spark.io import load_table
    from ushas_spark.operators.rangejoin import _BAND_US, banded_self_join

    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    banded = banded_self_join(events, _BAND_US).select("a_event_id", "b_event_id")
    a, b = events.alias("a"), events.alias("b")
    naive = a.join(
        b,
        (F.col("b.ts") < F.col("a.ts"))
        & (F.col("b.ts") > F.col("a.ts") - F.expr(f"INTERVAL {_BAND_US} MICROSECOND")),
    ).select(F.col("a.event_id").alias("a_event_id"), F.col("b.event_id").alias("b_event_id"))
    assert banded.exceptAll(naive).count() == 0
    assert naive.exceptAll(banded).count() == 0


def test_banded_join_plans_no_bnlj(spark, sf_dir):
    """The band join must plan as an equi-join on the bucket key -- no
    BroadcastNestedLoopJoin / CartesianProduct anywhere in the plan."""
    from ushas_spark.operators.rangejoin import join_range_banded

    df = join_range_banded(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_incremental_minhash_equals_full_run_restricted(spark, sf_dir):
    """The incremental run must emit EXACTLY the full run's pairs that
    touch the increment (no duplicates vs history, no missed pairs) --
    the invariant that makes daily incremental dedup composable."""
    from ushas_spark.operators.dedup import _INCR_NEW_MIN, _INCR_NEW_MOD
    from ushas_spark.registry import QUERIES

    incr = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_minhash_incremental"](spark, sf_dir).collect()
    }
    full = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    is_new = lambda d: d % _INCR_NEW_MOD >= _INCR_NEW_MIN  # noqa: E731
    expected = {(a, b) for a, b in full if is_new(a) or is_new(b)}
    assert incr == expected


def test_numpy_topk_matches_jvm_fold(spark, sf_dir):
    """The Arrow/numpy matmul top-k must agree with the JVM fold top-k on
    RANKS exactly (ids per (qid, rnk)) -- the float-order difference may
    move a similarity by an ulp but must not reorder neighbours on this
    corpus."""
    from ushas_spark.registry import QUERIES, load_all

    load_all()
    jvm = {
        (r.qid, r.rnk): (r.cand_id, r.sim_x1m)
        for r in QUERIES["sim_brute_force_topk"](spark, sf_dir).collect()
    }
    vec = {
        (r.qid, r.rnk): (r.cand_id, r.sim_x1m)
        for r in QUERIES["sim_brute_force_topk_numpy"](spark, sf_dir).collect()
    }
    assert jvm.keys() == vec.keys()
    for key in jvm:
        assert jvm[key][0] == vec[key][0], (key, jvm[key], vec[key])
        assert abs(jvm[key][1] - vec[key][1]) <= 1, (key, jvm[key], vec[key])


def test_png_decoder_handles_all_filter_types():
    """The PNG reader must invert all five standard scanline filters --
    the synthesized assets use filter 0 only, so forward-filter a known
    image with each type and require identical decoded sums."""
    import struct
    import zlib

    from ushas_spark.operators.multimodal import (
        _decode_png,
        _png_chunk,
        _png_dims,
        _png_pixel,
    )

    aid = 42
    w, h = _png_dims(aid)
    rows = [
        [c for x in range(w) for c in _png_pixel(aid, x, y)] for y in range(h)
    ]
    expect = _decode_png(
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _png_chunk(
            b"IDAT",
            zlib.compress(b"".join(bytes([0] + r) for r in rows)),
        )
        + _png_chunk(b"IEND", b""),
    )
    bpp, stride = 3, 3 * w
    for ftype in (1, 2, 3, 4):
        raw = bytearray()
        prev = [0] * stride
        for r in rows:
            raw.append(ftype)
            for i in range(stride):
                a = r[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if ftype == 1:
                    pred = a
                elif ftype == 2:
                    pred = b
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                raw.append((r[i] - pred) & 0xFF)
            prev = r
        payload = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _png_chunk(b"IEND", b"")
        )
        got = _decode_png(payload)
        assert got == expect, (ftype, got, expect)


def test_asof_forward_equal_timestamp_and_none(spark):
    """Forward as-of: a right row exactly AT the left timestamp matches
    (>= semantics); a left row after every right row gets NULL."""
    from pyspark.sql import functions as SF

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 25, 101), (1, 99, 102)], "k long, t long, lid long"
    ).select("k", SF.timestamp_micros(SF.col("t") * 1_000_000).alias("t"), "lid")
    right = spark.createDataFrame(
        [(1, 10, 7), (1, 30, 8)], "k long, t long, rv long"
    ).select("k", SF.timestamp_micros(SF.col("t") * 1_000_000).alias("rt"), "rv")
    out = {
        r.lid: r.asof_rv
        for r in asof_join(
            left, right, by="k", left_ts="t", right_ts="rt", right_values=["rv"],
            direction="forward",
        ).collect()
    }
    assert out == {100: 7, 101: 8, 102: None}


def test_kmeans_objective_nonincreasing(spark, sf_dir):
    """Lloyd guarantee: total within-cluster distance never increases
    with more iterations (checked on the scaled-int objective, which
    the oracle also pins)."""
    from ushas_spark.operators.clustering import kmeans_assign

    totals = []
    for iters in (0, 1, 3):
        a = kmeans_assign(spark, sf_dir, iters=iters)
        totals.append(a.agg(F.sum("dist_x1m").alias("s")).collect()[0].s)
    assert totals[1] <= totals[0], totals
    assert totals[2] <= totals[1], totals


def test_spread_never_narrows(spark):
    """The k-means corpus spread round-robins a scan narrower than
    defaultParallelism to exactly that width, and leaves a frame that
    already has defaultParallelism partitions or more untouched."""
    from ushas_spark.operators.clustering import spread

    n = spark.sparkContext.defaultParallelism
    for width in (n, n + 3):
        wide = spark.range(0, 100, 1, numPartitions=width)
        assert spread(wide) is wide
    narrow = spread(spark.range(0, 100, 1, numPartitions=1))
    assert narrow.rdd.getNumPartitions() == n
    assert sorted(r.id for r in narrow.collect()) == list(range(100))


def test_kmeans_all_clusters_populated(spark, sf_dir):
    from ushas_spark.operators.clustering import K, kmeans_assign

    sizes = (
        kmeans_assign(spark, sf_dir)
        .groupBy("cluster")
        .count()
        .collect()
    )
    assert len(sizes) == K
    assert all(r["count"] > 0 for r in sizes)


def test_pagerank_mass_conserved(spark, sf_dir):
    """Ranks stay a probability distribution: scaled ranks sum to
    ~RANK_SCALE (teleport + contributions conserve mass; tolerance
    covers the per-node rounding)."""
    from ushas_spark.operators.graph import ITERS, RANK_SCALE, _edges, pagerank

    pr = pagerank(spark, sf_dir)
    row = pr.agg(
        F.sum("rank_x1e9").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    # Each edge contribution rounds to +-0.5 scaled units per iteration,
    # so conservation holds to |E| * iters / 2 (ppm-level at this scale).
    n_edges = _edges(spark, sf_dir).count()
    tol = n_edges * ITERS / 2 + row.n
    assert abs(row.s - RANK_SCALE) <= tol, (row.s, RANK_SCALE, tol)
    assert pr.filter(F.col("rank_x1e9") <= 0).count() == 0


def test_scd2_merge_invariants(spark, sf_dir):
    """Every changed key contributes exactly one closed row + one new
    open row, the close date equals the new row's start date, and
    untouched keys keep their single open row."""
    from ushas_spark.operators.mergeop import scd2_merge

    merged = scd2_merge(spark, sf_dir)
    n_customers = load_table(spark, sf_dir, "customer").count()
    per_key = merged.groupBy("c_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_current").cast("int")).alias("n_open"),
        F.max("valid_to").alias("closed_at"),
        F.max(F.when(~F.col("is_current"), F.col("valid_to"))).alias("vt"),
        F.max(
            F.when(F.col("is_current") & (F.col("valid_from") != F.lit("1992-01-01")), F.col("valid_from"))
        ).alias("vf"),
    )
    assert per_key.count() == n_customers
    assert per_key.filter(F.col("n_open") != 1).count() == 0
    assert per_key.filter(~F.col("n").isin(1, 2)).count() == 0
    changed = per_key.filter(F.col("n") == 2)
    assert changed.count() > 0
    assert changed.filter(F.col("vt") != F.col("vf")).count() == 0


def test_sq8_recall_vs_float_dot(spark, sf_dir):
    """Int8 quantization at scale 192 must preserve nearly all of the
    float-dot top-k (it quantizes to ~0.5% resolution; floor pinned
    high so quantizer regressions show)."""
    from ushas_spark.operators.similarity import N_QUERIES, TOP_K, dot, sim_sq8_topk

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    from pyspark.sql import Window as W

    scored = emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid", F.col("vec_id").alias("cand_id"),
        dot(F.col("qe"), F.col("e")).alias("d"),
    )
    w = W.partitionBy("qid").orderBy(F.col("d").desc(), "cand_id")
    exact = {
        (r.qid, r.cand_id)
        for r in scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K).collect()
    }
    sq8 = {(r.qid, r.cand_id) for r in sim_sq8_topk(spark, sf_dir).collect()}
    recall = len(exact & sq8) / len(exact)
    assert recall >= 0.9, f"SQ8 recall too low: {recall:.2f}"


def test_bpe_merge_fold_is_greedy_nonoverlapping(spark):
    """'aaab' with pair (a,a) must merge left-to-right without overlap:
    [aa, a, b], not [aa, ab] or [a, aa, b]."""
    from ushas_spark.operators import bpe

    df = spark.createDataFrame([("aaab", 1), ("a", 1)], "word string, n long")
    syms = bpe._char_symbols(df)
    best = spark.createDataFrame(
        [("a", "a", 9)], "ba string, bb string, bcnt long"
    )
    rows = {r.word: r.s for r in bpe._apply_merge(syms, best).collect()}
    assert rows["aaab"] == ["aa", "a", "b"]
    assert rows["a"] == ["a"]  # single-symbol words untouched


def test_bpe_training_shrinks_symbol_count_each_merge(spark, sf_dir):
    """Each applied merge strictly reduces the corpus-weighted symbol
    count by exactly the winning pair's count."""
    from ushas_spark.operators import bpe
    from ushas_spark.durability import materialize

    syms = bpe._char_symbols(materialize(bpe._word_histogram(spark, sf_dir)))
    for _ in range(2):
        before = syms.select(
            F.sum(F.size("s") * F.col("n")).alias("t")
        ).collect()[0].t
        best_df = bpe._best_pair(bpe._pair_counts(syms))
        bcnt = best_df.collect()[0].bcnt
        syms = bpe._apply_merge(syms, best_df)
        after = syms.select(
            F.sum(F.size("s") * F.col("n")).alias("t")
        ).collect()[0].t
        assert after == before - bcnt, (before, after, bcnt)


def test_kmeans_reliable_checkpoint_mode(spark, sf_dir):
    """The new iterative operators route plan truncation through
    durability.materialize; the reliable (checkpoint-dir) mode must
    produce the identical assignment."""
    from ushas_spark import durability
    from ushas_spark.operators.clustering import kmeans_assign

    base = {(r.vec_id, r.cluster) for r in kmeans_assign(spark, sf_dir, iters=1).collect()}
    durability.set_reliable(True)
    try:
        rel = {(r.vec_id, r.cluster) for r in kmeans_assign(spark, sf_dir, iters=1).collect()}
    finally:
        durability.set_reliable(False)
    assert base == rel


def test_pq_adc_recall_floor(spark, sf_dir):
    """PQ with the data-independent md5 codebook is the lossiest tier;
    pin a modest recall floor vs the float-dot top-k so plumbing
    regressions (wrong subspace slicing, code/codeword mix-ups) show
    as recall collapse."""
    from ushas_spark.operators.similarity import (
        N_QUERIES, TOP_K, dot, sim_pq_adc_topk,
    )
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    scored = emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid", F.col("vec_id").alias("cand_id"),
        dot(F.col("qe"), F.col("e")).alias("d"),
    )
    w = W.partitionBy("qid").orderBy(F.col("d").desc(), "cand_id")
    exact = {
        (r.qid, r.cand_id)
        for r in scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K).collect()
    }
    pq = {(r.qid, r.cand_id) for r in sim_pq_adc_topk(spark, sf_dir).collect()}
    recall = len(exact & pq) / len(exact)
    assert recall >= 0.1, f"PQ recall collapsed: {recall:.2f}"


def test_ivfpq_recall_floor(spark, sf_dir):
    """Composed IVF-PQ recall is bounded by IVF's coverage times PQ's
    ranking fidelity (measured ~18% vs exact dot at sf0.01 -- the
    memory/recall trade the index exists to make); floor pinned so a
    wiring regression in either stage shows as collapse."""
    from ushas_spark.operators.ivf import sim_ivfpq_topk
    from ushas_spark.operators.similarity import N_QUERIES, TOP_K, dot
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    scored = emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid", F.col("vec_id").alias("cand_id"),
        dot(F.col("qe"), F.col("e")).alias("d"),
    )
    w = W.partitionBy("qid").orderBy(F.col("d").desc(), "cand_id")
    exact = {
        (r.qid, r.cand_id)
        for r in scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K).collect()
    }
    got = {(r.qid, r.cand_id) for r in sim_ivfpq_topk(spark, sf_dir).collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.06, f"IVF-PQ recall collapsed: {recall:.2f}"


def test_fuzzy_blocking_recall_vs_exhaustive(spark, sf_dir):
    """Two-pass token blocking must find every lev<=2 pair the O(n^2)
    exhaustive join finds on this corpus (recall 1.0 at test scale)."""
    from ushas_spark.operators.entity import (
        LEV_MAX,
        entity_fuzzy_match_blocked,
    )

    names = (
        load_table(spark, sf_dir, "part").select("p_name").distinct()
    )
    a = names.select(F.col("p_name").alias("na"))
    b = names.select(F.col("p_name").alias("nb"))
    exhaustive = {
        (r.na, r.nb)
        for r in a.crossJoin(b)
        .filter(
            (F.col("na") < F.col("nb"))
            & (F.levenshtein("na", "nb") <= LEV_MAX)
        )
        .collect()
    }
    blocked = {
        (r.name_a, r.name_b)
        for r in entity_fuzzy_match_blocked(spark, sf_dir).collect()
    }
    assert exhaustive, "ground truth empty -- corpus changed?"
    assert blocked == exhaustive


def test_random_projection_distortion_bounded(spark, sf_dir):
    """JL property: for Rademacher projections, E[||Pa - Pb||^2] equals
    RP_DIMS * ||a - b||^2; the empirical mean ratio over sampled pairs
    must sit near that expectation."""
    import numpy as np

    from ushas_spark.operators.similarity import (
        RP_DIMS,
        sim_random_projection,
    )

    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding").limit(40).collect()
    }
    proj = {
        r.vec_id: np.array(
            [r[f"p{j}_x1m"] for j in range(RP_DIMS)], dtype=np.float64
        ) / 1e6
        for r in sim_random_projection(spark, sf_dir)
        .filter(F.col("vec_id").isin(list(emb)))
        .collect()
    }
    ids = sorted(emb)
    ratios = []
    for i in range(0, len(ids) - 1):
        a, b = ids[i], ids[i + 1]
        orig = float(np.sum((emb[a] - emb[b]) ** 2))
        low = float(np.sum((proj[a] - proj[b]) ** 2))
        if orig > 0:
            ratios.append(low / (RP_DIMS * orig))
    mean = sum(ratios) / len(ratios)
    assert 0.5 < mean < 1.5, f"JL distortion off: mean ratio {mean:.2f}"


def test_triangle_count_matches_bruteforce(spark, sf_dir):
    """Degree-oriented distributed triangle count == adjacency-set
    brute force on the collected edge list."""
    from itertools import combinations

    from ushas_spark.operators.graph import graph_triangle_count

    pl = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a, b = pl.alias("a"), pl.alias("b")
    edges = {
        (r.u, r.v)
        for r in a.join(
            b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk"))
        )
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
        .collect()
    }
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    expected = sum(
        1
        for node, nbrs in adj.items()
        for x, y in combinations(sorted(nbrs), 2)
        if x > node and y in adj[x]
    )
    row = graph_triangle_count(spark, sf_dir).collect()[0]
    assert row.n_triangles == expected
    assert row.n_edges == len(edges)


def test_kcore_peeling_reaches_fixpoint(spark, sf_dir):
    """The fixed KCORE_ROUNDS must reach the true k-core at gate scale:
    one more peeling round on the reported core must remove nothing
    (min induced degree >= k, or the core is empty)."""
    from ushas_spark.operators.graph import KCORE_K, graph_kcore_summary

    row = graph_kcore_summary(spark, sf_dir).collect()[0]
    if row.n_core_nodes == 0:
        assert row.n_core_edges == 0 and row.min_core_degree is None
    else:
        assert row.min_core_degree >= KCORE_K, row


def test_cdc_apply_is_idempotent_under_replay(spark, sf_dir):
    """At-least-once replay safety: merging the already-applied
    snapshot (as upserts at their applied sequence numbers) back with
    the full log and re-running latest-wins must reproduce the
    snapshot exactly -- duplicate delivery of old entries changes
    nothing."""
    from pyspark.sql import Window as W

    from ushas_spark.operators.mergeop import merge_cdc_apply

    snap = merge_cdc_apply(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    log = orders.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 10 == 0, "D")
        .when(F.col("o_orderkey") % 10 == 1, "I")
        .otherwise("U")
        .alias("op"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("val_x100"),
    )
    replayed = log.unionByName(
        snap.select(
            "key",
            F.col("last_seq").alias("seq"),
            F.lit("I").alias("op"),
            "val_x100",
        )
    )
    w = W.partitionBy("key").orderBy(F.col("seq").desc())
    latest = (
        replayed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    again = latest.where(F.col("op") != "D").select(
        "key", F.col("seq").alias("last_seq"), "val_x100"
    )
    assert again.exceptAll(snap).count() == 0
    assert snap.exceptAll(again).count() == 0


def test_quality_classifier_matches_python_model(spark, sf_dir):
    """The Spark-side lambda scoring equals an independent pure-Python
    reimplementation of the same hashed linear model (md5-prefix hash,
    bucket weights, bias) on a sample of documents."""
    import hashlib

    from ushas_spark.operators.text import (
        _CLF_BIAS, _CLF_BUCKETS, _CLF_MULT, text_quality_classifier,
    )

    def py_logit(text: str) -> int:
        import re

        s = _CLF_BIAS
        for w in re.split(r"\s+", text):
            h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
            s += (h % _CLF_BUCKETS) * _CLF_MULT % 1_000_001 - 500_000
        return s

    docs = load_table(spark, sf_dir, "documents").limit(20).collect()
    got = {
        r["doc_id"]: r["logit_x1m"]
        for r in text_quality_classifier(spark, sf_dir).collect()
    }
    for d in docs:
        assert got[d["doc_id"]] == py_logit(d["text"]), d["doc_id"]


def test_corpus_divergence_zero_for_single_source(spark, sf_dir, tmp_path):
    """A corpus with ONE source has expected == observed in every
    bucket, so the chi-square statistic is exactly zero -- the
    null-distance invariant of the divergence operator."""
    from ushas_spark.operators.text import text_corpus_divergence

    one = (
        load_table(spark, sf_dir, "documents")
        .withColumn("source", F.lit("only"))
    )
    # text_corpus_divergence loads `documents` from a directory -- stage
    # a single-source copy of the corpus under the expected layout.
    import os

    staged = str(tmp_path / "sf_staged")
    os.makedirs(staged)
    one.write.parquet(os.path.join(staged, "documents.parquet"))
    rows = text_corpus_divergence(spark, staged).collect()
    assert len(rows) == 1
    assert rows[0]["chi2_x1m"] == 0
    assert rows[0]["source"] == "only"


def test_boilerplate_ngrams_short_docs_emit_no_grams(spark, sf_dir, tmp_path):
    """Documents shorter than BOILER_N tokens must vanish from the
    result, not crash: unguarded sequence(1, size-2) on a 1-2 token doc
    is DESCENDING ([1,0]) and slice() then throws under ANSI / emits
    bogus grams, while the DuckDB oracle's range() is simply empty
    (ADVICE r06)."""
    import os

    from ushas_spark.operators.text import text_boilerplate_ngrams

    docs = load_table(spark, sf_dir, "documents").limit(20)
    short = spark.createDataFrame(
        [
            (9_000_001, "one", "en", "web", 3),
            (9_000_002, "two words", "en", "web", 9),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    staged = str(tmp_path / "sf_short_docs")
    os.makedirs(staged)
    docs.unionByName(short).write.parquet(os.path.join(staged, "documents.parquet"))
    rows = text_boilerplate_ngrams(spark, staged).collect()
    ids = {r["doc_id"] for r in rows}
    assert 9_000_001 not in ids and 9_000_002 not in ids
    assert len(rows) == 20  # every >=3-token doc still scored


def test_bot_gap_single_subsecond_gap_flags(spark, sf_dir, tmp_path):
    """A user with exactly ONE gap (cv undefined -> cv_x1e4 NULL) is
    still flagged when that gap is sub-second: the min-gap arm of the
    bot heuristic is independent of the cv arm (ADVICE r06)."""
    import datetime
    import os

    from ushas_spark.queries.analytics import events_bot_gap_regularity

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    fast = [
        (8_000_001, t0, 7_000_001, "click", 1.0, "{}"),
        (8_000_002, t0 + datetime.timedelta(milliseconds=50), 7_000_001,
         "click", 1.0, "{}"),
        # control: one gap of an hour -> NOT a bot
        (8_000_003, t0, 7_000_002, "click", 1.0, "{}"),
        (8_000_004, t0 + datetime.timedelta(hours=1), 7_000_002,
         "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        fast,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    staged = str(tmp_path / "sf_bot_events")
    os.makedirs(staged)
    df.write.parquet(os.path.join(staged, "events.parquet"))
    rows = {r["user_id"]: r for r in events_bot_gap_regularity(spark, staged).collect()}
    assert rows[7_000_001]["n_gaps"] == 1
    assert rows[7_000_001]["cv_x1e4"] is None
    assert rows[7_000_001]["bot_flag"] == 1
    assert rows[7_000_002]["bot_flag"] == 0


def test_full_query_reliable_checkpoint_end_to_end(spark, sf_dir):
    """Run a COMPLETE registered iterative query under reliable-checkpoint
    mode (``durability.set_reliable(True)``, as on a real fleet) and
    require the bit-identical result of the default executor-local
    mode. The unit toggles above exercise single operators; this keeps
    the reliable path from rotting inside a full pinned-loop query (r08
    verdict #6).
    """
    from ushas_spark import durability, registry

    registry.load_all()
    fn = registry.QUERIES["graph_pagerank_top"]
    base = [tuple(r) for r in fn(spark, sf_dir).collect()]
    spark.catalog.clearCache()
    durability.set_reliable(True)
    try:
        rel = [tuple(r) for r in fn(spark, sf_dir).collect()]
    finally:
        durability.set_reliable(False)
    assert base == rel and len(base) > 0
