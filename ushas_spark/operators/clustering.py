"""Deterministic Lloyd k-means over the ``embeddings`` table.

The missing piece between the one-shot coarse quantiser (``ivf.py``) and
a production vector pipeline is the iterative *training* of the
quantiser itself. This module runs k-means as a pure DataFrame loop:

- **assign**: corpus crossJoin broadcast(centroids) -> squared-L2 fold
  (``zip_with`` + ``aggregate``; both are ``CodegenFallback``
  expressions on Spark 4.1, so the projection holding the fold runs
  interpreted, outside whole-stage codegen) -> per-vector argmin via
  one window. The centroid table is K rows, so the "cross join" is a
  broadcast nested loop over a K-row build side -- at 100 TB this is
  exactly one corpus scan per iteration, no shuffle on the big side
  (the only exchange is the per-vector window, partitioned by vec_id,
  and even that collapses into the argmin via min_by in the stats
  variant).
- **update**: posexplode assigned vectors -> (cluster, dim) partial sums
  -- a map-side-combinable shuffle whose key space is K x DIM rows, so
  no reducer ever holds a whole cluster -- then rebuild the centroid
  arrays with an ordered collect_list (K rows total).
- each new centroid table is :func:`~ushas_spark.durability.materialize`
  d (K rows), truncating the iterative plan exactly like the
  connected-components loop in ``dedup.py``.

Determinism (the full loop is oracle-gated in DuckDB): init centroids
are corpus vectors picked by id stride (no RNG); distances are
sequential left folds rounded to scaled integers before comparison, ties
broken by cluster id; centroid updates accumulate exact scaled-integer
sums per (cluster, dimension) and perform one double division -- the
``oracle_exact`` pattern, so every iteration produces bit-identical
centroids on both engines. Reference analog: the fork has no clustering
operator (queries like this run as handwritten joins,
sql/core/src/main/scala/org/apache/spark/sql/Dataset.scala:77); MLlib's
KMeans is RDD-based and RNG-seeded -- this is the DataFrame-native,
reproducible reformulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ushas_spark.durability import materialize
from ushas_spark.io import load_table
from ushas_spark.operators.similarity import _dvec, sql_cosine
from ushas_spark.registry import query

K = 8
ITERS = 3
INIT_STRIDE = 61  # centroid c initialised from the vector with vec_id == c*61
DIST_SCALE = 1_000_000


def spark_sqdist(a: str, b: str) -> str:
    """Sequential left-fold squared L2 distance as Spark SQL (JVM
    lambdas, interpreted: ``ZipWith``/``ArrayAggregate`` are
    ``CodegenFallback``)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " 0D, (acc, v) -> acc + v)"
    )


def sql_sqdist(a: str, b: str) -> str:
    """DuckDB mirror: identical left fold (init 0.0, same op order)."""
    return (
        f"list_reduce(list_prepend(0.0, "
        f"list_transform(list_zip({a}, {b}), p -> (p[1]-p[2])*(p[1]-p[2]))), "
        f"(acc, v) -> acc + v)"
    )


def _init_centroids(emb: DataFrame, k: int = K) -> DataFrame:
    ids = [c * INIT_STRIDE for c in range(k)]
    return emb.filter(F.col("vec_id").isin(ids)).select(
        (F.col("vec_id") / INIT_STRIDE).cast("int").alias("cid"),
        F.col("e").alias("ce"),
    )


def _assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per vector; scaled distance, ties -> smallest cid.

    Shuffle-free: the K centroids are folded into ONE row holding an
    array of (cid, vector) structs, broadcast, and the argmin is an
    ``array_min`` over (distance, cid) structs -- a pure projection, so
    each Lloyd round reads the corpus exactly once with no exchange on
    the big side. (A first cut exploded K rows per vector and took a
    per-vector window; the fold form removes that corpus-sized shuffle
    entirely.)
    """
    carr = cents.agg(F.collect_list(F.struct("cid", "ce")).alias("cs"))
    m = F.expr(
        "array_min(transform(cs, c -> struct("
        f"CAST(round({spark_sqdist('e', 'c.ce')} * {DIST_SCALE}) AS BIGINT) AS ds,"
        " c.cid AS cid)))"
    )
    return (
        emb.crossJoin(F.broadcast(carr))
        .withColumn("m", m)
        .select(
            "vec_id",
            "e",
            F.col("m.cid").alias("cid"),
            F.col("m.ds").alias("ds"),
        )
    )



def _update(assigned: DataFrame) -> DataFrame:
    """Exact per-(cluster, dimension) means -> new centroid arrays.

    The shuffle key is (cid, pos): K*DIM cells regardless of corpus
    size, with map-side partial aggregation doing the heavy lifting.
    """
    ex = assigned.select("cid", F.posexplode("e").alias("pos", "val"))
    per_dim = ex.groupBy("cid", "pos").agg(
        (
            F.sum(F.round(F.col("val") * DIST_SCALE).cast("long")).cast("double")
            / F.lit(float(DIST_SCALE))
            / F.count(F.lit(1)).cast("double")
        ).alias("cval")
    )
    return per_dim.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))),
            lambda s: s["cval"],
        ).alias("ce")
    )


def spread(df: DataFrame) -> DataFrame:
    """``df`` round-robined over ``defaultParallelism`` partitions when
    its scan is narrower than that, else ``df`` itself -- so a wide input
    is never narrowed. A small file is one row group, so without this
    every Lloyd round's interpreted distance fold runs in one task."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n) if df.rdd.getNumPartitions() < n else df


def kmeans_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (vec_id, e double array) corpus every Lloyd loop reads,
    spread over the cores and materialized ONCE (OPTIMIZATION_r12.md
    item 5): every _assign round is exchange-free (1-row centroid
    broadcast), so re-deriving it per round paid ``iters + 1`` parquet
    scans + array conversions for nothing. This is the canonical Lloyd
    shape (Spark MLlib warns when its k-means input is not cached); on
    a 100 TB fleet the materialize target moves to reliable storage via
    durability.set_reliable(True) like every other iterative operator
    here."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("e")
    )
    return materialize(spread(emb))


def _lloyd(emb: DataFrame, k: int = K, iters: int = ITERS) -> DataFrame:
    """The centroid table after ``iters`` Lloyd rounds over ``emb``
    from the stride init, each round materialized (K rows)."""
    cents = _init_centroids(emb, k)
    for _ in range(iters):
        cents = materialize(_update(_assign(emb, cents)))
    return cents


def kmeans_assign(
    spark: SparkSession,
    sf_dir: str,
    k: int = K,
    iters: int = ITERS,
    emb: DataFrame | None = None,
) -> DataFrame:
    """Final (vector -> cluster, scaled distance) after ``iters`` Lloyd
    rounds from the stride init, over ``emb`` (a :func:`kmeans_corpus`
    to share between runs) or a fresh corpus."""
    if emb is None:
        emb = kmeans_corpus(spark, sf_dir)
    return _assign(emb, _lloyd(emb, k, iters)).select(
        "vec_id", F.col("cid").alias("cluster"), F.col("ds").alias("dist_x1m")
    )


def _sql_assign(src: str, cents: str) -> str:
    d = f"CAST(ROUND({sql_sqdist('t.e', 'c.ce')} * {DIST_SCALE}) AS BIGINT)"
    return (
        "SELECT vec_id, e, cid, ds FROM ("
        "  SELECT vec_id, e, cid, ds,"
        "         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ds, cid) AS rn"
        f"  FROM (SELECT t.vec_id, t.e, c.cid, {d} AS ds"
        f"        FROM {src} t CROSS JOIN {cents} c)"
        ") WHERE rn = 1"
    )


def _sql_update(assigned: str) -> str:
    cval = (
        f"CAST(SUM(CAST(ROUND(u.val * {DIST_SCALE}) AS BIGINT)) AS DOUBLE)"
        f" / {float(DIST_SCALE)} / CAST(COUNT(*) AS DOUBLE)"
    )
    return (
        "SELECT cid, list(cval ORDER BY pos) AS ce FROM ("
        f"  SELECT cid, u.pos, {cval} AS cval"
        f"  FROM {assigned} t, LATERAL (SELECT unnest(t.e) AS val,"
        "        generate_subscripts(t.e, 1) AS pos) u"
        "  GROUP BY cid, u.pos) GROUP BY cid"
    )


def _kmeans_oracle_ctes() -> str:
    ids = ", ".join(str(c * INIT_STRIDE) for c in range(K))
    parts = [
        "emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        f"c0 AS (SELECT CAST(vec_id / {INIT_STRIDE} AS INT) AS cid, e AS ce"
        f"       FROM emb WHERE vec_id IN ({ids}))",
    ]
    for i in range(ITERS):
        parts.append(f"a{i} AS ({_sql_assign('emb', f'c{i}')})")
        parts.append(f"c{i + 1} AS ({_sql_update(f'a{i}')})")
    parts.append(f"afinal AS ({_sql_assign('emb', f'c{ITERS}')})")
    return "WITH " + ",\n".join(parts)


_ASSIGN_ORACLE = f"""
{_kmeans_oracle_ctes()}
SELECT vec_id, cid AS cluster, ds AS dist_x1m
FROM afinal ORDER BY vec_id
"""


@query("cluster_kmeans_assign", oracle=_ASSIGN_ORACLE)
def cluster_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster assignment after 3 deterministic Lloyd rounds."""
    return kmeans_assign(spark, sf_dir)


_STATS_ORACLE = f"""
{_kmeans_oracle_ctes()}
SELECT cid AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(ds) AS BIGINT) AS sum_dist_x1m,
       CAST(MIN(vec_id) AS BIGINT) AS exemplar_id
FROM afinal GROUP BY cid ORDER BY cid
"""


@query("cluster_kmeans_stats", oracle=_STATS_ORACLE)
def cluster_kmeans_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster sizes + exact total within-cluster scaled distance.

    Same pipeline as :func:`cluster_kmeans_assign`, reduced to K rows --
    the shape a 100 TB run reports (assignments stay distributed; only
    the K-row summary ever reaches the driver).
    """
    a = kmeans_assign(spark, sf_dir)
    return (
        a.groupBy(F.col("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("dist_x1m").alias("sum_dist_x1m"),
            F.min("vec_id").alias("exemplar_id"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------- elbow sweep
ELBOW_KS = (2, 4, 8)


def _kmeans_oracle_ctes_ns(prefix: str, k: int) -> str:
    """The per-k CTE chain with namespaced CTE names, so several k
    sweeps coexist in one WITH clause."""
    ids = ", ".join(str(c * INIT_STRIDE) for c in range(k))
    parts = [
        f"{prefix}c0 AS (SELECT CAST(vec_id / {INIT_STRIDE} AS INT) AS cid,"
        f" e AS ce FROM emb WHERE vec_id IN ({ids}))",
    ]
    for i in range(ITERS):
        parts.append(
            f"{prefix}a{i} AS ({_sql_assign('emb', f'{prefix}c{i}')})"
        )
        parts.append(
            f"{prefix}c{i + 1} AS ({_sql_update(f'{prefix}a{i}')})"
        )
    parts.append(
        f"{prefix}af AS ({_sql_assign('emb', f'{prefix}c{ITERS}')})"
    )
    return ",\n".join(parts)


def _elbow_oracle() -> str:
    parts = ["emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)"]
    selects = []
    for k in ELBOW_KS:
        p = f"k{k}"
        parts.append(_kmeans_oracle_ctes_ns(p, k))
        selects.append(
            f"SELECT {k} AS k,"
            f" CAST(COUNT(*) AS BIGINT) AS n_vectors,"
            f" CAST(SUM(ds) AS BIGINT) AS inertia_x1m,"
            f" CAST(SUM(ds) // COUNT(*) AS BIGINT) AS avg_dist_x1m"
            f" FROM {p}af"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT * FROM ("
        + " UNION ALL ".join(selects)
        + ") ORDER BY k"
    )


@query("cluster_kmeans_elbow", oracle=_elbow_oracle())
def cluster_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ELBOW sweep: total within-cluster inertia after the same
    deterministic Lloyd schedule at k = {2, 4, 8} -- the
    model-selection readout that decides k before anyone trusts
    cluster assignments. Each k runs the identical stride-initialised
    exact-integer pipeline as cluster_kmeans_assign; the oracle
    replays ALL THREE chains (every round of every k) in one
    namespaced WITH clause -- the heaviest generated oracle in the
    repo, and the reason the arithmetic had to be engine-exact.

    Scale shape: k sweeps are independent (a real run launches them
    concurrently) and share one materialized corpus; per sweep the
    corpus is scanned once per round with broadcast centroids. Inertia
    sums are exact scaled integers, so the elbow curve is bit-stable
    across engines and retries."""
    emb = kmeans_corpus(spark, sf_dir)
    rows = []
    for k in ELBOW_KS:
        a = kmeans_assign(spark, sf_dir, k=k, emb=emb)
        rows.append(
            a.agg(
                F.count(F.lit(1)).alias("n_vectors"),
                F.sum("dist_x1m").alias("inertia_x1m"),
            ).select(
                F.lit(k).cast("long").alias("k"),
                "n_vectors",
                "inertia_x1m",
                F.expr("inertia_x1m div n_vectors").alias("avg_dist_x1m"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("k")


# ------------------------------------------------ semantic dedup (SemDeDup)

SEMDEDUP_TAU_X1M = 300_000  # cosine >= 0.30 within a cluster == duplicate


_SEMDEDUP_ORACLE = f"""
{_kmeans_oracle_ctes()}
, pairs AS (
  SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(ROUND({sql_cosine('a.e', 'b.e')} * 1000000) AS BIGINT) AS sim_x1m
  FROM afinal a JOIN afinal b ON a.cid = b.cid AND a.vec_id < b.vec_id
),
dropped AS (
  SELECT cid, id_b FROM pairs WHERE sim_x1m >= {SEMDEDUP_TAU_X1M}
  GROUP BY cid, id_b
),
members AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members FROM afinal GROUP BY cid
),
drops AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_dropped FROM dropped GROUP BY cid
),
sims AS (
  SELECT cid, MAX(sim_x1m) AS max_sim_x1m FROM pairs GROUP BY cid
)
SELECT m.cid AS cluster,
       m.n_members,
       COALESCE(d.n_dropped, 0) AS n_dropped,
       m.n_members - COALESCE(d.n_dropped, 0) AS n_kept,
       COALESCE(s.max_sim_x1m, 0) AS max_sim_x1m
FROM members m
LEFT JOIN drops d ON m.cid = d.cid
LEFT JOIN sims s ON m.cid = s.cid
ORDER BY cluster
"""


@query("dedup_semantic_clusters", oracle=_SEMDEDUP_ORACLE)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means-cluster the
    embedding space, then compare vectors ONLY within their cluster and
    drop every vector that has a higher-similarity twin (cosine >= tau)
    with a smaller id -- keeping one exemplar per semantic duplicate
    group. The global O(N^2) similarity matrix never exists; the
    quadratic work is confined to within-cluster blocks.

    100 TB shape: assignment is the shuffle-free broadcast-centroid
    fold from kmeans_assign; the within-cluster pair generation is a
    hash equi-join on cid. In production K scales with the corpus
    (SemDeDup uses ~100k clusters for LAION) precisely so the
    per-cluster block stays bounded -- K here is the test-scale stand-in
    and the join shape is identical. Output is the K-row per-cluster
    dedup report (assignments and verdicts stay distributed).

    Integer discipline: the cosine is the shared sequential left fold,
    rounded to x1e6 BEFORE thresholding, so both engines band pairs
    identically at the tau boundary.
    """
    from ushas_spark.operators.similarity import dot

    emb = kmeans_corpus(spark, sf_dir)
    cents = _lloyd(emb)
    # Norms are computed ONCE per vector here, not once per pair: the
    # pair stage then does a single dot fold instead of three.
    # sqrt(dot(a,a)) * sqrt(dot(b,b)) is the exact float-op sequence of
    # the shared cosine helper, so the x1e6-rounded values stay
    # bit-identical to the oracle's per-pair formulation.
    assigned = materialize(
        _assign(emb, cents).select(
            "vec_id",
            "e",
            F.col("cid"),
            F.sqrt(dot(F.col("e"), F.col("e"))).alias("nrm"),
        )
    )
    other = assigned.select(
        F.col("cid").alias("cid_b"),
        F.col("vec_id").alias("id_b"),
        F.col("e").alias("e_b"),
        F.col("nrm").alias("nrm_b"),
    )
    pairs = (
        assigned.join(
            other,
            (F.col("cid") == F.col("cid_b")) & (F.col("vec_id") < F.col("id_b")),
        )
        .select(
            "cid",
            F.col("vec_id").alias("id_a"),
            "id_b",
            F.round(
                dot(F.col("e"), F.col("e_b"))
                / (F.col("nrm") * F.col("nrm_b"))
                * 1_000_000
            )
            .cast("long")
            .alias("sim_x1m"),
        )
    )
    pairs = materialize(pairs)  # feeds both the drop count and the max-sim
    members = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    drops = (
        pairs.filter(F.col("sim_x1m") >= SEMDEDUP_TAU_X1M)
        .select("cid", "id_b")
        .distinct()
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    sims = pairs.groupBy("cid").agg(F.max("sim_x1m").alias("max_sim_x1m"))
    return (
        members.join(drops, "cid", "left")
        .join(sims, "cid", "left")
        .select(
            F.col("cid").alias("cluster"),
            "n_members",
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
            (
                F.col("n_members") - F.coalesce(F.col("n_dropped"), F.lit(0))
            ).cast("long").alias("n_kept"),
            F.coalesce(F.col("max_sim_x1m"), F.lit(0)).cast("long").alias("max_sim_x1m"),
        )
        .orderBy("cluster")
    )


# ------------------------------------------ PCA top component (power method)

PCA_DIM = 64
PCA_SCALE = 1000  # embedding quantisation: x_int = round(x * 1000)
PCA_ROUNDS = 3

_PCA_ORACLE = f"""
WITH x AS (
  SELECT list_transform(embedding::DOUBLE[],
                        e -> CAST(ROUND(e * {PCA_SCALE}) AS BIGINT)) AS xs
  FROM embeddings
),
cells AS (
  SELECT i, j, SUM(xs[CAST(i AS INT) + 1] * xs[CAST(j AS INT) + 1]) AS s
  FROM x, range({PCA_DIM}) r1(i), range({PCA_DIM}) r2(j)
  GROUP BY i, j
),
mu AS (
  SELECT i, SUM(xs[CAST(i AS INT) + 1]) AS m
  FROM x, range({PCA_DIM}) r(i) GROUP BY i
),
nn AS (SELECT COUNT(*) AS n FROM x),
c AS (
  SELECT a.i, a.j, (SELECT n FROM nn) * a.s - mi.m * mj.m AS c
  FROM cells a JOIN mu mi ON mi.i = a.i JOIN mu mj ON mj.i = a.j
),
u1 AS (SELECT i, SUM(c * 1000) AS u FROM c GROUP BY i),
s1 AS (SELECT GREATEST(MAX(ABS(u)) // 1000, 1) AS d FROM u1),
v1 AS (SELECT i, CASE WHEN u < 0 THEN -1 ELSE 1 END
                 * (ABS(u) // (SELECT d FROM s1)) AS v FROM u1),
u2 AS (SELECT c.i, SUM(c.c * v1.v) AS u FROM c JOIN v1 ON v1.i = c.j
       GROUP BY c.i),
s2 AS (SELECT GREATEST(MAX(ABS(u)) // 1000, 1) AS d FROM u2),
v2 AS (SELECT i, CASE WHEN u < 0 THEN -1 ELSE 1 END
                 * (ABS(u) // (SELECT d FROM s2)) AS v FROM u2),
u3 AS (SELECT c.i, SUM(c.c * v2.v) AS u FROM c JOIN v2 ON v2.i = c.j
       GROUP BY c.i),
s3 AS (SELECT GREATEST(MAX(ABS(u)) // 1000, 1) AS d FROM u3),
v3 AS (SELECT i, CASE WHEN u < 0 THEN -1 ELSE 1 END
                 * (ABS(u) // (SELECT d FROM s3)) AS v FROM u3)
SELECT CAST(i AS BIGINT) AS dim,
       CAST(v AS BIGINT) AS loading_q,
       CAST((SELECT MAX(ABS(u)) FROM u3) // 1000 AS BIGINT) AS eigenvalue_est
FROM v3 ORDER BY dim
"""


@query("sim_pca_power_iteration", oracle=_PCA_ORACLE)
def sim_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by {PCA_ROUNDS}
    fixed rounds of the power method -- the building block for
    embedding whitening, ABase/PCA'd product quantisation, and drift
    monitoring (tracking the lead component across snapshot deltas).

    Distributed shape, designed corpus-pass-first:

    - ONE pass over the corpus builds the (uncentered) second-moment
      matrix: each row fans out its {PCA_DIM}x{PCA_DIM} products via an
      in-row nested ``transform`` + one explode, and the groupBy(i,j)
      aggregation is map-side combinable, so the shuffle carries at
      most 4096 cells per map partition regardless of corpus size --
      never the corpus itself. Means come from the same pass's
      posexplode aggregate.
    - Centering is EXACT integer algebra: C = n*S - m_i*m_j (no float
      mean subtraction), on x{PCA_SCALE}-quantised coordinates.
    - The 4096-cell matrix is materialized once; each power-method
      round is then a broadcast join of C against the 64-row vector
      plus a 64-group aggregate -- per-round cost is O(D^2) cells, not
      another corpus scan. Rescaling divides by max|u|/1000 with
      sign-safe nonnegative integer division, identical in both
      engines.

    Overflow budget (BIGINT), worst case: |x_int| <= 1000 at x1000
    quantisation, so |S| <= 1e6*n, |C| = |n*S - m_i*m_j| <= 2e6*n^2,
    and a power-iteration cell u_i = sum_j C_ij*v_j with |v| <= 1000
    over 64 dims reaches 64 * 2e6*n^2 * 1000 ~ 1.3e11*n^2 -- which
    crosses the 9.2e18 BIGINT ceiling near n ~ 2.6e5 rows (ANSI Spark
    would throw, DuckDB errors; neither engine goes silently wrong).
    Tested scales (sf0.1 = 1.5e4 embedding rows) sit ~300x inside the
    bound. Past ~2e5 rows, drop PCA_SCALE to x100 (C shrinks 1e4x ->
    bound moves to ~2.6e7 rows) and/or rescale v to |v| <= 100, or
    swap the cell dtype to DECIMAL(38,0) -- the plan shape is
    unchanged by any of these.

    Determinism: fixed v0 = all-ones, fixed round count, integer
    rescale -- both engines walk the identical integer sequence, so the
    eigenvector sign ambiguity never arises.

    r12 (OPTIMIZATION_r12.md item 11): the corpus pass is the engine's third
    reviewed Arrow-eval allowance (tests/test_plan_lint.py
    PANDAS_EVAL_OK_NAMES, precedents sim_brute_force_topk_numpy and
    layout_hilbert_histogram). The JVM shape paid THREE corpus scans
    (pairs explode, posexplode means, count) and fanned 2080
    named_structs per row through the explode (~31M struct rows at
    sf0.1); all three readouts are exact-integer sums, so one
    mapInPandas pass emits per-batch partial G = X^T X (upper
    triangle), per-dim sums and the row count as <= 2145 tiny rows per
    batch -- one corpus scan, no struct fan-out, and the combine
    shuffle stays O(D^2) per map partition exactly like the explode's.
    numpy int64 matmul is the same exact integer arithmetic (at the
    documented overflow budget numpy would wrap where ANSI throws;
    tested scales sit ~300x inside the bound, and the PCA_SCALE
    remedies above apply unchanged). Won both interleaved isolated
    sf0.1 pairings (2.12/2.00 s vs 4.94/3.61 best-of-3),
    hash-identical in all four processes and at sf0.001/0.01/0.1. The
    JVM explode shape is kept as _pca_jvm_power_iteration with a
    bit-equality twin test (tests/test_pca_twin.py); the query stays
    DuckDB-oracle-gated."""
    rows = _pca_rows(spark, sf_dir)
    return _pca_tail(*_pca_moments_arrow(rows))


def _pca_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The x{PCA_SCALE}-quantised long-vector corpus both moment
    builders read."""
    emb = load_table(spark, sf_dir, "embeddings")
    xs = F.transform(
        _dvec(F.col("embedding")),
        lambda v: F.round(v * PCA_SCALE).cast("long"),
    )
    return emb.select(xs.alias("xs"))


def _pca_moment_batches(batches):
    """Per-task exact-integer moment partials (the mapInPandas body).

    Module-level (not a closure) so the overflow guard is unit-testable
    WITHOUT a Spark job: a deliberately-crashed Python task kills the
    session's reused workers and flakes the next test's job (observed:
    ClosedSelectorException in the suite), so the guard tests feed this
    generator pandas frames directly."""
    import numpy as np
    import pandas as pd

    iu, ju = np.triu_indices(PCA_DIM)
    G = np.zeros((PCA_DIM, PCA_DIM), dtype=np.int64)
    m = np.zeros(PCA_DIM, dtype=np.int64)
    n = 0
    max_abs = 0
    for pdf in batches:
        if not len(pdf):
            continue
        X = np.array(pdf["xs"].tolist(), dtype=np.int64)
        # Overflow guard (r13, VERDICT r12 item 7): numpy int64 WRAPS
        # where ANSI Spark throws. |G_ij| <= n * max|x|^2 over this
        # task's rows; checked in unbounded Python ints BEFORE the
        # accumulate, so the Arrow path fails as loudly as the JVM
        # twin would instead of going silently wrong. (The cross-task
        # combine is a Spark ANSI SUM, which throws on overflow by
        # itself.) Remedy at scale: drop PCA_SCALE — see the operator
        # docstring's overflow-budget table.
        max_abs = max(max_abs, int(np.abs(X).max(initial=0)))
        n += len(X)
        if max_abs and n * max_abs * max_abs >= 2 ** 63:
            raise OverflowError(
                "PCA moment accumulation would exceed int64: "
                f"{n} rows with max|x|={max_abs} in one task "
                f"(bound n*max^2 = {n * max_abs * max_abs} >= 2^63). "
                "Reduce PCA_SCALE (see sim_pca_power_iteration's "
                "overflow budget) before running at this scale."
            )
        G += X.T @ X
        m += X.sum(axis=0)
    yield pd.DataFrame(
        {
            "i": np.concatenate([iu, np.arange(PCA_DIM), [-1]]),
            "j": np.concatenate([ju, np.full(PCA_DIM, -1), [-1]]),
            "p": np.concatenate([G[iu, ju], m, [n]]),
        }
    )


def _pca_moments_arrow(rows: DataFrame):
    """One Arrow pass -> (upper-triangle cells, per-dim sums, count).

    Each batch contributes exact-integer partials; the groupBy(i, j)
    sum is order-independent, so the result is bit-identical to the
    JVM explode shape. Encoding: (i, j, p) cells for i <= j, (i, -1, m)
    per-dim sums, (-1, -1, n) the row count. The aggregate is
    materialized because all three readouts (referenced 4x downstream)
    must not re-run the corpus pass."""
    part = rows.mapInPandas(_pca_moment_batches, "i long, j long, p long")
    agg = materialize(part.groupBy("i", "j").agg(F.sum("p").alias("s")))
    upper = agg.filter((F.col("i") >= 0) & (F.col("j") >= 0))
    mu = agg.filter((F.col("i") >= 0) & (F.col("j") == -1)).select(
        "i", F.col("s").alias("m")
    )
    nn = agg.filter(F.col("i") == -1).select(F.col("s").alias("n"))
    return upper, mu, nn


def _pca_moments_jvm(rows: DataFrame):
    """The pre-r12 pure-JVM moment pass, kept as the bit-equality twin.

    Symmetry: fan out only i <= j (2080 products/row instead of 4096)
    and mirror the aggregated 2080-cell table afterwards -- halves the
    corpus-side explode+combine volume, which is the whole cost of
    this shape (r08: measured 5.8s -> ~3s at sf0.1)."""
    pairs = rows.select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(0, {PCA_DIM - 1}), i -> "
                f"transform(sequence(i, {PCA_DIM - 1}), j -> "
                "named_struct('i', i, 'j', j, 'p', xs[i] * xs[j]))))"
            )
        ).alias("s")
    ).select("s.i", "s.j", "s.p")
    upper = pairs.groupBy("i", "j").agg(F.sum("p").alias("s"))
    mu = (
        rows.select(F.posexplode("xs").alias("i", "xi"))
        .groupBy("i")
        .agg(F.sum("xi").alias("m"))
    )
    nn = rows.agg(F.count(F.lit(1)).alias("n"))
    return upper, mu, nn


def _pca_jvm_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_pca_power_iteration on the JVM explode moment pass -- the
    bit-equality twin for the reviewed Arrow allowance."""
    rows = _pca_rows(spark, sf_dir)
    return _pca_tail(*_pca_moments_jvm(rows))


def _pca_tail(upper: DataFrame, mu: DataFrame, nn: DataFrame) -> DataFrame:
    """Mirror + exact-integer centering + the power-method rounds;
    shared verbatim by both moment builders."""
    cells = upper.unionAll(
        upper.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), F.col("s")
        )
    )
    c = (
        cells.join(F.broadcast(mu.select(F.col("i"), F.col("m").alias("mi"))), "i")
        .join(
            F.broadcast(mu.select(F.col("i").alias("j"), F.col("m").alias("mj"))),
            "j",
        )
        .crossJoin(F.broadcast(nn))
        .select("i", "j", (F.col("n") * F.col("s") - F.col("mi") * F.col("mj")).alias("c"))
    )
    c = materialize(c)  # 4096 cells; iteration rounds never re-scan the corpus

    v = None  # round 1 uses the implicit all-ones * 1000 start vector
    u = None
    for _ in range(PCA_ROUNDS):
        if v is None:
            u = c.groupBy("i").agg(F.sum(F.col("c") * 1000).alias("u"))
        else:
            vj = F.broadcast(v.select(F.col("i").alias("j"), F.col("v").alias("vj")))
            u = c.join(vj, "j").groupBy("i").agg(F.sum(F.col("c") * F.col("vj")).alias("u"))
        u = materialize(u)  # 64 rows; keeps each round's plan flat (the
        # d- and v-branches below both read u, and round k+1's join would
        # otherwise re-derive rounds 1..k twice per branch)
        d = u.agg(
            F.greatest(F.expr("max(abs(u)) div 1000"), F.lit(1)).alias("d")
        )
        v = u.crossJoin(F.broadcast(d)).select(
            "i",
            (
                F.when(F.col("u") < 0, -1).otherwise(1)
                * F.expr("abs(u) div d")
            ).alias("v"),
        )
    lam = u.agg(F.expr("max(abs(u)) div 1000").alias("eigenvalue_est"))
    return (
        v.crossJoin(F.broadcast(lam))
        .select(
            F.col("i").cast("long").alias("dim"),
            F.col("v").cast("long").alias("loading_q"),
            F.col("eigenvalue_est").cast("long"),
        )
        .orderBy("dim")
    )
