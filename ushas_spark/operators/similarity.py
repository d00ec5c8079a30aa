"""Embedding similarity search (ANN) over the `embeddings` table.

Two tiers:

- ``cosine_topk``: exact brute-force cosine top-k -- the correctness
  baseline. Query set broadcast against the candidate corpus; the
  per-pair dot product is a JVM higher-order fold (zip_with + aggregate),
  so the inner loop stays in the JVM, no Python (interpreted: both are
  ``CodegenFallback`` expressions on Spark 4.1).
  ``cosine_topk_numpy`` is the Arrow/BLAS alternative (matmul per batch,
  partition-local top-k): measured 1.7x faster at sf0.1 (1.06s vs
  1.82s best-of-3) and the gap grows with corpus size -- prefer it when
  bit-for-bit SQL-fold parity is not required.
- ``ann_lsh_topk``: random-hyperplane LSH -- the scale path. Hyperplane
  weights are derived deterministically from md5 (computed once in Python,
  embedded as literals), vectors hash to sign-pattern buckets, and only
  same-bucket pairs are scored. At 100 TB this turns the O(Q x N) scan
  into a bucket-partitioned join; recall is tunable by planes/tables
  (verified vs brute force in tests/test_similarity.py).

Determinism: dot products are sequential left folds in BOTH engines (the
oracle mirrors the fold with list_reduce), and similarity values are
reported as scaled integers (ROUND(x * 1e6) -> BIGINT, the 0-decimal
rounding that is engine-exact; see oracle_exact.py).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ushas_spark.io import load_table
from ushas_spark.registry import query

DIM = 64
N_QUERIES = 5  # vec_id < 5 are the demo query vectors
TOP_K = 10
# Multi-table LSH: L tables of P planes each. One 8-plane table gives
# 256 buckets over this corpus (~2 vectors/bucket, recall ~4% -- measured);
# 4 tables x 4 planes -> 16 buckets/table with candidates unioned across
# tables restores recall while keeping each bucket join small.
N_TABLES = 4
PLANES_PER_TABLE = 4


def _dvec(col: Column) -> Column:
    """array<float> -> array<double> so both engines fold in double."""
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (JVM lambda, interpreted:
    ``ZipWith``/``ArrayAggregate`` are ``CodegenFallback``)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def sql_dot(a: str, b: str) -> str:
    """DuckDB mirror: same left fold via list_reduce."""
    return (
        f"list_reduce(list_prepend(0.0, "
        f"list_transform(list_zip({a}, {b}), p -> p[1] * p[2])), "
        f"(acc, v) -> acc + v)"
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / (sqrt({sql_dot(a, a)}) * sqrt({sql_dot(b, b)})))"


def _ranked_topk_sql(score: str, order: str) -> str:
    """Oracle tail: the ``TOP_K`` rows of the ``scored`` CTE per ``qid``
    by ``order`` (ties to the smaller cand_id), as (qid, cand_id,
    ``score``, rnk)."""
    return f"""ranked AS (
  SELECT qid, cand_id, {score},
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY {order}, cand_id) AS rnk
  FROM scored
)
SELECT qid, cand_id, {score}, rnk
FROM ranked WHERE rnk <= {TOP_K}
ORDER BY qid, rnk
"""


def ranked_topk(scored: DataFrame, order: Column | str, k: int) -> DataFrame:
    """Spark mirror of :func:`_ranked_topk_sql`: the ``k`` rows of
    ``scored`` per ``qid`` by ``order`` (ties to the smaller cand_id),
    numbered 1.. in ``rnk``. One shuffle on qid."""
    w = W.partitionBy("qid").orderBy(order, "cand_id")
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def _query_vectors(emb: DataFrame) -> DataFrame:
    """The demo query set ``(qid, e)``: the first N_QUERIES vectors."""
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e")
    )


def _topk_ids_sql(name: str, src: str) -> str:
    """Oracle CTE ``name``: the ``(qid, cand_id)`` of the ``TOP_K`` rows
    of ``src`` per qid by sim_x1m (ties to the smaller cand_id)."""
    return f"""{name} AS (
  SELECT qid, cand_id FROM (
    SELECT qid, cand_id,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY sim_x1m DESC, cand_id) AS rnk
    FROM {src}) WHERE rnk <= {TOP_K}
)"""


# Oracle CTEs: the corpus ``v``, the query set ``q`` and every
# (query, candidate) exact cosine in ``scored``; ends with a comma.
_EXACT_SCORED_SQL = f"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT qid, v.vec_id AS cand_id,
         CAST(ROUND({sql_cosine("qe", "e")} * 1000000) AS BIGINT) AS sim_x1m
  FROM q JOIN v ON v.vec_id <> qid
),"""

_BRUTE_ORACLE = f"""
WITH {_EXACT_SCORED_SQL}
{_ranked_topk_sql("sim_x1m", "sim_x1m DESC")}"""


def cosine_topk(queries_df: DataFrame, corpus_df: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact top-k cosine neighbours of each query vector ``(qid, e)``
    in the corpus ``(vec_id, e)``.

    Scale shape: broadcast the (small) query set, stream the corpus once,
    rank per query with one shuffle on qid. Never collect the corpus."""
    q = queries_df.select(F.col("qid"), F.col("e").alias("qe"))
    # Fan out the corpus: a single small parquet file is one partition,
    # and the per-pair fold below runs per-core only if the scan does.
    n = corpus_df.sparkSession.sparkContext.defaultParallelism
    c = corpus_df.repartition(n).select(
        F.col("vec_id").alias("cand_id"), F.col("e").alias("ce")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("qid"))
        .select(
            "qid",
            "cand_id",
            F.round(cosine(F.col("qe"), F.col("ce")) * 1_000_000)
            .cast("long")
            .alias("sim_x1m"),
        )
    )
    return ranked_topk(scored, F.col("sim_x1m").desc(), k)


@query("sim_brute_force_topk", oracle=_BRUTE_ORACLE)
def sim_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("e")
    )
    return cosine_topk(_query_vectors(emb), emb).orderBy("qid", "rnk")


# ------------------------------------------------------------- LSH ANN


def _plane_weights() -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 -- identical when
    recomputed anywhere (the reproducibility property LSH needs so that
    yesterday's buckets match today's incremental run)."""
    planes = []
    for p in range(N_TABLES * PLANES_PER_TABLE):
        w = []
        for i in range(DIM):
            h = int(hashlib.md5(f"plane{p}:{i}".encode()).hexdigest()[:15], 16)
            w.append(((h % 2001) - 1000) / 1000.0)
        planes.append(w)
    return planes


def _bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit p = (v . w_p) >= 0."""
    acc = F.lit(0).cast("long")
    for p, w in enumerate(planes):
        warr = F.array(*[F.lit(x) for x in w])
        bit = F.when(dot(vec, warr) >= 0, F.lit(2**p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        acc = acc + bit
    return acc


def _sql_bucket(vec: str, planes: list[list[float]]) -> str:
    terms = []
    for p, w in enumerate(planes):
        arr = "[" + ", ".join(repr(x) for x in w) + "]"
        terms.append(
            f"CASE WHEN {sql_dot(vec, arr)} >= 0 THEN CAST({2**p} AS BIGINT) ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


_PLANES = _plane_weights()


def _tables(planes: list[list[float]]) -> list[list[list[float]]]:
    return [
        planes[t * PLANES_PER_TABLE : (t + 1) * PLANES_PER_TABLE]
        for t in range(N_TABLES)
    ]


def _lsh_buckets(emb: DataFrame) -> DataFrame:
    """``(vec_id, e, tbl, bucket)``: every vector exploded into its
    sign-pattern bucket in each of the N_TABLES LSH tables."""
    tbl_structs = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                _bucket_expr(F.col("e"), tp).alias("bucket"),
            )
            for t, tp in enumerate(_tables(_PLANES))
        ]
    )
    return emb.select("vec_id", "e", F.explode(tbl_structs).alias("tb")).select(
        "vec_id", "e", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
    )


_ANN_ORACLE = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS (
  {" UNION ALL ".join(
      f"SELECT vec_id, e, {t} AS tbl, {_sql_bucket('e', tp)} AS bucket FROM v"
      for t, tp in enumerate(_tables(_PLANES))
  )}
),
q AS (SELECT vec_id AS qid, e AS qe, tbl, bucket FROM b WHERE vec_id < {N_QUERIES}),
cand AS (
  SELECT DISTINCT qid, qe, b.vec_id AS cand_id, b.e AS ce
  FROM q JOIN b ON b.tbl = q.tbl AND b.bucket = q.bucket AND b.vec_id <> qid
),
scored AS (
  SELECT qid, cand_id,
         CAST(ROUND({sql_cosine("qe", "ce")} * 1000000) AS BIGINT) AS sim_x1m
  FROM cand
),
{_ranked_topk_sql("sim_x1m", "sim_x1m DESC")}"""


def ann_lsh_topk(emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """Multi-table LSH approximate top-k: score only candidates sharing a
    bucket with the query in ANY table. One narrow map to (table, bucket)
    ids (explode), one equi-join on them -- the join IS the partition
    pruning (an IVF coarse quantiser would swap sign-patterns for k-means
    centroids; same plan shape). Recall tunes with N_TABLES."""
    b = _lsh_buckets(emb)
    # Rename every query-side column: q derives from b, so un-aliased
    # join conditions would resolve to trivially-true self-compares.
    q = b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("qe"),
        F.col("tbl").alias("qtbl"),
        F.col("bucket").alias("qbucket"),
    )
    cand = (
        b.join(
            F.broadcast(q),
            (F.col("tbl") == F.col("qtbl"))
            & (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("qid")),
        )
        .select("qid", "qe", F.col("vec_id").alias("cand_id"), F.col("e").alias("ce"))
        .distinct()
    )
    scored = cand.select(
        "qid",
        "cand_id",
        F.round(cosine(F.col("qe"), F.col("ce")) * 1_000_000)
        .cast("long")
        .alias("sim_x1m"),
    )
    return ranked_topk(scored, F.col("sim_x1m").desc(), k)


@query("sim_ann_lsh_topk", oracle=_ANN_ORACLE)
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("e")
    )
    return ann_lsh_topk(emb).orderBy("qid", "rnk")


_EMB_DEDUP_ORACLE = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS (
  {" UNION ALL ".join(
      f"SELECT vec_id, e, {t} AS tbl, {_sql_bucket('e', tp)} AS bucket FROM v"
      for t, tp in enumerate(_tables(_PLANES))
  )}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, a.e AS e_a, bb.vec_id AS id_b, bb.e AS e_b
  FROM b a JOIN b bb
    ON a.tbl = bb.tbl AND a.bucket = bb.bucket AND a.vec_id < bb.vec_id
)
SELECT id_a, id_b,
       CAST(ROUND({sql_cosine("e_a", "e_b")} * 1000000) AS BIGINT) AS sim_x1m
FROM cand
WHERE {sql_cosine("e_a", "e_b")} >= 0.40
ORDER BY id_a, id_b
"""


@query("dedup_embedding_cosine", oracle=_EMB_DEDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= 0.40 -- the synthetic corpus has no truly duplicated vectors; max pairwise cosine is ~0.51, so the demo threshold sits at the top of the real distribution): the semantic
    dedup tier. LSH buckets bound the candidate set exactly as in ANN
    search -- at 100 TB this is the only formulation that avoids the
    O(N^2) similarity matrix; the threshold check runs per candidate
    pair."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("e")
    )
    b = _lsh_buckets(emb)
    other = b.select(
        F.col("vec_id").alias("id_b"),
        F.col("e").alias("e_b"),
        F.col("tbl").alias("tbl_b"),
        F.col("bucket").alias("bucket_b"),
    )
    cand = (
        b.join(
            other,
            (F.col("tbl") == F.col("tbl_b"))
            & (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_id") < F.col("id_b")),
        )
        .select(
            F.col("vec_id").alias("id_a"),
            F.col("e").alias("e_a"),
            "id_b",
            "e_b",
        )
        .distinct()
    )
    sim = cosine(F.col("e_a"), F.col("e_b"))
    return (
        cand.filter(sim >= 0.40)
        .select(
            "id_a",
            "id_b",
            F.round(sim * 1_000_000).cast("long").alias("sim_x1m"),
        )
        .orderBy("id_a", "id_b")
    )


_NORM_ORACLE = f"""
WITH v AS (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
n AS (SELECT label,
             CAST(ROUND(sqrt({sql_dot("e", "e")}) * 10000) AS BIGINT) AS norm_x10k
      FROM v)
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(SUM(norm_x10k) AS DOUBLE) / 10000.0 / COUNT(*) AS avg_norm
FROM n GROUP BY label ORDER BY label
"""


@query("sim_norm_stats", oracle=_NORM_ORACLE)
def sim_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-norm profile per label (embedding QA primitive)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", _dvec(F.col("embedding")).alias("e")
    )
    norm_scaled = F.round(F.sqrt(dot(F.col("e"), F.col("e"))) * 10_000).cast("long")
    return (
        emb.select("label", norm_scaled.alias("norm_x10k"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.sum("norm_x10k").cast("double") / 10_000.0 / F.count("*")).alias("avg_norm"),
        )
        .orderBy("label")
    )


# --------------------------------------- binary quantization + Hamming ANN


def _pack_bits(vec: Column, lo: int, hi: int) -> Column:
    """Pack sign bits of dims [lo, hi) into one long (bit i-lo = dim i >= 0)."""
    acc = F.lit(0).cast("long")
    for i in range(lo, hi):
        acc = acc + F.when(
            F.element_at(vec, i + 1) >= 0, F.lit(1 << (i - lo)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return acc


def _sql_pack(vec: str, lo: int, hi: int) -> str:
    terms = [
        f"CASE WHEN {vec}[{i + 1}] >= 0 THEN CAST({1 << (i - lo)} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END"
        for i in range(lo, hi)
    ]
    return "(" + " + ".join(terms) + ")"


_HAMMING_ORACLE = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
p AS (SELECT vec_id,
             {_sql_pack("e", 0, 32)} AS b_lo,
             {_sql_pack("e", 32, DIM)} AS b_hi
      FROM v),
q AS (SELECT vec_id AS qid, b_lo AS q_lo, b_hi AS q_hi
      FROM p WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT qid, p.vec_id AS cand_id,
         CAST(bit_count(xor(q_lo, b_lo)) + bit_count(xor(q_hi, b_hi))
              AS BIGINT) AS hamming
  FROM q JOIN p ON p.vec_id <> qid
),
{_ranked_topk_sql("hamming", "hamming")}"""


@query("sim_hamming_packed_topk", oracle=_HAMMING_ORACLE)
def sim_hamming_packed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN: sign-quantize each 64-dim embedding into two
    packed 32-bit words (one narrow projection), then rank by Hamming
    distance = bit_count(xor) -- the standard memory-bound formulation at
    100 TB (16 bytes/vector instead of 512; XOR+popcount stays in
    whole-stage codegen, no float math, no Python). Quantized recall vs
    exact cosine is measured in tests/test_operators.py.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("e")
    )
    n = emb.sparkSession.sparkContext.defaultParallelism
    p = emb.repartition(n).select(
        "vec_id",
        _pack_bits(F.col("e"), 0, 32).alias("b_lo"),
        _pack_bits(F.col("e"), 32, DIM).alias("b_hi"),
    )
    q = p.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("b_lo").alias("q_lo"),
        F.col("b_hi").alias("q_hi"),
    )
    ham = (
        F.bit_count(F.col("q_lo").bitwiseXOR(F.col("b_lo")))
        + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("b_hi")))
    ).cast("long")
    scored = (
        p.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cand_id"), ham.alias("hamming"))
    )
    return ranked_topk(scored, "hamming", TOP_K).orderBy("qid", "rnk")


# --------------------------------------------- per-label centroid stats

_CENTROID_ORACLE = """
WITH d AS (
  SELECT label, i AS dim,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS sv
  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
), s AS (
  SELECT label, dim, SUM(sv) AS sd FROM d GROUP BY 1, 2
), n AS (
  SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY label
)
SELECT label, n_vecs,
       CAST(SUM(sd * sd) AS DOUBLE)
         / (100000000.0 * n_vecs * n_vecs) AS centroid_norm2
FROM s JOIN n USING (label)
GROUP BY label, n_vecs
ORDER BY label
"""


@query("sim_label_centroid_stats", oracle=_CENTROID_ORACLE)
def sim_label_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norm over the embedding corpus -- the cluster-
    quality probe an embedding pipeline runs after assignment (tight
    clusters -> centroid norm near the member norms; noise -> near 0).

    Scale shape: posexplode to (label, dim) rows and aggregate -- the
    shuffle key is (label, dim), so no reducer ever holds a whole label's
    vectors (the naive collect-per-label formulation does). Sums are
    exact scaled BIGINTs (elements rounded at 1e4); the only float op is
    ONE final division of exact integers, identical in both engines.
    Overflow headroom: |sum| <= n * 1e4-scale * dim; at 1e9 vectors per
    label the dot of sums stays under int64 by restricting to
    per-dimension partials -- at genuinely larger scales switch sd to
    DECIMAL(38,0).
    """
    e = load_table(spark, sf_dir, "embeddings")
    d = e.select("label", F.posexplode("embedding").alias("dim", "val"))
    sv = F.round(F.col("val").cast("double") * 10000).cast("long")
    s = d.groupBy("label", "dim").agg(F.sum(sv).alias("sd"))
    n = e.groupBy("label").agg(F.count("*").alias("n_vecs"))
    return (
        s.groupBy("label")
        .agg(F.sum(F.col("sd") * F.col("sd")).alias("_num"))
        .join(F.broadcast(n), "label")
        .select(
            "label",
            "n_vecs",
            (
                F.col("_num").cast("double")
                / (F.lit(100000000.0) * F.col("n_vecs") * F.col("n_vecs"))
            ).alias("centroid_norm2"),
        )
        .orderBy("label")
    )


# ------------------------------------- vectorized (Arrow/numpy) variant


def cosine_topk_numpy(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """Brute-force cosine top-k via mapInPandas + numpy matmul -- the
    Arrow-vectorized alternative to the JVM fold (``cosine_topk``).

    Scale shape: the (tiny) query matrix is broadcast as a plain Python
    object into every Arrow batch task; each task does ONE
    (batch x dim) @ (dim x n_queries) matmul over the corpus partition
    it owns, keeps a local top-k per query, and only (batch_topk) rows
    cross back -- a global top-k window trims the partials. Per-pair
    work is BLAS-vectorized; nothing is ever collected to the driver.

    Not oracle-gated: numpy's pairwise/SIMD summation order differs from
    the sequential fold, so the last ulp of a similarity can differ from
    the SQL mirror; tests instead pin rank agreement with the fold
    implementation (ids must match exactly; values to 1e-9).
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select("qid", "e").collect()  # N_QUERIES rows, tiny
    qids = [r.qid for r in q_rows]
    qmat = np.array([r.e for r in q_rows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)

    out_schema = "qid bigint, cand_id bigint, sim double"

    def op(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            mat = np.array(list(pdf["e"]), dtype=np.float64)
            if len(mat) == 0:
                continue
            norms = np.linalg.norm(mat, axis=1)
            sims = (mat @ qmat.T) / np.outer(norms, qnorm)
            for j, qid in enumerate(qids):
                col = sims[:, j]
                mask = ids != qid
                cand, vals = ids[mask], col[mask]
                if len(cand) > TOP_K:
                    part = np.argpartition(-vals, TOP_K)[:TOP_K]
                    cand, vals = cand[part], vals[part]
                yield pd.DataFrame(
                    {"qid": qid, "cand_id": cand, "sim": vals}
                )

    partials = corpus.select("vec_id", "e").mapInPandas(op, schema=out_schema)
    return (
        ranked_topk(partials, F.col("sim").desc(), TOP_K)
        .select(
            "qid",
            "cand_id",
            F.round(F.col("sim") * 1_000_000).cast("long").alias("sim_x1m"),
            "rnk",
        )
    )


@query("sim_brute_force_topk_numpy")  # rank-equivalence tested; see docstring
def sim_brute_force_topk_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy brute-force cosine top-k (rows-only check: float
    summation order differs from the SQL fold by design; the fold-vs-
    matmul rank agreement is pinned in tests/test_operators.py)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("e")
    )
    return cosine_topk_numpy(_query_vectors(emb), emb).orderBy("qid", "rnk")


# --- int8 scalar quantization (SQ8) ---------------------------------------
# The memory-bound regime at 100 TB: quantize each dimension to int8 once
# (4x smaller than float32, 8x smaller than the double arrays above), then
# score candidates with an INTEGER dot product -- exact, overflow-free
# (64 dims x 127^2 < 2^21), and entirely in the JVM (the fold itself is
# interpreted: zip_with/aggregate are CodegenFallback). Unlike
# every float variant, the quantized score has no summation-order concerns
# at all, so the oracle is a bit-trivial mirror. Recall vs the float
# brute force is pinned in tests/test_operators.py.
SQ_SCALE = 192  # |x| <= ~0.53 in this corpus; 192 uses most of int8 range


def quantize_sq8(vec: Column) -> Column:
    """array<float> -> array<long> int8-range quantization (clamped)."""
    return F.transform(
        vec,
        lambda x: F.greatest(
            F.lit(-127.0), F.least(F.lit(127.0), F.round(x.cast("double") * SQ_SCALE))
        ).cast("long"),
    )


def sql_quantize_sq8(vec: str) -> str:
    return (
        f"list_transform({vec}, x -> CAST(GREATEST(-127.0, LEAST(127.0, "
        f"ROUND(CAST(x AS DOUBLE) * {SQ_SCALE}))) AS BIGINT))"
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def sql_int_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(list_zip({a}, {b}), p -> p[1] * p[2])), "
        f"(acc, v) -> acc + v)"
    )


_SQ8_ORACLE = f"""
WITH v AS (SELECT vec_id, {sql_quantize_sq8('embedding')} AS qe FROM embeddings),
q AS (SELECT vec_id AS qid, qe AS qq FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT qid, v.vec_id AS cand_id,
         CAST({sql_int_dot("qq", "qe")} AS BIGINT) AS dot_q
  FROM q JOIN v ON v.vec_id <> qid
),
{_ranked_topk_sql("dot_q", "dot_q DESC")}"""


@query("sim_sq8_topk", oracle=_SQ8_ORACLE)
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by int8-quantized dot product (exact integer scoring)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize_sq8(F.col("embedding")).alias("qe")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("qe").alias("qq")
    )
    scored = emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        F.col("vec_id").alias("cand_id"),
        int_dot(F.col("qq"), F.col("qe")).alias("dot_q"),
    )
    return ranked_topk(scored, F.col("dot_q").desc(), TOP_K).orderBy("qid", "rnk")


# --- product quantization (PQ) with ADC scoring ----------------------------
# The FAISS-style memory tier below SQ8: each int8-quantized vector is
# encoded as M=8 subspace codes (16 codewords each, so 8x4 bits per
# vector) and queries score candidates against the candidate's codeword
# RECONSTRUCTION -- asymmetric distance computation -- in pure 64-bit
# integer arithmetic. The codebook is sampled from the corpus itself by
# id stride (the k-means-init step of PQ training; both engines derive
# the identical codebook from the same rows, so encode + ADC are
# oracle-gated bit-for-bit). A fully trained codebook would run the
# Lloyd loop from operators/clustering.py per subspace.
PQ_M = 8           # subspaces
PQ_SUB = DIM // PQ_M
PQ_K = 16          # codewords per subspace
PQ_STRIDE = 29     # codeword k derives from the vector with id k*29


def _pq_sqdist_int(a: str, b: str, dialect: str) -> str:
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
            f" 0L, (acc, v) -> acc + v)"
        )
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(list_zip({a}, {b}),"
        f" p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, v) -> acc + v)"
    )


def _pq_recon_expr(vec: str, cs: str, dialect: str) -> str:
    """Reconstruction of ``vec``: per subspace, the codeword (from the
    struct array ``cs`` of {{m, k, sub}}) minimizing the integer squared
    distance; ties -> smaller k. Concatenated back to a full vector."""
    if dialect == "spark":
        sub = f"slice({vec}, m * {PQ_SUB} + 1, {PQ_SUB})"
        cand = (
            f"transform(filter({cs}, c -> c.m = m), c -> "
            f"struct({_pq_sqdist_int(sub, 'c.sub', 'spark')} AS ds,"
            f" c.k AS k, c.sub AS sub))"
        )
        return (
            f"flatten(transform(sequence(0, {PQ_M - 1}), m -> "
            f"array_min({cand}).sub))"
        )
    sub = f"{vec}[(m * {PQ_SUB} + 1):((m + 1) * {PQ_SUB})]"
    cand = (
        f"list_transform(list_filter({cs}, c -> c.m = m), c -> "
        f"{{'ds': {_pq_sqdist_int(sub, 'c.sub', 'duck')}, 'k': c.k, 'sub': c.sub}})"
    )
    return (
        f"flatten(list_transform(generate_series(0, {PQ_M - 1}), m -> "
        f"list_min({cand}).sub))"
    )


def _pq_codebook_sql() -> str:
    """DuckDB CTEs producing the 1-row codebook struct array ``cs``."""
    ids = ", ".join(str(k * PQ_STRIDE) for k in range(PQ_K))
    return f"""
cwsrc AS (
  SELECT CAST(vec_id / {PQ_STRIDE} AS INT) AS k, qe FROM v
  WHERE vec_id IN ({ids})),
cw AS (
  SELECT m, k, qe[(m * {PQ_SUB} + 1):((m + 1) * {PQ_SUB})] AS sub
  FROM cwsrc, LATERAL (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m)),
cb AS (SELECT list({{'m': m, 'k': k, 'sub': sub}}) AS cs FROM cw)
"""


def pq_reconstruct(emb: DataFrame) -> DataFrame:
    """PQ reconstruction ``(vec_id, re)`` of every row of ``emb``
    ``(vec_id, qe, ...)``: the codebook is sampled by id stride and
    folded into one struct-array row, broadcast to the encode."""
    ids = [k * PQ_STRIDE for k in range(PQ_K)]
    cwsrc = emb.filter(F.col("vec_id").isin(ids)).select(
        (F.col("vec_id") / PQ_STRIDE).cast("int").alias("k"), "qe"
    )
    cw = cwsrc.select(
        "k", F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"), "qe"
    ).selectExpr("m", "k", f"slice(qe, m * {PQ_SUB} + 1, {PQ_SUB}) AS sub")
    cb = cw.agg(F.collect_list(F.struct("m", "k", "sub")).alias("cs"))
    return emb.crossJoin(F.broadcast(cb)).selectExpr(
        "vec_id", f"{_pq_recon_expr('qe', 'cs', 'spark')} AS re"
    )


_PQ_ORACLE = f"""
WITH v AS (SELECT vec_id, {sql_quantize_sq8('embedding')} AS qe FROM embeddings),
{_pq_codebook_sql().strip().rstrip()}
,
recon AS (
  SELECT vec_id, {_pq_recon_expr('qe', 'cs', 'duck')} AS re
  FROM v, cb),
q AS (SELECT vec_id AS qid, qe AS qq FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.qid, r.vec_id AS cand_id,
         CAST({_pq_sqdist_int('qq', 're', 'duck')} AS BIGINT) AS adc_dist
  FROM q JOIN recon r ON r.vec_id <> q.qid
),
{_ranked_topk_sql("adc_dist", "adc_dist")}"""


@query("sim_pq_adc_topk", oracle=_PQ_ORACLE)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-encoded corpus scored by asymmetric distance (ADC) top-k.

    The corpus is reduced to per-subspace nearest-codeword
    reconstructions (the stored form is the 4-bit codes; at 100 TB
    that's ~1/64 the float32 footprint, encoded in one scan against a
    broadcast codebook folded into a single struct-array row -- zero
    shuffles, same shape as the k-means assign). Queries then rank
    candidates by integer squared distance to the reconstruction.
    Candidate generation here is the brute-force broadcast (the gate
    shape); production puts the IVF coarse quantiser from ivf.py in
    front, which is exactly FAISS IVF-PQ.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize_sq8(F.col("embedding")).alias("qe")
    )
    recon = pq_reconstruct(emb)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("qe").alias("qq")
    )
    scored = recon.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).selectExpr(
        "qid",
        "vec_id AS cand_id",
        f"CAST({_pq_sqdist_int('qq', 're', 'spark')} AS BIGINT) AS adc_dist",
    )
    return ranked_topk(scored, "adc_dist", TOP_K).orderBy("qid", "rnk")


# --------------------------------------- Rademacher random projection (JL)
RP_DIMS = 8


def _rp_sign(j: int, d: int) -> int:
    """Deterministic +-1 from md5 -- data-independent, so the sign
    matrix is a compile-time constant shared verbatim by the Spark
    expression and the DuckDB oracle (the fixed-seed pattern used by the
    LSH hyperplanes above)."""
    h = hashlib.md5(f"rp:{j}:{d}".encode()).hexdigest()
    return 1 if int(h[:15], 16) % 2 == 0 else -1

_RP_SIGNS = [[_rp_sign(j, d) for d in range(DIM)] for j in range(RP_DIMS)]


def _rp_oracle() -> str:
    projs = []
    for j in range(RP_DIMS):
        terms = []
        for d in range(DIM):
            t = f"CAST(embedding[{d + 1}] AS DOUBLE)"
            terms.append(f"- {t}" if _RP_SIGNS[j][d] < 0 else f"+ {t}")
        # First term keeps its sign; a leading "+" is dropped for syntax.
        head = terms[0][2:] if terms[0].startswith("+ ") else terms[0]
        expr = " ".join([head, *terms[1:]])
        projs.append(
            f"CAST(ROUND(({expr}) * 1000000) AS BIGINT) AS p{j}_x1m"
        )
    cols = ",\n       ".join(projs)
    return f"""
SELECT vec_id,
       {cols}
FROM embeddings
ORDER BY vec_id
"""


@query("sim_random_projection", oracle=_rp_oracle())
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project every
    64-d embedding to {RP_DIMS} dims through a fixed Rademacher (+-1)
    sign matrix -- the cheap pre-ANN compression that preserves pairwise
    distances in expectation (distortion pinned by
    tests/test_operators.py::test_random_projection_distortion_bounded).

    Scale shape: ZERO shuffles and zero Python -- each output dim is a
    64-term signed sum over the embedding array, generated as a literal
    JVM expression (no per-row hash evaluation: the sign matrix is
    data-independent, so it is burned into the plan, not computed).
    Both engines evaluate the identical left-associated double-precision
    sum, so projections agree bit-for-bit before the x1e6 scaling.

    Reference analog: none (no vector surface in the fork); at cluster
    scale this is the map-side step that makes downstream LSH/IVF
    bucketing O(K) instead of O(D) per row.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    out = [F.col("vec_id")]
    for j in range(RP_DIMS):
        acc: Column | None = None
        for d in range(DIM):
            term = F.element_at("embedding", d + 1).cast("double")
            if _RP_SIGNS[j][d] < 0:
                term = -term
            acc = term if acc is None else acc + term
        out.append(
            F.round(acc * 1_000_000).cast("long").alias(f"p{j}_x1m")
        )
    return emb.select(*out).orderBy("vec_id")


# ------------------------------------------------ k-NN label classification
_KNN_ORACLE = f"""
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT qid, v.vec_id AS cand_id, v.label,
         CAST(ROUND({sql_cosine("qe", "e")} * 1000000) AS BIGINT) AS sim_x1m
  FROM q JOIN v ON v.vec_id <> qid
),
ranked AS (
  SELECT qid, cand_id, label, sim_x1m,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY sim_x1m DESC, cand_id) AS rnk
  FROM scored
),
votes AS (
  SELECT qid, label, CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM ranked WHERE rnk <= {TOP_K}
  GROUP BY qid, label
)
SELECT qid,
       arg_min(label, printf('%03d|%010d', {TOP_K} - n_votes, label))
         AS predicted_label,
       CAST(MAX(n_votes) AS BIGINT) AS n_votes
FROM votes
GROUP BY qid
ORDER BY qid
"""


@query("sim_knn_classify", oracle=_KNN_ORACLE)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label prediction: majority label among each query vector's
    {TOP_K} exact cosine neighbours, ties broken to the smallest label
    (encoded as a fixed-width (k - votes, label) string so min_by picks
    most-votes-then-smallest-label identically on both engines).

    Scale shape: the neighbour search is :func:`cosine_topk` (broadcast
    query set, one corpus scan, per-query ranking on one qid shuffle);
    the vote is two tiny aggregates over k rows per query. Swap the
    brute-force stage for the IVF/LSH variants at corpus scale -- the
    voting tail is identical.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _dvec(F.col("embedding")).alias("e")
    )
    top = cosine_topk(_query_vectors(emb), emb)
    labels = emb.select(F.col("vec_id").alias("cand_id"), "label")
    votes = (
        top.join(F.broadcast(labels), "cand_id")
        .groupBy("qid", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    return (
        votes.groupBy("qid")
        .agg(
            F.min_by(
                "label",
                F.format_string(
                    "%03d|%010d", F.lit(TOP_K) - F.col("n_votes"), F.col("label")
                ),
            ).alias("predicted_label"),
            F.max("n_votes").alias("n_votes"),
        )
        .orderBy("qid")
    )


# ------------------------------------------ pairwise-distance diagnostics
PDH_OFFSETS = 5  # each vector pairs with the next 5 ids (deterministic band)

_PDH_ORACLE = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(ROUND({sql_cosine("a.e", "b.e")} * 1000000) AS BIGINT)
           AS cos_x1m
  FROM v a
  JOIN (SELECT unnest(generate_series(1, {PDH_OFFSETS})) AS k) ks ON true
  JOIN v b ON b.vec_id = a.vec_id + ks.k
)
SELECT CAST(FLOOR(cos_x1m / 100000.0) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MIN(cos_x1m) AS BIGINT) AS min_cos_x1m,
       CAST(MAX(cos_x1m) AS BIGINT) AS max_cos_x1m
FROM pairs
GROUP BY 1
ORDER BY bucket
"""


@query("sim_pairwise_distance_histogram", oracle=_PDH_ORACLE)
def sim_pairwise_distance_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-space diagnostics: the distribution of pairwise
    cosines over a deterministic id-band sample (each vector vs the
    next {PDH_OFFSETS} ids -- unbiased for id-uncorrelated embeddings
    and, unlike random sampling, reproducible and oracle-able). A
    healthy space shows a tight mass near 0 with a thin high tail;
    drift here is the canary for embedding-model regressions before
    any ANN recall drops.

    Scale shape: the band sample is an EQUI-join (b.id = a.id + k for
    exploded k), so pair generation is O(N x {PDH_OFFSETS}) with no
    cross product; bucketing is integer floor division of the scaled
    cosine."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("e")
    )
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("e").alias("e_a"),
        F.explode(
            F.sequence(F.lit(1), F.lit(PDH_OFFSETS))
        ).alias("k"),
    ).withColumn("id_b", F.col("id_a") + F.col("k"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("e").alias("e_b"))
    pairs = a.join(b, "id_b").select(
        F.round(cosine(F.col("e_a"), F.col("e_b")) * 1_000_000)
        .cast("long")
        .alias("cos_x1m")
    )
    return (
        pairs.select(
            F.floor(F.col("cos_x1m") / 100_000.0).cast("long").alias("bucket"),
            "cos_x1m",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("cos_x1m").alias("min_cos_x1m"),
            F.max("cos_x1m").alias("max_cos_x1m"),
        )
        .orderBy("bucket")
    )


# ------------------------------------------------------- range search
RANGE_TAU = 0.25  # cosine radius: ~10 true neighbours per query at test SFs

_RANGE_ORACLE = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {N_QUERIES})
SELECT qid, v.vec_id AS cand_id,
       CAST(ROUND({sql_cosine("qe", "e")} * 1000000) AS BIGINT) AS sim_x1m
FROM q JOIN v ON v.vec_id <> qid
WHERE {sql_cosine("qe", "e")} >= {RANGE_TAU}
ORDER BY qid, sim_x1m DESC, cand_id
"""


@query("sim_range_search", oracle=_RANGE_ORACLE)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (radius) search: every corpus vector with cosine >=
    {RANGE_TAU} of each query -- the retrieval contract dedup
    verification and recall evaluation need, where top-k's fixed cut
    is wrong (a query may have 0 or 500 true neighbours).

    Scale shape: identical to the brute-force scorer -- broadcast the
    tiny query set, stream the corpus ONCE, filter by threshold
    map-side. No per-query rank window at all (unlike top-k, range
    search needs no global per-query ordering to define membership),
    so the only shuffle is the final ORDER BY presentation sort. For
    selective radii at 100 TB, swap the corpus scan for the LSH
    bucket join of ann_lsh_topk and verify candidates exactly --
    dedup_embedding_cosine IS that shape, query-free.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("e")
    )
    n = spark.sparkContext.defaultParallelism
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    c = emb.repartition(n).select(
        F.col("vec_id").alias("cand_id"), F.col("e").alias("ce")
    )
    sim = cosine(F.col("qe"), F.col("ce"))
    return (
        c.crossJoin(F.broadcast(q))
        .filter((F.col("cand_id") != F.col("qid")) & (sim >= RANGE_TAU))
        .select(
            "qid",
            "cand_id",
            F.round(sim * 1_000_000).cast("long").alias("sim_x1m"),
        )
        .orderBy("qid", F.col("sim_x1m").desc(), "cand_id")
    )


# ------------------------------------------- MMR diversified re-ranking
MMR_K = 5  # diversified picks per query, greedily chosen from TOP_K

_MMR_CAND = f"""
v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT qid, v.vec_id AS cand_id, v.e AS ce,
         CAST(ROUND({sql_cosine("qe", "e")} * 1000000) AS BIGINT) AS sim_x1m
  FROM q JOIN v ON v.vec_id <> qid
),
cand AS (
  SELECT qid, cand_id, ce, sim_x1m FROM (
    SELECT qid, cand_id, ce, sim_x1m,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY sim_x1m DESC, cand_id) AS rnk
    FROM scored) WHERE rnk <= {TOP_K}
),
cc AS (
  SELECT a.qid, a.cand_id AS id_a, b.cand_id AS id_b,
         CAST(ROUND({sql_cosine("a.ce", "b.ce")} * 1000000) AS BIGINT)
           AS cc_x1m
  FROM cand a JOIN cand b
    ON a.qid = b.qid AND a.cand_id <> b.cand_id
),
sel0 AS (
  SELECT qid, cand_id, sim_x1m, CAST(0 AS BIGINT) AS mmr_rank,
         CAST(7 * sim_x1m AS BIGINT) AS score
  FROM (SELECT qid, cand_id, sim_x1m,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim_x1m DESC, cand_id) AS rnk
        FROM cand) WHERE rnk = 1
)"""


def _mmr_round_sql(r: int) -> str:
    prev = " UNION ALL ".join(
        f"SELECT * FROM sel{i}" for i in range(r)
    )
    return f"""
all{r} AS ({prev}),
pen{r} AS (
  SELECT c.qid, c.cand_id, c.sim_x1m, MAX(cc.cc_x1m) AS pen_x1m
  FROM cand c
  JOIN cc ON cc.qid = c.qid AND cc.id_a = c.cand_id
  JOIN all{r} s ON s.qid = cc.qid AND s.cand_id = cc.id_b
  WHERE NOT EXISTS (SELECT 1 FROM all{r} x
                    WHERE x.qid = c.qid AND x.cand_id = c.cand_id)
  GROUP BY c.qid, c.cand_id, c.sim_x1m
),
sel{r} AS (
  SELECT qid, cand_id, sim_x1m, CAST({r} AS BIGINT) AS mmr_rank, score
  FROM (SELECT qid, cand_id, sim_x1m,
               CAST(7 * sim_x1m - 3 * pen_x1m AS BIGINT) AS score,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY 7 * sim_x1m - 3 * pen_x1m DESC,
                                           cand_id) AS rnk
        FROM pen{r}) WHERE rnk = 1
)"""


def _mmr_oracle() -> str:
    rounds = "".join("," + _mmr_round_sql(r) for r in range(1, MMR_K))
    union = " UNION ALL ".join(f"SELECT * FROM sel{r}" for r in range(MMR_K))
    return (
        "WITH "
        + _MMR_CAND
        + rounds
        + f"""
SELECT qid, mmr_rank, cand_id, sim_x1m, score
FROM ({union})
ORDER BY qid, mmr_rank
"""
    )


def mmr_greedy_select(packed: DataFrame, k: int = MMR_K) -> DataFrame:
    """Map-side greedy MMR selection over pre-packed candidate arrays.

    ``packed`` has one row per query: ``qid`` plus ``cands``, an array of
    ``struct<neg_sim, cand_id, sim_x1m, ce>`` sorted best-first
    (ascending on (-sim_x1m, cand_id)). Returns ``k`` picks per query
    (``k`` must be >= 1 -- ValueError otherwise; fewer picks when the
    candidate list is shorter; zero for an empty one) as
    (qid, mmr_rank, cand_id, sim_x1m, score), where
    score = 7*sim_x1m - 3*max_sim_x1m(c, already-picked).

    ALL k-1 greedy rounds run inside ONE aggregate fold: the selected
    array is the fold accumulator, so each round references it as a
    bound lambda VARIABLE -- evaluated per round at runtime, never
    inlined. (The unrolled withColumn formulation duplicated the
    accumulator expression ~3x per round; Catalyst inlined the copies
    across rounds and optimization time went exponential -- the plan
    never finished compiling at k=5. Measured, r09.) Per-row cost is
    O(|cands|^2 * dim) worst case with |cands| bounded by the upstream
    top-k, so the operator scales linearly in queries with zero
    shuffles of its own -- a billion packed rows fold independently.
    """
    if k <= 0:
        # The fold below unconditionally seeds the rank-0 pick, so
        # without this guard k=0 would silently return one pick per
        # query instead of zero (ADVICE r09).
        raise ValueError(f"mmr_greedy_select: k must be >= 1, got {k}")

    def cc_x1m(a: Column, b: Column) -> Column:
        # Identical integer cosine to the DuckDB oracle's pairwise table.
        return F.round(cosine(a, b) * 1_000_000).cast("long")

    def entry(rank: Column, cand: Column, score: Column) -> Column:
        # Field names/types must match the fold's zero element exactly.
        return F.struct(
            rank.cast("long").alias("mmr_rank"),
            cand["cand_id"].alias("cand_id"),
            cand["sim_x1m"].alias("sim_x1m"),
            score.cast("long").alias("score"),
            cand["ce"].alias("ce"),
        )

    def remaining(cands: Column, acc: Column) -> Column:
        return F.filter(
            cands,
            lambda c: ~F.exists(acc, lambda s: s["cand_id"] == c["cand_id"]),
        )

    def round_pick(cands: Column, acc: Column) -> Column:
        # Greedy argmax of 7*sim - 3*max_sim(c, selected), ties on
        # cand_id: ascending lexicographic min over (-score, cand_id).
        return F.array_min(
            F.transform(
                remaining(cands, acc),
                lambda c: F.struct(
                    (
                        -(
                            F.lit(7) * c["sim_x1m"]
                            - F.lit(3)
                            * F.array_max(
                                F.transform(
                                    acc, lambda s: cc_x1m(c["ce"], s["ce"])
                                )
                            )
                        )
                    ).cast("long").alias("neg_score"),
                    c["cand_id"].alias("cand_id"),
                    c["sim_x1m"].alias("sim_x1m"),
                    c["ce"].alias("ce"),
                ),
            )
        )

    # Empty candidate lists yield zero picks (and guard the cands[0]
    # access below -- ANSI mode throws on out-of-bounds array indexing).
    packed = packed.filter(F.size("cands") > 0)
    best0 = F.col("cands")[0]
    sel = F.array(entry(F.lit(0), best0, F.lit(7) * best0["sim_x1m"]))
    if k > 1:
        # NB sequence(1, k-1) DESCENDS when k <= 1 (Spark defaults the
        # step to -1 for start > stop), so the fold only exists for k > 1.
        sel = F.aggregate(
            F.sequence(F.lit(1), F.lit(k - 1)),
            sel,
            # Selected ids are distinct members of cands, so the cheap
            # size comparison is exactly the "candidates remain" test --
            # no second evaluation of the O(|cands| x |acc|) remaining().
            lambda acc, r: F.when(
                F.size(acc) < F.size(F.col("cands")),
                F.concat(
                    acc,
                    # Bind the pick once as a lambda variable (evaluated
                    # one time per round) instead of inlining its tree
                    # twice.
                    F.transform(
                        F.array(round_pick(F.col("cands"), acc)),
                        lambda p: entry(r, p, -p["neg_score"]),
                    ),
                ),
            ).otherwise(acc),
        )
    return packed.select("qid", F.explode(sel).alias("s")).select(
        "qid",
        F.col("s.mmr_rank").alias("mmr_rank"),
        F.col("s.cand_id").alias("cand_id"),
        F.col("s.sim_x1m").alias("sim_x1m"),
        F.col("s.score").alias("score"),
    )


@query("sim_mmr_rerank", oracle=_mmr_oracle())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick {MMR_K} of each query's {TOP_K} nearest
    candidates, each round maximizing
    lambda*sim(q,c) - (1-lambda)*max_sim(c, already-picked) with
    lambda = 0.7 -- the diversified-retrieval pass RAG pipelines run
    so near-duplicate passages don't crowd the context window. Scores
    stay in exact integer algebra (7*sim_x1m - 3*pen_x1m; the /10 is
    order-preserving and dropped), ties break on cand_id, so both
    engines pick identical sets.

    Scale shape (restructured r09; adjudicated in the r09 registry.py
    probe log, now in git history): the
    per-query candidate set is bounded ({TOP_K} rows), so the WHOLE
    greedy loop runs map-side on ONE packed row per query
    (mmr_greedy_select above) -- candidates are collect_list'ed into
    an array (the only shuffle after top-k generation). No per-round
    joins, no per-round materialize: the old formulation ran 5 jobs
    and 35 shuffles over |queries| x K tiny tables (pin_partitioned
    was inapplicable -- composite-key joins); this one runs 1 job and
    ~4 shuffles, and the greedy selection itself shuffles each
    candidate row exactly once on qid
    (tests/test_scale_stress.py::test_mmr_fold_scales_in_queries).
    The broadcast hint on the top-k table assumes the usual rerank
    regime |queries| << corpus (same assumption cosine_topk makes):
    executor memory holds |queries| x TOP_K candidate rows. At a huge
    query count DROP the hint -- the vector-attach join then degrades
    gracefully to a qid/cand_id shuffle and the fold stage is
    unchanged (ADVICE r09 scoping note).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("e")
    )
    # Attach candidate vectors by broadcasting the tiny top-k table at
    # the big corpus scan -- the corpus side never shuffles.
    cand = F.broadcast(
        cosine_topk(_query_vectors(emb), emb).select("qid", "cand_id", "sim_x1m")
    )
    cand_ce = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("e").alias("ce")
    ).join(cand, "cand_id")
    # One row per query: candidates sorted best-first (sim desc, cand_id
    # asc -- encoded as an ascending struct sort on (-sim, cand_id)).
    packed = cand_ce.groupBy("qid").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("sim_x1m")).alias("neg_sim"),
                    F.col("cand_id").alias("cand_id"),
                    F.col("sim_x1m").alias("sim_x1m"),
                    F.col("ce").alias("ce"),
                )
            )
        ).alias("cands")
    )
    return mmr_greedy_select(packed, MMR_K).orderBy("qid", "mmr_rank")


# --------------------------------------------- ANN recall@k evaluation


def exact_truth(emb: DataFrame) -> DataFrame:
    """The exact top-k ids ``(qid, cand_id)`` of the demo queries: the
    truth arm every recall@k evaluation scores against."""
    return cosine_topk(_query_vectors(emb), emb).select("qid", "cand_id")


def recall_counts(
    truth: DataFrame, got: DataFrame, *keys: str, broadcast: bool
) -> DataFrame:
    """Per ``keys`` group of ``truth`` ``(qid, cand_id)``: its rows ``k``
    and ``n_hit``, how many of them an approximate arm's top-k ``got``
    ``(qid, cand_id)`` also returned (one left join; ``broadcast`` hints
    the ``got`` side)."""
    g = got.select(F.col("qid").alias("g_qid"), F.col("cand_id").alias("g_cand"))
    joined = truth.join(
        F.broadcast(g) if broadcast else g,
        (F.col("qid") == F.col("g_qid")) & (F.col("cand_id") == F.col("g_cand")),
        "left",
    )
    return joined.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("g_cand").isNotNull().cast("long")).alias("n_hit"),
    )


def _recall_per_query(emb: DataFrame, got: DataFrame, broadcast: bool) -> DataFrame:
    """Recall@k of ``got`` against :func:`exact_truth`, one row per query
    ``(qid, k, n_hit, recall_at_k_x1000)``."""
    return (
        recall_counts(exact_truth(emb), got, "qid", broadcast=broadcast)
        .select(
            "qid",
            "k",
            "n_hit",
            F.expr("1000 * n_hit div k").alias("recall_at_k_x1000"),
        )
        .orderBy("qid")
    )
_ANN_RECALL_ORACLE = f"""
WITH {_EXACT_SCORED_SQL}
{_topk_ids_sql("truth", "scored")},
b AS (
  {" UNION ALL ".join(
      f"SELECT vec_id, e, {t} AS tbl, {_sql_bucket('e', tp)} AS bucket FROM v"
      for t, tp in enumerate(_tables(_PLANES))
  )}
),
qb AS (SELECT vec_id AS qid, e AS qe, tbl AS qtbl, bucket AS qbucket
       FROM b WHERE vec_id < {N_QUERIES}),
cand AS (
  SELECT DISTINCT qb.qid, b.vec_id AS cand_id, qb.qe, b.e
  FROM b JOIN qb ON b.tbl = qb.qtbl AND b.bucket = qb.qbucket
              AND b.vec_id <> qb.qid
),
ann AS (
  SELECT qid, cand_id FROM (
    SELECT qid, cand_id,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY CAST(ROUND({sql_cosine("qe", "e")}
                                            * 1000000) AS BIGINT) DESC,
                                       cand_id) AS rnk
    FROM cand) WHERE rnk <= {TOP_K}
)
SELECT t.qid,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit,
       CAST(1000 * SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
            // COUNT(*) AS BIGINT) AS recall_at_k_x1000
FROM truth t
LEFT JOIN ann a ON a.qid = t.qid AND a.cand_id = t.cand_id
GROUP BY t.qid
ORDER BY t.qid
"""


@query("sim_ann_recall_at_k", oracle=_ANN_RECALL_ORACLE)
def sim_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the multi-table LSH ANN index against the
    exact brute-force top-{TOP_K}, PER QUERY -- the acceptance metric
    that decides N_TABLES/PLANES_PER_TABLE before an index is trusted
    in production (companion to dedup_lsh_recall_eval, which scores
    the MinHash band scheme). Integer hit counts and an integer-div
    recall, so the gate compares exactly.

    Scale shape: both arms are the already-scalable operators (one
    broadcast-query corpus scan for truth; bucket-pruned LSH join for
    the ANN arm); the comparison itself is one |queries| x k left join.
    In production the truth arm runs on a hash-sampled query slice --
    the shape is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("e")
    )
    return _recall_per_query(emb, ann_lsh_topk(emb), broadcast=False)


# -------------------------------------------- Matryoshka prefix-dim recall

PREFIX_DIMS = 16  # leading dims scored in the truncated arm (of 64)

_MATRYOSHKA_ORACLE = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {N_QUERIES}),
full_scored AS (
  SELECT qid, v.vec_id AS cand_id,
         CAST(ROUND({sql_cosine("qe", "e")} * 1000000) AS BIGINT) AS sim_x1m
  FROM q JOIN v ON v.vec_id <> qid
),
full_ranked AS (
  SELECT qid, cand_id,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY sim_x1m DESC, cand_id) AS rnk
  FROM full_scored
),
truth AS (SELECT qid, cand_id FROM full_ranked WHERE rnk <= {TOP_K}),
pre_scored AS (
  SELECT qid, v.vec_id AS cand_id,
         CAST(ROUND({sql_cosine(f"qe[1:{PREFIX_DIMS}]", f"e[1:{PREFIX_DIMS}]")}
              * 1000000) AS BIGINT) AS sim_x1m
  FROM q JOIN v ON v.vec_id <> qid
),
pre_ranked AS (
  SELECT qid, cand_id,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY sim_x1m DESC, cand_id) AS rnk
  FROM pre_scored
),
pre AS (SELECT qid AS p_qid, cand_id AS p_cand
        FROM pre_ranked WHERE rnk <= {TOP_K})
SELECT qid,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(SUM(CASE WHEN p_cand IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit,
       CAST(1000 * SUM(CASE WHEN p_cand IS NOT NULL THEN 1 ELSE 0 END)
            // COUNT(*) AS BIGINT) AS recall_at_k_x1000
FROM truth LEFT JOIN pre ON qid = p_qid AND cand_id = p_cand
GROUP BY qid
ORDER BY qid
"""


@query("sim_matryoshka_prefix_recall", oracle=_MATRYOSHKA_ORACLE)
def sim_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of a PREFIX-dimension (Matryoshka-style) index
    against the full-dimension exact top-{TOP_K}, per query.

    Matryoshka representation learning trains embeddings whose leading
    dimensions are themselves a usable lower-dimensional embedding;
    production retrieval then scores candidates with the first
    {PREFIX_DIMS} of 64 dims (4x less memory bandwidth and ADC work)
    and only re-ranks survivors at full width. Before trusting the
    truncation, you measure exactly this table: how much of the true
    top-k the prefix index retains. Both arms reuse the broadcast-query
    corpus-scan shape of cosine_topk (no all-pairs, no collect); the
    truncated arm just slices the array before the fold, which at 100 TB
    is the same one corpus pass with {PREFIX_DIMS}/64 of the flops."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("e")
    )
    q_pre = _query_vectors(emb).select("qid", F.slice("e", 1, PREFIX_DIMS).alias("e"))
    emb_pre = emb.select("vec_id", F.slice("e", 1, PREFIX_DIMS).alias("e"))
    # Both arms are |queries| x k rows; without the hint the planner
    # saw unsized shuffles on each side and picked a sort-merge join.
    return _recall_per_query(emb, cosine_topk(q_pre, emb_pre), broadcast=True)
