"""IVF (inverted-file) approximate nearest neighbour -- the coarse-
quantiser counterpart to the LSH tables in ``similarity.py``.

Shape: pick K deterministic coarse centroids, assign every vector to its
nearest centroid (the "inverted list"), and at query time score only the
lists of the nprobe nearest centroids. At 100 TB the assignment is one
broadcast-join pass over the corpus and each query touches nprobe/K of
the data -- the same plan family as a partition-pruned scan, with the
centroid id acting as the partition key (a production deployment would
PARTITION the parquet BY the centroid id so probes prune files).

Determinism: centroids are actual corpus vectors chosen by id stride (no
random k-means init), all scoring uses the sequential-fold dot product,
so the DuckDB oracle reproduces the exact lists and results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ushas_spark.io import load_table
from ushas_spark.operators.similarity import (
    N_QUERIES,
    TOP_K,
    _dvec,
    _ranked_topk_sql,
    _topk_ids_sql,
    cosine,
    exact_truth,
    ranked_topk,
    recall_counts,
    sql_cosine,
)
from ushas_spark.registry import query

N_CENTROIDS = 8
CENTROID_STRIDE = 63  # centroid c = vector with vec_id == c * stride
NPROBE = 2


def _centroids(emb: DataFrame) -> DataFrame:
    ids = [c * CENTROID_STRIDE for c in range(N_CENTROIDS)]
    return emb.filter(F.col("vec_id").isin(ids)).select(
        (F.col("vec_id") / CENTROID_STRIDE).cast("int").alias("cid"),
        F.col("e").alias("ce"),
    )


def _assign(emb: DataFrame, cents: DataFrame, rank_limit: int) -> DataFrame:
    """Rank centroids per vector by cosine; keep the top ``rank_limit``
    (1 for corpus assignment, NPROBE for query probing)."""
    from pyspark.sql import Window as W

    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "e",
        "cid",
        F.round(cosine(F.col("e"), F.col("ce")) * 1_000_000).cast("long").alias("cs"),
    )
    w = W.partitionBy("vec_id").orderBy(F.col("cs").desc(), "cid")
    return (
        scored.withColumn("crnk", F.row_number().over(w))
        .filter(F.col("crnk") <= rank_limit)
        .select("vec_id", "e", "cid")
    )


_SQL_CENT_IDS = ", ".join(str(c * CENTROID_STRIDE) for c in range(N_CENTROIDS))

# Oracle CTEs: the corpus vectors ``v``, the ``cents`` centroids and each
# vector's nearest centroid (``assign``); ends with a comma.
_ASSIGN_SQL = f"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cents AS (
  SELECT CAST(vec_id / {CENTROID_STRIDE} AS INT) AS cid, e AS ce
  FROM v WHERE vec_id IN ({_SQL_CENT_IDS})
),
assign AS (
  SELECT vec_id, e, cid FROM (
    SELECT v.vec_id, v.e, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY CAST(ROUND({sql_cosine("v.e", "c.ce")} * 1000000) AS BIGINT) DESC,
                      c.cid) AS crnk
    FROM v, cents c
  ) WHERE crnk <= 1
),"""


def _probe_sql(probe: str, scored: str, nprobe: int) -> str:
    """Oracle CTEs ``probe``, each query vector's ``nprobe`` nearest
    centroids, and ``scored``, its candidates from those centroids' lists."""
    return f"""{probe} AS (
  SELECT vec_id AS qid, e AS qe, cid FROM (
    SELECT v.vec_id, v.e, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY CAST(ROUND({sql_cosine("v.e", "c.ce")} * 1000000) AS BIGINT) DESC,
                      c.cid) AS crnk
    FROM v, cents c
    WHERE v.vec_id < {N_QUERIES}
  ) WHERE crnk <= {nprobe}
),
{scored} AS (
  SELECT DISTINCT q.qid, a.vec_id AS cand_id,
         CAST(ROUND({sql_cosine("q.qe", "a.e")} * 1000000) AS BIGINT) AS sim_x1m
  FROM {probe} q JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.qid
)"""


_IVF_ORACLE = f"""
WITH {_ASSIGN_SQL}
{_probe_sql("qprobe", "scored", NPROBE)},
{_ranked_topk_sql("sim_x1m", "sim_x1m DESC")}"""


def ivf_topk(emb: DataFrame, k: int = TOP_K, nprobe: int = NPROBE) -> DataFrame:
    """IVF search: corpus assigned to nearest centroid; queries probe
    their ``nprobe`` nearest centroid lists only."""
    cents = _centroids(emb)
    assigned = _assign(emb, cents, 1)
    queries = _assign(emb.filter(F.col("vec_id") < N_QUERIES), cents, nprobe).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"), "cid"
    )
    scored = (
        assigned.join(F.broadcast(queries), ["cid"])
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("cand_id"),
            F.round(cosine(F.col("qe"), F.col("e")) * 1_000_000)
            .cast("long")
            .alias("sim_x1m"),
        )
        .distinct()
    )
    return ranked_topk(scored, F.col("sim_x1m").desc(), k)


@query("sim_ivf_topk", oracle=_IVF_ORACLE)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("e")
    )
    return ivf_topk(emb).orderBy("qid", "rnk")


# --- IVF-PQ: coarse pruning + quantized ADC scoring (FAISS IVFPQ) ----------


def _ivfpq_oracle() -> str:
    from ushas_spark.operators.similarity import (
        _pq_codebook_sql,
        _pq_recon_expr,
        _pq_sqdist_int,
        sql_quantize_sq8,
    )
    from ushas_spark.operators.similarity import sql_cosine as _sqlcos

    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                  {sql_quantize_sq8('embedding')} AS qe
           FROM embeddings),
cents AS (
  SELECT CAST(vec_id / {CENTROID_STRIDE} AS INT) AS cid, e AS ce
  FROM v WHERE vec_id IN ({_SQL_CENT_IDS})
),
{_pq_codebook_sql().strip()}
,
assign AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY CAST(ROUND({_sqlcos("v.e", "c.ce")} * 1000000) AS BIGINT) DESC,
                      c.cid) AS crnk
    FROM v, cents c
  ) WHERE crnk <= 1
),
recon AS (
  SELECT vec_id, {_pq_recon_expr('qe', 'cs', 'duck')} AS re FROM v, cb
),
qprobe AS (
  SELECT vec_id AS qid, qe AS qq, cid FROM (
    SELECT v.vec_id, v.qe, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY CAST(ROUND({_sqlcos("v.e", "c.ce")} * 1000000) AS BIGINT) DESC,
                      c.cid) AS crnk
    FROM v, cents c
    WHERE v.vec_id < {N_QUERIES}
  ) WHERE crnk <= {NPROBE}
),
scored AS (
  SELECT DISTINCT q.qid, a.vec_id AS cand_id,
         CAST({_pq_sqdist_int('q.qq', 'r.re', 'duck')} AS BIGINT) AS adc_dist
  FROM qprobe q
  JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.qid
  JOIN recon r ON r.vec_id = a.vec_id
),
{_ranked_topk_sql("adc_dist", "adc_dist")}"""


@query("sim_ivfpq_topk", oracle=_ivfpq_oracle())
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the production vector-index composition -- the IVF
    coarse quantiser prunes to nprobe inverted lists, then candidates
    score by integer ADC against their PQ codeword reconstructions
    (FAISS IVFPQ, re-expressed as two composable DataFrame operators).
    At 100 TB: the corpus stores cid + 8 PQ codes per vector (partition
    by cid to turn probes into partition pruning); a query touches
    nprobe/K of the data and never reads a float vector.
    """
    from ushas_spark.operators.similarity import (
        _pq_sqdist_int,
        pq_reconstruct,
        quantize_sq8,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        _dvec(F.col("embedding")).alias("e"),
        quantize_sq8(F.col("embedding")).alias("qe"),
    )
    cents = _centroids(emb)
    assigned = _assign(emb, cents, 1).select("vec_id", "cid")
    # PQ reconstruction of every corpus vector (broadcast codebook).
    recon = pq_reconstruct(emb)
    queries = _assign(emb.filter(F.col("vec_id") < N_QUERIES), cents, NPROBE).join(
        emb.select("vec_id", "qe"), "vec_id"
    ).select(F.col("vec_id").alias("qid"), F.col("qe").alias("qq"), "cid")
    cand = (
        assigned.join(F.broadcast(queries), ["cid"])
        .filter(F.col("vec_id") != F.col("qid"))
        .join(recon, "vec_id")
    )
    scored = cand.selectExpr(
        "qid",
        "vec_id AS cand_id",
        f"CAST({_pq_sqdist_int('qq', 're', 'spark')} AS BIGINT) AS adc_dist",
    ).distinct()
    return ranked_topk(scored, "adc_dist", TOP_K).orderBy("qid", "rnk")


# ------------------------------------------------- nprobe recall sweep
SWEEP_NPROBES = (1, 2, 4)


def _nprobe_chain(p: int) -> str:
    return f"""
{_probe_sql(f"qp{p}", f"sc{p}", p)},
{_topk_ids_sql(f"rk{p}", f"sc{p}")}"""


def _nprobe_sweep_oracle() -> str:
    head = f"""
WITH {_ASSIGN_SQL}
truth AS (
  SELECT qid, cand_id FROM (
    SELECT q.vec_id AS qid, v.vec_id AS cand_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY CAST(ROUND({sql_cosine("q.e", "v.e")} * 1000000) AS BIGINT) DESC,
                      v.vec_id) AS rnk
    FROM v q JOIN v ON v.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rnk <= {TOP_K}
)"""
    chains = "".join("," + _nprobe_chain(p) for p in SWEEP_NPROBES)
    selects = " UNION ALL ".join(
        f"SELECT {p} AS nprobe,"
        f" CAST(COUNT(*) AS BIGINT) AS n_truth,"
        f" CAST(SUM(CASE WHEN r.cand_id IS NOT NULL THEN 1 ELSE 0 END)"
        f"   AS BIGINT) AS n_hit,"
        f" CAST(1000 * SUM(CASE WHEN r.cand_id IS NOT NULL THEN 1 ELSE 0 END)"
        f"   // COUNT(*) AS BIGINT) AS recall_x1000"
        f" FROM truth t LEFT JOIN rk{p} r"
        f"   ON r.qid = t.qid AND r.cand_id = t.cand_id"
        for p in SWEEP_NPROBES
    )
    return head + chains + "\nSELECT * FROM (" + selects + ") ORDER BY nprobe"


@query("sim_ivf_nprobe_sweep", oracle=_nprobe_sweep_oracle())
def sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe RECALL SWEEP: recall@{TOP_K} against the exact
    brute-force truth at nprobe = {{1, 2, 4}} -- the cost/recall curve
    that picks the probe width before an IVF index serves traffic
    (companion to sim_ann_recall_at_k, which scores the LSH index).
    More probed lists monotonically raise recall; the sweep shows by
    how much, in exact integers.

    Scale shape: corpus assignment and the brute-force truth each
    compute ONCE (materialized); each nprobe point reuses them with
    one probe join + per-query rank. At production scale the truth arm
    runs on a sampled query slice; shape unchanged."""
    from ushas_spark.durability import materialize

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("e")
    )
    emb = materialize(emb)
    truth = materialize(exact_truth(emb))
    rows = []
    for p in SWEEP_NPROBES:
        rows.append(
            recall_counts(truth, ivf_topk(emb, nprobe=p), broadcast=False).select(
                F.lit(p).cast("long").alias("nprobe"),
                F.col("k").alias("n_truth"),
                "n_hit",
                F.expr("1000 * n_hit div k").alias("recall_x1000"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("nprobe")
