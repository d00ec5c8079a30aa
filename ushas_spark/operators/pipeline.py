"""Training-corpus pipeline operators: split, pack, vocabulary.

The reference has no corpus-preparation surface at all (it is a query
engine fork; SURVEY.md section 2 note) -- these are the operations a
100 TB pretraining-data pipeline runs after dedup/quality filtering, so
they are built as first-class oracle-gated operators:

- **Deterministic train/val/test split**: membership must be a pure
  function of the example (hash-based), never `rand()` -- reruns,
  backfills and multi-engine consumers must agree on every row. The
  60-bit md5 hash (`ushas_spark.operators.dedup.hash60`) is portable
  across Spark / DuckDB / Python.
- **Token-budget shard packing**: group documents into fixed-token
  shards for sequence packing. The global-greedy formulation is a
  sequential scan (unparallelisable); the scalable variant packs within
  N hash buckets -- each bucket is an independent window partition, so
  the prefix sum never single-partitions the corpus, and shard ids
  (bucket, local_shard) stay deterministic.
- **Vocabulary top-k**: the classic explode -> count -> top-k. Partial
  (map-side) aggregation combines counts before the shuffle, so the
  shuffle volume is distinct-tokens, not total-tokens.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ushas_spark.durability import materialize
from ushas_spark.io import load_table
from ushas_spark.operators.dedup import hash60, sql_hash60
from ushas_spark.registry import query

N_PACK_BUCKETS = 32
# ~850 whitespace tokens per bucket at sf0.001/sf0.01 -- a 300-token
# budget yields ~3 shards per bucket at gate scale (so the packing
# boundary is actually exercised) and scales linearly with the corpus.
SHARD_TOKEN_BUDGET = 300

# train/val/test = 90/5/5 by hash bucket -- membership is a pure function
# of doc_id, stable across engines, reruns, and scale factors.
_SPLIT_CASE_SQL = """CASE WHEN {h} % 100 < 90 THEN 'train'
     WHEN {h} % 100 < 95 THEN 'val' ELSE 'test' END"""


def split_column() -> F.Column:
    h = hash60(F.col("doc_id").cast("string"))
    return (
        F.when(h % 100 < 90, "train").when(h % 100 < 95, "val").otherwise("test")
    )


_SPLIT_ORACLE = f"""
SELECT {_SPLIT_CASE_SQL.format(h=sql_hash60("CAST(doc_id AS VARCHAR)"))} AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)) AS BIGINT) AS tok_sum,
       CAST(SUM(n_chars) AS BIGINT) AS char_sum
FROM documents
GROUP BY 1
ORDER BY split
"""


@query("pipeline_train_test_split", oracle=_SPLIT_ORACLE)
def pipeline_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 hash split with per-split document/token/char accounting.
    All sums are integer-exact, so the oracle comparison is trivial."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split("text", r"\s+")).cast("long")
    return (
        docs.select(split_column().alias("split"), toks.alias("tok"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").alias("tok_sum"),
            F.sum("n_chars").alias("char_sum"),
        )
        .orderBy("split")
    )


# Oracle CTEs shared by both packers: ``packed`` gives every document
# its token count ``tok`` and the running token sum ``cum`` of its hash
# bucket in (h, doc_id) order.
_PACKED_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         {sql_hash60("CAST(doc_id AS VARCHAR)")} AS h,
         CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS tok
  FROM documents),
packed AS (
  SELECT h % {N_PACK_BUCKETS} AS bucket, doc_id, tok,
         SUM(tok) OVER (PARTITION BY h % {N_PACK_BUCKETS} ORDER BY h, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM toks)
"""

_PACK_ORACLE = _PACKED_SQL + f"""SELECT bucket,
       CAST((cum - tok) // {SHARD_TOKEN_BUDGET} AS BIGINT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS shard_tokens
FROM packed
GROUP BY 1, 2
ORDER BY bucket, shard
"""


@query("pipeline_pack_shards", oracle=_PACK_ORACLE)
def pipeline_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into ~{budget}-token shards within hash buckets.

    A document starts the next shard when the running total before it
    crosses the budget boundary (start-offset packing -- a pure windowed
    prefix sum; greedy bin-closing would need a sequential scan). Window
    partitions are the N hash buckets, so at 100 TB each bucket's prefix
    sum is an independent task and nothing funnels to one executor.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = docs.sparkSession.sparkContext.defaultParallelism
    h = hash60(F.col("doc_id").cast("string"))
    toks = F.size(F.split("text", r"\s+")).cast("long")
    base = docs.repartition(n).select(
        "doc_id", h.alias("h"), toks.alias("tok")
    ).withColumn("bucket", F.col("h") % N_PACK_BUCKETS)
    w = (
        W.partitionBy("bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = base.withColumn("cum", F.sum("tok").over(w)).withColumn(
        "shard", F.expr(f"(cum - tok) DIV {SHARD_TOKEN_BUDGET}")
    )
    return (
        packed.groupBy("bucket", "shard")
        .agg(F.count("*").alias("n_docs"), F.sum("tok").alias("shard_tokens"))
        .orderBy("bucket", "shard")
    )


_VOCAB_ORACLE = """
SELECT token, COUNT(*) AS freq
FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY freq DESC, token
LIMIT 50
"""


@query("text_vocab_topk", oracle=_VOCAB_ORACLE)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 tokens by frequency (vocabulary head). Explode -> partial
    count -> shuffle on token -> TakeOrderedAndProject; ties broken by
    token text so the LIMIT is deterministic on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.sparkSession.sparkContext.defaultParallelism
    tok = docs.repartition(n).select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
    )
    return (
        tok.filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(50)
    )


_DECONTAM_EVAL_MOD = 50  # doc_id % 50 == 0 plays the held-out benchmark set


def _trigrams() -> Column:
    """Per-doc distinct word trigrams of ``text`` (empty under 3 words).

    Three aligned slices zipped pairwise. NOT
    transform(sequence(...), i -> element_at(toks, i)) -- dynamic-index
    element_at inside a lambda measures ~12x slower than the slice
    formulation on this corpus (per-access bounds/null checks defeat
    the vectorized path)."""
    toks = F.split(F.col("text"), r"\s+")
    n = F.size(toks)
    return F.when(
        n >= 3,
        F.array_distinct(
            F.zip_with(
                F.slice(toks, 1, n - 2),
                F.zip_with(
                    F.slice(toks, 2, n - 2),
                    F.slice(toks, 3, n - 2),
                    lambda b, c: F.concat_ws(" ", b, c),
                ),
                lambda a, bc: F.concat_ws(" ", a, bc),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


# The same trigrams as oracle CTEs: ``t`` (tokens), ``ng`` (distinct
# trigram lists) and ``flat`` (one row per doc and trigram).
_TRIGRAMS_SQL = """t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
           FROM documents),
ng AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
         ELSE [] END AS ngs
  FROM t
),
flat AS (SELECT doc_id, unnest(ngs) AS ng FROM ng)"""

_DECONTAM_ORACLE = f"""
WITH {_TRIGRAMS_SQL},
ev AS (SELECT DISTINCT ng FROM flat WHERE doc_id % {_DECONTAM_EVAL_MOD} = 0),
tr AS (SELECT doc_id, ng FROM flat WHERE doc_id % {_DECONTAM_EVAL_MOD} <> 0)
SELECT tr.doc_id, COUNT(DISTINCT tr.ng) AS n_shared_ngrams
FROM tr JOIN ev ON tr.ng = ev.ng
GROUP BY tr.doc_id
ORDER BY tr.doc_id
"""


@query("pipeline_decontaminate", oracle=_DECONTAM_ORACLE)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word 3-gram with the held-out eval split (doc_id % 50 == 0 here; in
    production the eval side is the benchmark suite itself). The list of
    flagged docs feeds an anti-join that drops them from the corpus.

    Scale shape: the eval n-gram set is tiny relative to the corpus
    (benchmarks are MBs, the corpus is TBs) -> distinct it and BROADCAST
    it; the train side streams through explode -> broadcast-hash
    semi-match -> partial distinct-count. The 100 TB cost is one corpus
    scan, no shuffle of the full n-gram stream.
    """
    d = load_table(spark, sf_dir, "documents")
    flat = d.select("doc_id", F.explode(_trigrams()).alias("ng"))
    ev = (
        flat.filter(F.col("doc_id") % _DECONTAM_EVAL_MOD == 0)
        .select("ng")
        .distinct()
    )
    tr = flat.filter(F.col("doc_id") % _DECONTAM_EVAL_MOD != 0)
    # COUNT, not COUNT(DISTINCT): grams are per-doc distinct already
    # (array_distinct before the explode) and ev is distinct on ng, so
    # each (doc, ng) survives the inner join at most once -- the plain
    # count is provably identical and drops the distinct-aggregate's
    # extra (doc_id, ng)-wide exchange (OPTIMIZATION_r12.md item 8:
    # 4 -> 3 planned shuffles, won all three
    # interleaved isolated sf0.1 pairings, hash-identical).
    return (
        tr.join(F.broadcast(ev), "ng")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .orderBy("doc_id")
    )


# ------------------------------------------------ per-source quota sample

QUOTA_PER_SOURCE = 10
# Pre-filter oversampling: keep-rate per source is quota/count; admitting
# 1.5x that rate by hash BEFORE the rank bounds every window partition to
# ~1.5*quota rows regardless of corpus size. The rank then trims to the
# exact quota. Both stages are pure hash functions, so the oracle mirrors
# them exactly.
_QUOTA_OVERSAMPLE_X1000 = 1500
# Admission compares hash % M against rate * M. M must be FINE: with
# M=1000 a source above ~1.5M docs floors the rate to "residue 0 only",
# which admits n_src/1000 rows -- unbounded (caught by the planted-skew
# stress test). M=1e9 keeps the admitted count ~= 1.5*quota for any
# source below ~1e10 docs.
_QUOTA_MOD = 1_000_000_000


def _quota_hash() -> F.Column:
    return hash60(F.concat(F.lit("quota:"), F.col("doc_id").cast("string")))


_QUOTA_ORACLE = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source
), pre AS (
  SELECT d.doc_id, d.source,
         {sql_hash60("'quota:' || CAST(d.doc_id AS VARCHAR)")} AS h
  FROM documents d JOIN counts c USING (source)
  WHERE {sql_hash60("'quota:' || CAST(d.doc_id AS VARCHAR)")} % {_QUOTA_MOD}
        < ({_QUOTA_OVERSAMPLE_X1000} * {QUOTA_PER_SOURCE} * {_QUOTA_MOD // 1000}.0) / c.n_src
), ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rnk
  FROM pre
)
SELECT source, COUNT(*) AS n_sampled, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM ranked WHERE rnk <= {QUOTA_PER_SOURCE}
GROUP BY source
ORDER BY source
"""


@query("pipeline_quota_sample", oracle=_QUOTA_ORACLE)
def pipeline_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sampling (the corpus-balancing step of a
    pretraining mix): deterministically keep ``QUOTA_PER_SOURCE`` docs
    per source, chosen by hash rank so reruns and engines agree.

    Scale shape: the naive formulation ranks EVERY row in a per-source
    window -- one reducer per source, quadratic pain on a dominant
    source. Here a hash pre-filter admits ~1.5x the quota rate first
    (uses only the broadcast per-source counts), so each window
    partition holds ~15 rows regardless of corpus size. Same trick as
    reservoir-style sampling at 100 TB: bound the sorted set, never sort
    the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_src"))
    h = _quota_hash()
    pre = (
        d.join(F.broadcast(counts), "source")
        .withColumn("_h", h)
        .filter(
            F.col("_h") % _QUOTA_MOD
            < (
                _QUOTA_OVERSAMPLE_X1000
                * QUOTA_PER_SOURCE
                * float(_QUOTA_MOD // 1000)
            )
            / F.col("n_src")
        )
    )
    w = W.partitionBy("source").orderBy("_h", "doc_id")
    sampled = pre.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= QUOTA_PER_SOURCE
    )
    return (
        sampled.groupBy("source")
        .agg(
            F.count("*").alias("n_sampled"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("source")
    )


# -------------------------------------------------- weighted source mix

_MIX_ORACLE = f"""
WITH w AS (
  SELECT source, 20 + {sql_hash60("source")} % 60 AS weight_pct
  FROM (SELECT DISTINCT source FROM documents)
)
SELECT d.source,
       MIN(w.weight_pct) AS weight_pct,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN {sql_hash60("'mix:' || CAST(d.doc_id AS VARCHAR)")} % 100
                     < w.weight_pct THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN {sql_hash60("'mix:' || CAST(d.doc_id AS VARCHAR)")} % 100
                     < w.weight_pct
                THEN CAST(len(regexp_split_to_array(d.text, '\\s+')) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS tok_kept
FROM documents d JOIN w USING (source)
GROUP BY d.source
ORDER BY d.source
"""


@query("pipeline_source_mix", oracle=_MIX_ORACLE)
def pipeline_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing: each source gets a sampling weight (here
    derived deterministically from the source name; in production, from
    the mixture config), and each document is kept iff a pure hash of
    its id falls under the weight -- the Bernoulli mix that needs NO
    shuffle of the corpus (map-side decision), reruns identically, and
    composes with the split/dedup hashes because each uses a distinct
    salt prefix. Reports per-source kept counts + token budgets."""
    d = load_table(spark, sf_dir, "documents")
    weights = (
        d.select("source")
        .distinct()
        .withColumn("weight_pct", (F.lit(20) + hash60(F.col("source")) % 60))
    )
    keep = hash60(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 100 < F.col(
        "weight_pct"
    )
    toks = F.size(F.split(F.col("text"), r"\s+")).cast("long")
    return (
        d.join(F.broadcast(weights), "source")
        .groupBy("source")
        .agg(
            F.min("weight_pct").alias("weight_pct"),
            F.count("*").alias("n_total"),
            F.sum(keep.cast("bigint")).alias("n_kept"),
            F.sum(F.when(keep, toks).otherwise(F.lit(0))).alias("tok_kept"),
        )
        .orderBy("source")
    )


# ------------------------------------------------- quality-filter funnel

_FUNNEL_ORACLE = """
WITH t AS (
  SELECT n_chars,
         lang,
         CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tok,
         CAST(len(list_distinct(regexp_split_to_array(text, '\\s+'))) AS BIGINT)
           AS n_distinct_tok
  FROM documents
)
SELECT COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_len,
       CAST(SUM(CASE WHEN n_chars >= 100 AND lang IN ('en','de','fr','es')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_after_lang,
       CAST(SUM(CASE WHEN n_chars >= 100 AND lang IN ('en','de','fr','es')
                     AND n_tok >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_tok,
       CAST(SUM(CASE WHEN n_chars >= 100 AND lang IN ('en','de','fr','es')
                     AND n_tok >= 20 AND n_distinct_tok * 2 >= n_tok
                THEN 1 ELSE 0 END) AS BIGINT) AS n_after_rep
FROM t
"""


@query("pipeline_filter_funnel", oracle=_FUNNEL_ORACLE)
def pipeline_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel: the survivor count after each cumulative
    filter stage (length -> language -> token count -> repetition), the
    report every corpus-curation pipeline prints before committing a
    mix. ONE scan, conditional aggregation -- no per-stage passes; at
    100 TB this is the difference between one job and five."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r"\s+")
    t = d.select(
        "n_chars",
        "lang",
        F.size(words).cast("long").alias("n_tok"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct_tok"),
    )
    s_len = F.col("n_chars") >= 100
    s_lang = s_len & F.col("lang").isin("en", "de", "fr", "es")
    s_tok = s_lang & (F.col("n_tok") >= 20)
    s_rep = s_tok & (F.col("n_distinct_tok") * 2 >= F.col("n_tok"))
    return t.agg(
        F.count("*").alias("n_total"),
        F.sum(s_len.cast("bigint")).alias("n_after_len"),
        F.sum(s_lang.cast("bigint")).alias("n_after_lang"),
        F.sum(s_tok.cast("bigint")).alias("n_after_tok"),
        F.sum(s_rep.cast("bigint")).alias("n_after_rep"),
    )


# ---------------------------------------------- end-to-end curation run

_E2E_ORACLE = f"""
WITH deduped AS (
  SELECT doc_id, text, lang, source, n_chars
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn = 1
), gated AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tok
  FROM deduped
  WHERE n_chars >= 100
    AND lang IN ('en', 'de', 'fr', 'es')
    AND len(regexp_split_to_array(text, '\\s+')) >= 20
), labelled AS (
  SELECT {_SPLIT_CASE_SQL.format(h=sql_hash60("CAST(doc_id AS VARCHAR)"))} AS split,
         n_tok
  FROM gated
)
SELECT split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM labelled
GROUP BY split
ORDER BY split
"""


@query("pipeline_end_to_end", oracle=_E2E_ORACLE)
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation run as ONE composed lazy plan: exact dedup
    (keep-first by content digest) -> quality gates (length, language,
    token count) -> deterministic train/val/test assignment -> per-split
    doc/token accounting. Because every stage is a DataFrame transform,
    Catalyst optimizes ACROSS stages (the gate predicates push below the
    dedup window's partition where legal, one scan feeds everything) --
    the reason to express a pipeline as composed queries instead of
    materialized hops. At 100 TB the only wide stages are the digest
    window and the final 3-group aggregate."""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        d.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    )
    toks = F.size(F.split(F.col("text"), r"\s+")).cast("long")
    gated = deduped.filter(
        (F.col("n_chars") >= 100)
        & F.col("lang").isin("en", "de", "fr", "es")
        & (toks >= 20)
    ).select("doc_id", toks.alias("n_tok"))
    labelled = gated.select(split_column().alias("split"), "n_tok")
    return (
        labelled.groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
        .orderBy("split")
    )


# ------------------------------------------- contrastive training pairs
from ushas_spark.operators.dedup import shingle_overlap_sql  # noqa: E402

_CONTRASTIVE_ORACLE = f"""
WITH {shingle_overlap_sql()}, pos AS (
  SELECT doc_a AS anchor, doc_b AS positive,
         CAST(ROUND(inter * 1000.0 / (sa.n_sh + sb.n_sh - inter)) AS BIGINT)
           AS jac_x1000
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.2
), cand AS (
  SELECT p.anchor, p.positive, p.jac_x1000, d.doc_id AS neg,
         md5(CAST(p.anchor AS VARCHAR) || '|' || CAST(d.doc_id AS VARCHAR))
           AS h
  FROM pos p CROSS JOIN documents d
  WHERE d.doc_id <> p.anchor AND d.doc_id <> p.positive
    AND NOT EXISTS (SELECT 1 FROM pos p2
                    WHERE (p2.anchor = p.anchor AND p2.positive = d.doc_id)
                       OR (p2.positive = p.anchor AND p2.anchor = d.doc_id))
)
SELECT anchor, positive, jac_x1000, neg AS negative FROM (
  SELECT anchor, positive, jac_x1000, neg,
         ROW_NUMBER() OVER (PARTITION BY anchor, positive
                            ORDER BY h, neg) AS rn
  FROM cand) WHERE rn = 1
ORDER BY anchor, positive
"""


@query("pipeline_contrastive_pairs", oracle=_CONTRASTIVE_ORACLE)
def pipeline_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, negative) triplets for contrastive training:
    positives are the near-dup Jaccard pairs, negatives are hash-picked
    uniformly from the corpus EXCLUDING anything the anchor is near-dup
    with (the standard random-negative protocol, made deterministic via
    md5 argmin so the triplet set is oracle-gated).

    Scale shape: the positive set is pair-scale (small); it broadcasts
    over one corpus scan to score negative candidates, an anti-join
    against the positive set removes false negatives, and a per-pair
    argmin (map-side combinable) picks the winner -- no corpus x corpus
    product at any point.
    """
    from ushas_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _jaccard_pairs,
    )

    pos = (
        _jaccard_pairs(spark, sf_dir)
        .filter(F.col("jac") >= JACCARD_THRESHOLD)
        .select(
            F.col("doc_a").alias("anchor"),
            F.col("doc_b").alias("positive"),
            F.round(F.col("jac") * 1000).cast("long").alias("jac_x1000"),
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # Exclusion set: any near-dup relation of the anchor, either side.
    excl = pos.select(
        F.col("anchor").alias("xa"), F.col("positive").alias("xb")
    ).unionAll(
        pos.select(F.col("positive").alias("xa"), F.col("anchor").alias("xb"))
    ).distinct()
    cand = (
        docs.crossJoin(F.broadcast(pos))
        .where(
            (F.col("doc_id") != F.col("anchor"))
            & (F.col("doc_id") != F.col("positive"))
        )
        .join(
            F.broadcast(excl),
            (F.col("anchor") == F.col("xa")) & (F.col("doc_id") == F.col("xb")),
            "left_anti",
        )
        .select(
            "anchor",
            "positive",
            "jac_x1000",
            F.col("doc_id").alias("neg"),
            F.md5(
                F.concat_ws("|", F.col("anchor"), F.col("doc_id"))
            ).alias("h"),
        )
    )
    best = cand.groupBy("anchor", "positive", "jac_x1000").agg(
        F.min(F.struct("h", "neg")).alias("m")
    )
    return best.select(
        "anchor", "positive", "jac_x1000", F.col("m.neg").alias("negative")
    ).orderBy("anchor", "positive")


# ----------------------------------------------- RAG sliding-window chunks
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks

_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
  FROM documents
), ex AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(generate_series(
           0, (GREATEST(len(toks) - {CHUNK_TOKENS}, 0) + {CHUNK_STRIDE - 1})
              // {CHUNK_STRIDE})) AS k
  FROM t
)
SELECT doc_id,
       CAST(k AS BIGINT) AS chunk_id,
       CAST(len(list_slice(toks, 1 + k * {CHUNK_STRIDE},
                           k * {CHUNK_STRIDE} + {CHUNK_TOKENS})) AS BIGINT)
         AS n_tok,
       md5(array_to_string(
             list_slice(toks, 1 + k * {CHUNK_STRIDE},
                        k * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' '))
         AS chunk_hash
FROM ex
ORDER BY doc_id, chunk_id
"""


@query("pipeline_chunk_sliding", oracle=_CHUNK_ORACLE)
def pipeline_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window retrieval chunks: every document becomes
    ceil(max(n_tok - C, 0) / S) + 1 overlapping windows of C={64} tokens
    at stride S={48} (16-token overlap), the standard RAG indexing unit.
    Output is (doc_id, chunk_id, n_tok, md5 chunk fingerprint) -- the
    fingerprint doubles as the join key for chunk-level dedup before
    embedding (embedding compute dominates cost at scale, so dropping
    duplicate chunks BEFORE the encoder is the whole game).

    Scale shape: ZERO shuffles -- tokenize, window enumeration
    (sequence -> explode) and slicing are all per-row JVM expressions,
    so the operator is embarrassingly parallel over input splits; the
    final global sort exists only for gate determinism. Chunk counts use
    integer arithmetic ((n-C+S-1) div S), never float ceil, so Spark and
    the oracle agree exactly.

    Reference analog: none (the fork has no corpus surface); the explode
    machinery is GenerateExec (reference: sql/core/src/main/scala/org/
    apache/spark/sql/execution/GenerateExec.scala:40).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.col("text"), r"\s+").alias("toks")
    ).withColumn(
        "k",
        F.explode(
            F.expr(
                f"sequence(0, (greatest(size(toks) - {CHUNK_TOKENS}, 0)"
                f" + {CHUNK_STRIDE - 1}) div {CHUNK_STRIDE})"
            )
        ),
    )
    chunk = F.expr(
        f"slice(toks, 1 + k * {CHUNK_STRIDE}, {CHUNK_TOKENS})"
    )
    return toks.select(
        "doc_id",
        F.col("k").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tok"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_id")


# ------------------------------------------- token-level sequence packing
SEQ_LEN = 128  # training sequence length (tokens)

_PACK_SEQ_ORACLE = _PACKED_SQL + f"""SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST((cum - tok) // {SEQ_LEN} AS BIGINT) AS seq_id,
       CAST((cum - tok) % {SEQ_LEN} AS BIGINT) AS tok_offset,
       doc_id, tok AS n_tok,
       ((cum - 1) // {SEQ_LEN} <> (cum - tok) // {SEQ_LEN}) AS spans_boundary
FROM packed
ORDER BY bucket, seq_id, tok_offset, doc_id
"""


@query("pipeline_pack_sequences", oracle=_PACK_SEQ_ORACLE)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level sequence packing: assign every document a
    (bucket, seq_id, tok_offset) slot in fixed {SEQ_LEN}-token training
    sequences -- the row-level manifest a sequence-packing data loader
    consumes (pipeline_pack_shards is the shard-level rollup of the
    same prefix sums). ``spans_boundary`` marks documents that cross a
    sequence edge, i.e. exactly the places a loader must split or pad;
    emitting the flag keeps the operator a pure manifest instead of
    baking in one split policy.

    Scale shape: identical to pack_shards -- one windowed prefix sum
    per hash bucket (buckets are independent window partitions, nothing
    funnels to one executor), then pure per-row arithmetic. Offsets are
    integer div/mod of the BIGINT prefix sums, exact on both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = hash60(F.col("doc_id").cast("string"))
    toks = F.size(F.split("text", r"\s+")).cast("long")
    base = docs.select("doc_id", h.alias("h"), toks.alias("tok")).withColumn(
        "bucket", F.col("h") % N_PACK_BUCKETS
    )
    w = (
        W.partitionBy("bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = base.withColumn("cum", F.sum("tok").over(w))
    start = F.col("cum") - F.col("tok")
    return packed.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.expr(f"(cum - tok) div {SEQ_LEN}").alias("seq_id"),
        (start % SEQ_LEN).alias("tok_offset"),
        "doc_id",
        F.col("tok").alias("n_tok"),
        (
            F.expr(f"(cum - 1) div {SEQ_LEN}")
            != F.expr(f"(cum - tok) div {SEQ_LEN}")
        ).alias("spans_boundary"),
    ).orderBy("bucket", "seq_id", "tok_offset", "doc_id")


# ---------------------------------------- global ordinals without one task
SEQ_BUCKET_WIDTH = 64  # n_chars per range bucket (domain ~0..600 -> ~10)

_GLOBAL_SEQ_ORACLE = """
SELECT doc_id, n_chars,
       CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS BIGINT)
         AS global_ordinal
FROM documents
ORDER BY global_ordinal
"""


@query("pipeline_global_sequence", oracle=_GLOBAL_SEQ_ORACLE)
def pipeline_global_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global ordinals by (n_chars DESC, doc_id) -- the
    curriculum-ordering / distributed-zipWithIndex problem -- WITHOUT
    the naive global row_number's single-partition window (the thing
    that OOMs one task at 100 TB).

    The scalable two-pass shape: (1) rows bucket by a DETERMINISTIC
    range of the sort key (fixed-width n_chars bands -- data-independent,
    unlike repartitionByRange's sampled boundaries, so ordinals are
    stable across runs/retries); (2) a per-bucket row_number ranks
    locally while a |buckets|-row cumulative sum of bucket counts
    (broadcast back) supplies each bucket's global offset. One hash
    shuffle on the bucket key; the only global window runs over the
    tiny bucket-count table. For skewed sort keys, derive the band
    edges from the agg_equidepth_histogram rank arithmetic instead of
    fixed widths -- the offset algebra is unchanged.

    The oracle states the contract directly as the naive global
    ROW_NUMBER -- the two formulations must agree row-for-row.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    bucketed = d.withColumn(
        "bucket", F.expr(f"n_chars div {SEQ_BUCKET_WIDTH}")
    )
    counts = (
        bucketed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Global order is n_chars DESC -> higher buckets come first; each
    # bucket's offset is the total count of strictly-higher buckets.
    w_off = (
        W.orderBy(F.col("bucket").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offsets = counts.select(
        "bucket", (F.sum("n").over(w_off) - F.col("n")).alias("offset")
    )
    w_local = W.partitionBy("bucket").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    ranked = bucketed.withColumn("rn", F.row_number().over(w_local))
    return (
        ranked.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "n_chars",
            (F.col("offset") + F.col("rn") - 1).alias("global_ordinal"),
        )
        .orderBy("global_ordinal")
    )


# ------------------------------------------ quality-weighted resampling
RESAMPLE_SCALE = 150  # keep probability = min(quality, 150) / 150

_RESAMPLE_ORACLE = f"""
WITH t AS (SELECT doc_id, source, text,
                  regexp_split_to_array(text, '\\s+') AS toks
           FROM documents),
f AS (
  SELECT doc_id, source,
         len(toks) AS n_tok,
         len(list_distinct(toks)) AS n_uniq,
         len(list_filter(toks,
             w -> list_contains(['the','a','of','and','to'], w))) AS n_stop,
         length(text) AS n_chr
  FROM t
), q AS (
  SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
         CAST(ROUND(
           100.0 * (CAST(n_uniq AS DOUBLE) / n_tok)
           + 50.0 * (CAST(n_stop AS DOUBLE) / n_tok)
           + CASE WHEN n_tok BETWEEN 20 AND 1000 THEN 25.0 ELSE 0.0 END
           + CASE WHEN n_chr >= 100 THEN 25.0 ELSE 0.0 END
         ) AS BIGINT) AS quality
  FROM f
), kept AS (
  SELECT source, n_tok,
         CASE WHEN {sql_hash60("'resample:' || CAST(doc_id AS VARCHAR)")}
                   % {RESAMPLE_SCALE} < LEAST(quality, {RESAMPLE_SCALE})
              THEN 1 ELSE 0 END AS keep
  FROM q
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_in,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST(SUM(keep * n_tok) AS BIGINT) AS tok_kept
FROM kept
GROUP BY source
ORDER BY source
"""


@query("pipeline_importance_resample", oracle=_RESAMPLE_ORACLE)
def pipeline_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling (DoReMi-lite): each document
    survives with probability min(quality, {RESAMPLE_SCALE}) /
    {RESAMPLE_SCALE}, decided by a PURE hash of its id -- so reruns,
    backfills and both engines agree row-for-row (rand() could never
    gate). Higher-quality documents are proportionally up-weighted in
    the surviving corpus; the report accounts docs and tokens kept per
    source.

    Scale shape: one scan, all map-side arithmetic (quality features +
    hash decision), one rollup over |sources| groups."""
    from ushas_spark.operators.text import STOPWORDS, tokens

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    en_stop = F.array([F.lit(w) for w in STOPWORDS["en"]])
    n_tok = F.size(toks).cast("double")
    n_uniq = F.size(F.array_distinct(toks)).cast("double")
    n_stop = F.size(
        F.filter(toks, lambda w: F.array_contains(en_stop, w))
    ).cast("double")
    n_chr = F.length("text")
    quality = F.round(
        100.0 * (n_uniq / n_tok)
        + 50.0 * (n_stop / n_tok)
        + F.when(
            (F.size(toks) >= 20) & (F.size(toks) <= 1000), 25.0
        ).otherwise(0.0)
        + F.when(n_chr >= 100, 25.0).otherwise(0.0)
    ).cast("long")
    h = hash60(F.concat(F.lit("resample:"), F.col("doc_id").cast("string")))
    keep = F.when(
        h % RESAMPLE_SCALE < F.least(quality, F.lit(RESAMPLE_SCALE)), 1
    ).otherwise(0)
    base = d.select(
        "source",
        F.size(toks).cast("long").alias("n_tok"),
        keep.alias("keep"),
    )
    return (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_in"),
            F.sum("keep").cast("long").alias("n_kept"),
            F.sum(F.col("keep") * F.col("n_tok")).alias("tok_kept"),
        )
        .orderBy("source")
    )


_STRAT_ORACLE = f"""
WITH labelled AS (
  SELECT source,
         {_SPLIT_CASE_SQL.format(
             h=sql_hash60("source || ':' || CAST(doc_id AS VARCHAR)"))}
           AS split,
         CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS tok
  FROM documents
)
SELECT source, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS n_tokens
FROM labelled
GROUP BY source, split
ORDER BY source, split
"""


@query("pipeline_stratified_split", oracle=_STRAT_ORACLE)
def pipeline_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED train/val/test split: hashing (source, doc_id)
    instead of doc_id alone re-randomizes within every source, so each
    split preserves the corpus's source mix even when doc_id ranges
    correlate with sources (they always do -- ingestion is
    batch-by-source). Same pure-hash determinism contract as
    pipeline_train_test_split; the per-(source, split) accounting IS
    the stratification audit.

    Scale shape: one scan, map-side hash + token count, one rollup."""
    docs = load_table(spark, sf_dir, "documents")
    h = hash60(
        F.concat(F.col("source"), F.lit(":"), F.col("doc_id").cast("string"))
    )
    split = (
        F.when(h % 100 < 90, "train").when(h % 100 < 95, "val").otherwise("test")
    )
    toks = F.size(F.split("text", r"\s+")).cast("long")
    return (
        docs.select("source", split.alias("split"), toks.alias("tok"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("tok").alias("n_tokens"))
        .orderBy("source", "split")
    )


# ------------------------------------------------ epoch mixture planning
MIX_TOKEN_BUDGET = 500_000  # target training tokens for the plan

_MIXTURE_ORACLE = f"""
WITH per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT)
           AS n_tokens,
         CAST(20 + {sql_hash60("source")} % 60 AS BIGINT) AS weight_x100
  FROM documents
  GROUP BY source
), tot AS (
  SELECT CAST(SUM(weight_x100) AS BIGINT) AS w_total FROM per_src
)
SELECT p.source, p.n_docs, p.n_tokens, p.weight_x100,
       CAST({MIX_TOKEN_BUDGET} * p.weight_x100 // t.w_total AS BIGINT)
         AS target_tokens,
       CAST(100 * ({MIX_TOKEN_BUDGET} * p.weight_x100 // t.w_total)
            // p.n_tokens AS BIGINT) AS epochs_x100,
       CASE WHEN {MIX_TOKEN_BUDGET} * p.weight_x100 // t.w_total > p.n_tokens
            THEN 1 ELSE 0 END AS needs_repetition
FROM per_src p CROSS JOIN tot t
ORDER BY p.source
"""


@query("pipeline_epoch_mixture", oracle=_MIXTURE_ORACLE)
def pipeline_epoch_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture planning: given per-source token inventories,
    per-source mixture weights and a total token budget, compute each
    source's target token allocation and the repetition factor
    (epochs) needed to meet it -- the Pile/DoReMi-style planning table
    a run reads before sampling, with needs_repetition flagging
    sources whose allocation exceeds their inventory (up-sampled
    epochs > 1). Weights here derive deterministically from the source
    name hash (20..79) so both engines compute identical plans without
    a config channel; production swaps in learned or hand-set weights
    -- the algebra (all integer div, exact cross-engine) is unchanged.

    Scale shape: ONE corpus scan (map-side token count + rollup to
    |sources| rows), then pure arithmetic on the tiny plan table with
    its 1-row weight total broadcast. The plan feeds
    pipeline_importance_resample / pipeline_quota_sample for the
    actual sampling pass."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", r"\s+")).cast("long")).alias("n_tokens"),
    ).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.lit(20) + hash60(F.col("source")) % 60).alias("weight_x100"),
    )
    tot = per_src.agg(F.sum("weight_x100").alias("w_total"))
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "weight_x100",
            F.expr(
                f"{MIX_TOKEN_BUDGET} * weight_x100 div w_total"
            ).alias("target_tokens"),
            F.expr(
                f"100 * ({MIX_TOKEN_BUDGET} * weight_x100 div w_total)"
                " div n_tokens"
            ).alias("epochs_x100"),
            F.expr(
                f"CASE WHEN {MIX_TOKEN_BUDGET} * weight_x100 div w_total"
                " > n_tokens THEN 1 ELSE 0 END"
            ).cast("long").alias("needs_repetition"),
        )
        .orderBy("source")
    )


# ------------------------------------------------ snapshot / shard diff
DIFF_SHARDS = 32

_SNAPDIFF_ORACLE = f"""
WITH a AS (
  SELECT doc_id,
         {sql_hash60("CAST(doc_id AS VARCHAR)")} % {DIFF_SHARDS} AS shard,
         md5(substr(text, 1, length(text) - (CASE WHEN doc_id % 5 = 0
                                                  THEN 1 ELSE 0 END)))
           AS digest
  FROM documents WHERE doc_id % 17 <> 0
), b AS (
  SELECT doc_id,
         {sql_hash60("CAST(doc_id AS VARCHAR)")} % {DIFF_SHARDS} AS shard,
         md5(text) AS digest
  FROM documents
), joined AS (
  SELECT COALESCE(a.shard, b.shard) AS shard,
         CASE WHEN a.doc_id IS NULL THEN 'added'
              WHEN b.doc_id IS NULL THEN 'removed'
              WHEN a.digest <> b.digest THEN 'modified'
              ELSE 'unchanged' END AS status
  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
)
SELECT shard,
       CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_added,
       CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       CAST(SUM(CASE WHEN status = 'modified' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_modified,
       CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unchanged,
       CAST(CASE WHEN SUM(CASE WHEN status <> 'unchanged' THEN 1 ELSE 0 END)
                      > 0
                 THEN 1 ELSE 0 END AS BIGINT) AS needs_rebuild
FROM joined
GROUP BY shard
ORDER BY shard
"""


@query("pipeline_snapshot_diff", oracle=_SNAPDIFF_ORACLE)
def pipeline_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-rebuild planning: diff two corpus snapshots at the
    SHARD level -- per shard, how many documents were added, removed,
    or content-modified since the last run, and whether the shard
    needs rebuilding at all. This is the primitive that turns a 100 TB
    full reprocess into an incremental one: downstream stages
    (tokenize, dedup index, pack) re-run ONLY shards with
    needs_rebuild = 1. Snapshot A is derived deterministically from
    the corpus (every 17th doc missing = adds; every 5th doc's digest
    computed over a truncated body = modifications) so both engines
    replay the same diff.

    Scale shape: each snapshot is one scan projecting (doc_id, shard,
    digest); the diff is a single full outer join ON doc_id -- which
    co-partitions both sides by the join key, so each shard's docs
    meet on the same executors -- followed by a map-side-combinable
    rollup to |shards| rows. No all-pairs anything; digests (md5)
    are codegen JVM expressions."""
    docs = load_table(spark, sf_dir, "documents")
    shard = (hash60(F.col("doc_id").cast("string")) % DIFF_SHARDS).alias(
        "shard"
    )
    a = docs.filter(F.col("doc_id") % 17 != 0).select(
        F.col("doc_id").alias("a_id"),
        shard,
        F.md5(
            F.expr(
                "substr(text, 1, length(text) - "
                "(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END))"
            )
        ).alias("a_digest"),
    )
    b = docs.select(
        F.col("doc_id").alias("b_id"),
        shard.alias("b_shard"),
        F.md5("text").alias("b_digest"),
    )
    joined = a.join(b, a.a_id == b.b_id, "full_outer").select(
        F.coalesce("shard", "b_shard").alias("shard"),
        F.when(F.col("a_id").isNull(), "added")
        .when(F.col("b_id").isNull(), "removed")
        .when(F.col("a_digest") != F.col("b_digest"), "modified")
        .otherwise("unchanged")
        .alias("status"),
    )
    changed = (F.col("status") != "unchanged").cast("long")
    return (
        joined.groupBy("shard")
        .agg(
            F.sum((F.col("status") == "added").cast("long")).alias("n_added"),
            F.sum((F.col("status") == "removed").cast("long")).alias(
                "n_removed"
            ),
            F.sum((F.col("status") == "modified").cast("long")).alias(
                "n_modified"
            ),
            F.sum((F.col("status") == "unchanged").cast("long")).alias(
                "n_unchanged"
            ),
            F.when(F.sum(changed) > 0, 1).otherwise(0).cast("long").alias(
                "needs_rebuild"
            ),
        )
        .orderBy("shard")
    )


# ---------------------------------------- contamination severity bands
_CONTAM_SEV_ORACLE = f"""
WITH {_TRIGRAMS_SQL},
ev AS (SELECT DISTINCT ng FROM flat WHERE doc_id % {_DECONTAM_EVAL_MOD} = 0),
tr AS (SELECT doc_id, ng FROM flat WHERE doc_id % {_DECONTAM_EVAL_MOD} <> 0),
shared AS (
  SELECT tr.doc_id, CAST(COUNT(DISTINCT tr.ng) AS BIGINT) AS n_shared
  FROM tr JOIN ev ON tr.ng = ev.ng
  GROUP BY tr.doc_id
),
tot AS (
  SELECT doc_id, CAST(len(ngs) AS BIGINT) AS n_ngrams FROM ng
  WHERE doc_id % {_DECONTAM_EVAL_MOD} <> 0
),
sev AS (
  SELECT s.doc_id, s.n_shared, t2.n_ngrams,
         CASE WHEN s.n_shared >= 10 THEN '4_heavy'
              WHEN s.n_shared >= 5 THEN '3_high'
              WHEN s.n_shared >= 2 THEN '2_moderate'
              ELSE '1_light' END AS band
  FROM shared s JOIN tot t2 ON s.doc_id = t2.doc_id
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_shared) AS BIGINT) AS total_shared_ngrams,
       CAST(1000000 * SUM(n_shared) // SUM(n_ngrams) AS BIGINT)
         AS contaminated_fraction_x1m,
       CAST(MIN(doc_id) AS BIGINT) AS example_doc
FROM sev
GROUP BY band
ORDER BY band
"""


@query("pipeline_contamination_severity", oracle=_CONTAM_SEV_ORACLE)
def pipeline_contamination_severity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Contamination SEVERITY bands: pipeline_decontaminate flags which
    training docs share benchmark n-grams -- this grades HOW BADLY
    (light 1 / moderate 2-4 / high 5-9 / heavy 10+ shared trigrams,
    plus the contaminated fraction of each band's n-gram mass), the
    triage readout that decides drop-vs-keep thresholds instead of a
    binary purge. Same broadcast-eval-set join shape as the
    decontaminator; severity banding is a CASE ladder, fractions are
    exact integer divisions.

    Scale shape: one corpus n-gram pass, broadcast eval set, per-doc
    rollup, 4-row band rollup."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.repartition(n).select("doc_id", _trigrams().alias("ngs"))
    flat = base.select("doc_id", F.explode("ngs").alias("ng"))
    ev = (
        flat.filter(F.col("doc_id") % _DECONTAM_EVAL_MOD == 0)
        .select("ng")
        .distinct()
    )
    tr = flat.filter(F.col("doc_id") % _DECONTAM_EVAL_MOD != 0)
    # Plain COUNT: same by-construction (doc, ng) uniqueness as
    # pipeline_decontaminate (array_distinct grams x distinct ev side),
    # same redundant distinct-aggregate exchange dropped (r12 probe #8).
    shared = (
        tr.join(F.broadcast(ev), "ng")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    tot = base.filter(F.col("doc_id") % _DECONTAM_EVAL_MOD != 0).select(
        "doc_id", F.size("ngs").cast("long").alias("n_ngrams")
    )
    sev = shared.join(tot, "doc_id").select(
        "doc_id",
        "n_shared",
        "n_ngrams",
        F.when(F.col("n_shared") >= 10, "4_heavy")
        .when(F.col("n_shared") >= 5, "3_high")
        .when(F.col("n_shared") >= 2, "2_moderate")
        .otherwise("1_light")
        .alias("band"),
    )
    return (
        sev.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_shared").alias("total_shared_ngrams"),
            F.expr(
                "1000000 * sum(n_shared) div sum(n_ngrams)"
            ).alias("contaminated_fraction_x1m"),
            F.min("doc_id").alias("example_doc"),
        )
        .orderBy("band")
    )


# ----------------------------------------------- DSIR importance weights

DSIR_BUCKETS = 1024
DSIR_TARGET_SOURCE = "src0"  # the "target domain" sample


def _dsir_bigrams_expr() -> str:
    """All word bigrams of ``text`` in document order (JVM lambda; the
    outer array() binds the split once, same trick as dedup shingles)."""
    return """
        flatten(transform(
          array(split(text, '\\\\s+')),
          w -> CASE WHEN size(w) >= 2
                    THEN transform(sequence(1, size(w) - 1),
                                   i -> concat(w[i - 1], ' ', w[i]))
                    ELSE array()
               END))
        """


_DSIR_SQL_BIGRAMS = (
    "[ws[i] || ' ' || ws[i+1] FOR i IN "
    "generate_series(1, len(ws) - 1)]"
)

_DSIR_ORACLE = f"""
WITH w AS (
  SELECT doc_id, source, regexp_split_to_array(text, '\\s+') AS ws
  FROM documents
),
bg AS (
  SELECT doc_id, source,
         CAST({sql_hash60('b')} % {DSIR_BUCKETS} AS BIGINT) AS bucket
  FROM (SELECT doc_id, source, unnest({_DSIR_SQL_BIGRAMS}) AS b FROM w)
),
stats AS (
  SELECT bucket,
         COUNT(*) AS c_src,
         COUNT(*) FILTER (source = '{DSIR_TARGET_SOURCE}') AS c_tgt
  FROM bg GROUP BY bucket
),
scored AS (
  SELECT bg.doc_id,
         COUNT(*) AS n_bigrams,
         CAST(SUM(CAST(ROUND(1000000.0 * (s.c_tgt + 1) / (s.c_src + 1))
                  AS BIGINT)) AS BIGINT) AS dsir_score_x1m
  FROM bg JOIN stats s ON bg.bucket = s.bucket
  GROUP BY bg.doc_id
)
SELECT doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       dsir_score_x1m,
       CAST(ROUND(CAST(dsir_score_x1m AS DOUBLE) / n_bigrams) AS BIGINT)
         AS mean_score_x1m
FROM scored ORDER BY doc_id
"""


@query("pipeline_dsir_weights", oracle=_DSIR_ORACLE)
def pipeline_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by how much its hashed-bigram distribution looks like a
    TARGET domain (here the '{DSIR_TARGET_SOURCE}' source) relative to
    the whole corpus. DSIR sums log-likelihood ratios; logs are
    engine-divergent at the last ulp, so the score here is the
    integer-exact rational analogue -- per bigram
    round(1e6 * (target_count+1)/(corpus_count+1)), summed as BIGINTs
    (round-then-sum is order-independent; the ranking it induces is the
    same monotone importance signal). Complements
    pipeline_importance_resample (quality-weighted DoReMi-lite) with
    the distribution-MATCHING selection family.

    100 TB shape: bigrams are a JVM lambda + explode; the bucket stats
    table is one map-side-combinable aggregate over {DSIR_BUCKETS}
    hash buckets; scoring re-joins the exploded bigrams to that
    {DSIR_BUCKETS}-row table -- broadcast, so the corpus is never
    shuffled; then one groupBy doc_id. Hashed features are exactly why
    DSIR scales: the stats table size is fixed regardless of corpus
    vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    bg = (
        d.repartition(n)
        .select("doc_id", "source", F.explode(F.expr(_dsir_bigrams_expr())).alias("b"))
        .select(
            "doc_id",
            "source",
            (hash60(F.col("b")) % DSIR_BUCKETS).alias("bucket"),
        )
    )
    from ushas_spark.durability import materialize

    bg = materialize(bg)  # feeds both the stats build and the probe
    stats = bg.groupBy("bucket").agg(
        F.count("*").alias("c_src"),
        F.count(F.when(F.col("source") == DSIR_TARGET_SOURCE, 1)).alias("c_tgt"),
    )
    per_bigram = F.round(
        1_000_000.0 * (F.col("c_tgt") + 1) / (F.col("c_src") + 1)
    ).cast("long")
    scored = (
        bg.join(F.broadcast(stats), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(per_bigram).alias("dsir_score_x1m"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_bigrams").cast("long"),
        F.col("dsir_score_x1m").cast("long"),
        F.round(F.col("dsir_score_x1m").cast("double") / F.col("n_bigrams"))
        .cast("long")
        .alias("mean_score_x1m"),
    ).orderBy("doc_id")


# -------------------------------------------- curation funnel (round 5 e2e)


def _curation_oracle() -> str:
    from ushas_spark.operators.dedup import SPAN_MIN_COUNT, SPAN_WIDTH

    width, min_count = SPAN_WIDTH, SPAN_MIN_COUNT
    concat = " || ' ' || ".join(f"ws[i+{j}]" for j in range(width))
    return f"""
WITH w AS (
  SELECT doc_id, source, text, regexp_split_to_array(text, '\\s+') AS ws
  FROM documents
),
rules AS (
  SELECT doc_id, source, text, ws,
         (CASE WHEN len(ws) BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
          + CASE WHEN CAST(ROUND(100.0 * list_sum(list_transform(ws, x -> len(x)))
                        / len(ws)) AS BIGINT) BETWEEN 300 AND 1000 THEN 1 ELSE 0 END
          + CASE WHEN CAST(ROUND(1000.0 * len(list_filter(ws,
                        x -> regexp_matches(x, '[a-z]'))) / len(ws)) AS BIGINT)
                 >= 800 THEN 1 ELSE 0 END
          + CASE WHEN len(list_intersect(list_distinct(ws),
                        ['the','a','to','of','and','that','have','with'])) >= 2
                 THEN 1 ELSE 0 END) AS rule_hits
  FROM w
),
passed AS (SELECT * FROM rules WHERE rule_hits >= 3),
sh AS (
  SELECT doc_id, i AS pos, {concat} AS shingle
  FROM w CROSS JOIN UNNEST(generate_series(1, len(ws) - {width - 1})) AS t(i)
),
dup AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= {min_count}),
hits AS (SELECT doc_id, pos FROM sh WHERE shingle IN (SELECT shingle FROM dup)),
sweep AS (SELECT doc_id, pos,
                 lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM hits),
cov AS (
  SELECT s.doc_id,
         CAST(ROUND(SUM(CASE WHEN prev IS NULL THEN {width}
                        ELSE LEAST({width}, pos - prev) END) * 1000.0
               / len(w.ws)) AS BIGINT) AS coverage_x1000
  FROM sweep s JOIN w ON s.doc_id = w.doc_id
  GROUP BY s.doc_id, len(w.ws)
),
span_ok AS (
  SELECT p.* FROM passed p LEFT JOIN cov ON p.doc_id = cov.doc_id
  WHERE COALESCE(cov.coverage_x1000, 0) < 500
),
exact_ok AS (
  SELECT * FROM (
    SELECT s.*, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
    FROM span_ok s
  ) WHERE doc_id = keeper
)
SELECT w.source,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(p.doc_id) AS BIGINT) AS n_after_rules,
       CAST(COUNT(so.doc_id) AS BIGINT) AS n_after_spans,
       CAST(COUNT(e.doc_id) AS BIGINT) AS n_survivors
FROM w
LEFT JOIN passed p ON w.doc_id = p.doc_id
LEFT JOIN span_ok so ON w.doc_id = so.doc_id
LEFT JOIN exact_ok e ON w.doc_id = e.doc_id
GROUP BY w.source
ORDER BY w.source
"""


@query("pipeline_curation_e2e", oracle=_curation_oracle())
def pipeline_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 curation operators COMPOSED as one funnel, the way a
    production corpus build chains them: Gopher-style rule gate (>= 3
    of the 4 content rules) -> span-dedup gate (duplicated-5-gram
    coverage < 50% of words) -> exact-text dedup (keep the smallest
    doc_id per content hash) -> per-source survival accounting. Every
    stage reuses the standalone operator's exact arithmetic, so the
    whole funnel stays oracle-gated end to end.

    100 TB shape: stage gates are semi/anti joins on doc_id; the span
    stage inherits the linear shingle-count plan (no pair generation);
    exact dedup is one window over the md5 key; the report is a
    |sources|-row rollup. Nothing materialises per-doc state on the
    driver."""
    from ushas_spark.operators.dedup import (
        SPAN_MIN_COUNT,
        SPAN_WIDTH,
        _positional_shingles,
    )

    width, min_count = SPAN_WIDTH, SPAN_MIN_COUNT
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = F.split(F.col("text"), r"\s+")
    n = F.size(toks)
    sum_len = F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, v: a + v)
    stop_arr = F.array(*[F.lit(x) for x in
                         ("the", "a", "to", "of", "and", "that", "have", "with")])
    rule_hits = (
        n.between(50, 100_000).cast("int")
        + F.round(100.0 * sum_len / n).cast("long").between(300, 1000).cast("int")
        + (
            F.round(1000.0 * F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))) / n)
            .cast("long")
            >= 800
        ).cast("int")
        + (F.size(F.array_intersect(F.array_distinct(toks), stop_arr)) >= 2).cast("int")
    )
    base = d.withColumn("rule_hits", rule_hits)
    passed = base.filter(F.col("rule_hits") >= 3)

    npart = spark.sparkContext.defaultParallelism
    sh = (
        d.repartition(npart)
        .select("doc_id", F.posexplode(_positional_shingles(width)))
        .select("doc_id", (F.col("pos") + 1).alias("pos"), F.col("col").alias("shingle"))
    )
    from ushas_spark.durability import materialize

    sh = materialize(sh)
    dup = (
        sh.groupBy("shingle").agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_count).select("shingle")
    )
    hits = sh.join(dup, "shingle", "left_semi")
    win = W.partitionBy("doc_id").orderBy("pos")
    contrib = F.when(F.lag("pos").over(win).isNull(), F.lit(width)).otherwise(
        F.least(F.lit(width), F.col("pos") - F.lag("pos").over(win))
    )
    n_words = d.select("doc_id", F.size(F.split("text", r"\s+")).alias("nw"))
    cov = (
        hits.withColumn("c", contrib)
        .groupBy("doc_id").agg(F.sum("c").alias("covered"))
        .join(n_words, "doc_id")
        .select(
            "doc_id",
            F.round(F.col("covered") * 1000.0 / F.col("nw")).cast("long")
            .alias("coverage_x1000"),
        )
    )
    span_ok = (
        passed.join(cov, "doc_id", "left")
        .filter(F.coalesce(F.col("coverage_x1000"), F.lit(0)) < 500)
        .drop("coverage_x1000")
    )
    keeper = F.min("doc_id").over(W.partitionBy(F.md5("text")))
    exact_ok = (
        span_ok.withColumn("keeper", keeper)
        .filter(F.col("doc_id") == F.col("keeper"))
        .drop("keeper")
    )
    return (
        d.join(passed.select("doc_id", F.lit(1).alias("p")), "doc_id", "left")
        .join(span_ok.select("doc_id", F.lit(1).alias("s")), "doc_id", "left")
        .join(exact_ok.select("doc_id", F.lit(1).alias("e")), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.count("p").alias("n_after_rules"),
            F.count("s").alias("n_after_spans"),
            F.count("e").alias("n_survivors"),
        )
        .orderBy("source")
    )


# --------------------------------------------- Bloom decontamination prefilter

BLOOM_BITS = 4096
BLOOM_HASHES = 3

_BLOOM_ORACLE = f"""
WITH {_TRIGRAMS_SQL},
hashed AS (
  SELECT doc_id, ng,
         {sql_hash60('ng')} % {BLOOM_BITS} AS h1,
         1 + {sql_hash60("ng || '|'")} % {BLOOM_BITS - 1} AS h2
  FROM flat
),
ev AS (SELECT DISTINCT ng, h1, h2 FROM hashed
       WHERE doc_id % {_DECONTAM_EVAL_MOD} = 0),
bits AS (
  SELECT DISTINCT (h1 + i * h2) % {BLOOM_BITS} AS bit
  FROM ev, range({BLOOM_HASHES}) r(i)
),
words AS (
  SELECT bit // 62 AS w, BIT_OR(1::BIGINT << CAST(bit % 62 AS INT)) AS mask
  FROM bits GROUP BY bit // 62
),
tr AS (SELECT * FROM hashed WHERE doc_id % {_DECONTAM_EVAL_MOD} <> 0),
probe_bits AS (
  SELECT tr.doc_id, tr.ng, (tr.h1 + r.i * tr.h2) % {BLOOM_BITS} AS bit
  FROM tr, range({BLOOM_HASHES}) r(i)
),
probe AS (
  SELECT pb.doc_id, pb.ng,
         MIN(CASE WHEN (words.mask &
             (1::BIGINT << CAST(pb.bit % 62 AS INT))) <> 0
             THEN 1 ELSE 0 END) AS hit
  FROM probe_bits pb LEFT JOIN words ON words.w = pb.bit // 62
  GROUP BY pb.doc_id, pb.ng
),
truth AS (SELECT DISTINCT ng FROM flat WHERE doc_id % {_DECONTAM_EVAL_MOD} = 0)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(p.hit) AS BIGINT) AS n_bloom_candidates,
       CAST(SUM(CASE WHEN truth.ng IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true_contaminated,
       CAST(SUM(p.hit) - SUM(CASE WHEN truth.ng IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_positives
FROM probe p LEFT JOIN truth ON p.ng = truth.ng
GROUP BY p.doc_id
ORDER BY p.doc_id
"""


@query("pipeline_bloom_prefilter", oracle=_BLOOM_ORACLE)
def pipeline_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination PREFILTER, plus its measured
    false-positive cost against the exact broadcast-set answer.

    pipeline_decontaminate broadcasts the eval set's distinct n-grams
    verbatim; at benchmark-suite scale that is MBs and fine, but a
    frequently-refreshed or multi-benchmark eval union can outgrow
    comfortable broadcast. The production alternative is this operator:
    fold the eval n-grams into a {BLOOM_BITS}-bit Bloom filter stored as
    {BLOOM_BITS // 62 + 1} BIGINT words (62 bits per word: DuckDB's
    checked left shift refuses 1 << 63, so both engines pack 62) -- built DISTRIBUTEDLY (bit
    positions are grouped per word with a map-side-combinable BIT_OR,
    never collected to the driver) -- then broadcast the 64-row word
    table and probe each training gram with {BLOOM_HASHES} double-hashed
    positions. A positive probe is only a CANDIDATE; the n_false_
    positives column quantifies exactly what the exact-verify pass
    downstream must absorb, which is the number that sizes BLOOM_BITS
    before a 100 TB run.

    Engine-exact by construction: bit positions come from the md5-based
    hash60 (identical in DuckDB), double hashing h1 + i*h2 is integer
    arithmetic, and both engines fold bits with two's-complement BIGINT
    shifts and BIT_OR.

    r13 restructure (OPTIMIZATION_r13.md item 3), two changes, both
    provably value-identical:

    - ``hashed`` (documents scan -> 3-gram zip_with -> explode -> TWO
      md5-based hash60 evaluations per gram) was referenced three times
      (words build, probe side, truth) and therefore evaluated three
      times; it is now ``materialize``d once -- the same per-invocation
      scan-reuse transfer as the r12 k-means/semdedup/PCA ships, and it
      freezes h1/h2 so no downstream shape can re-evaluate md5.
    - The probe no longer explodes 3 bit rows per gram and re-groups by
      (doc_id, ng): each of the BLOOM_HASHES probes joins the 67-row
      broadcast words table directly (real hash relations -- unlike the
      r12 probe-#9 one-row-map arm whose map_contains_key linear scan
      lost) and the hit is an in-row AND; the per-gram truth join moves
      BEFORE the probe, so the full-width gram strings never enter any
      exchange and the (doc_id, ng) min-agg exchange disappears
      entirely (planned shuffles 5 -> 4, probe-side fan-out 3x -> 1x).
      Identity: (doc, ng) pairs are unique pre-explode (per-doc
      array_distinct), so COUNT over gram rows == COUNT over the old
      (doc_id, ng) groups and MIN over the 3 exploded bit-tests == the
      in-row AND of the same 3 tests.

    WON all four interleaved isolated sf0.1 pairings
    (1.97/1.97/1.96/2.00 vs 3.17/2.30/2.48/2.64 s best-of-3),
    hash-identical at sf0.001/0.01/0.1; at sf0.01 the shape pays fixed
    checkpoint/stage overhead and measured a small loss (3.41 vs
    1.24 s) -- the removed costs (triple gram-subtree evaluation, 3x
    probe fan-out, gram-string exchange) are all linear in the corpus,
    the added ones are per-query constants. No new regime gate: every
    broadcast here is either constant-size (words: BLOOM_BITS/62 rows)
    or already broadcast in the prior shape (truth)."""
    d = load_table(spark, sf_dir, "documents")
    hashed = materialize(
        d.select("doc_id", F.explode(_trigrams()).alias("ng")).select(
            "doc_id",
            "ng",
            (hash60(F.col("ng")) % BLOOM_BITS).alias("h1"),
            (
                F.lit(1)
                + hash60(F.concat(F.col("ng"), F.lit("|"))) % (BLOOM_BITS - 1)
            ).alias("h2"),
        )
    )
    ev = hashed.filter(F.col("doc_id") % _DECONTAM_EVAL_MOD == 0)
    bits = (
        ev.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(BLOOM_HASHES - 1)),
                    lambda i: (F.col("h1") + i * F.col("h2")) % BLOOM_BITS,
                )
            ).alias("bit")
        )
        .distinct()
    )
    # Materialized because BLOOM_HASHES broadcast instances reference
    # it and ReuseExchange does not dedupe identical subtrees across
    # broadcast boundaries (r08 lesson; first cut of this shape
    # re-planned the bits.distinct + BIT_OR build once per probe join).
    words = materialize(
        bits.groupBy(F.expr("bit div 62").alias("w")).agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 62 AS INT))")
            ).alias("mask")
        )
    )
    truth = ev.select("ng").distinct().withColumn("is_true", F.lit(1))
    cur = (
        hashed.filter(F.col("doc_id") % _DECONTAM_EVAL_MOD != 0)
        .join(F.broadcast(truth), "ng", "left")
        .select(
            "doc_id",
            "h1",
            "h2",
            F.coalesce(F.col("is_true"), F.lit(0)).alias("it"),
        )
    )
    tests = []
    for i in range(BLOOM_HASHES):
        wi = words.select(
            F.col("w").alias(f"w{i}"), F.col("mask").alias(f"mask{i}")
        )
        cur = cur.withColumn(
            f"b{i}", (F.col("h1") + F.lit(i) * F.col("h2")) % BLOOM_BITS
        ).join(
            F.broadcast(wi),
            F.expr(f"b{i} div 62") == F.col(f"w{i}"),
            "left",
        )
        tests.append(
            F.coalesce(F.col(f"mask{i}"), F.lit(0)).bitwiseAND(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(b{i} % 62 AS INT))")
            )
            != 0
        )
    hit = tests[0]
    for t in tests[1:]:
        hit = hit & t
    return (
        cur.select("doc_id", "it", hit.cast("long").alias("hit"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("hit").alias("n_bloom_candidates"),
            F.sum("it").alias("n_true_contaminated"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("long"),
            F.col("n_bloom_candidates").cast("long"),
            F.col("n_true_contaminated").cast("long"),
            (F.col("n_bloom_candidates") - F.col("n_true_contaminated"))
            .cast("long")
            .alias("n_false_positives"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------ length-bucketed padding ROI

PAD_BUCKET_TOKENS = 32  # bucket width in tokens

_PADDING_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tok
  FROM documents
),
g AS (SELECT MAX(n_tok) AS gmax FROM t),
b AS (
  SELECT n_tok // {PAD_BUCKET_TOKENS} AS bucket,
         COUNT(*) AS n_docs,
         SUM(n_tok) AS sum_tokens,
         MAX(n_tok) AS bucket_max
  FROM t GROUP BY n_tok // {PAD_BUCKET_TOKENS}
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(sum_tokens AS BIGINT) AS sum_tokens,
       CAST(bucket_max AS BIGINT) AS bucket_max,
       CAST(1000 * (n_docs * bucket_max - sum_tokens)
            // (n_docs * bucket_max) AS BIGINT) AS bucket_waste_x1000,
       CAST(1000 * (n_docs * (SELECT gmax FROM g) - sum_tokens)
            // (n_docs * (SELECT gmax FROM g)) AS BIGINT) AS global_waste_x1000
FROM b ORDER BY bucket
"""


@query("pipeline_padding_efficiency", oracle=_PADDING_ORACLE)
def pipeline_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding waste of length-bucketed batching vs pad-to-corpus-max --
    the measurement that decides bucket boundaries before a tokenize-
    and-batch run. Every doc in a bucket pads to the bucket max;
    bucket_waste_x1000 is the fraction of batch slots burned on pad
    tokens under that scheme, global_waste_x1000 what the same docs
    waste when everything pads to the corpus max (the no-bucketing
    baseline). The gap between the two columns is the training-throughput
    ROI of bucketing.

    Scale shape: one corpus projection to token counts, one
    map-side-combinable groupBy on the bucket id (|buckets| cells), and
    a broadcast 1-row corpus-max merge -- no sort, no window, no doc
    payloads past the first projection."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        F.size(F.split(F.col("text"), r"\s+")).cast("long").alias("n_tok")
    )
    g = t.agg(F.max("n_tok").alias("gmax"))
    b = t.groupBy(F.expr(f"n_tok div {PAD_BUCKET_TOKENS}").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("sum_tokens"),
        F.max("n_tok").alias("bucket_max"),
    )
    return (
        b.crossJoin(F.broadcast(g))
        .select(
            F.col("bucket").cast("long"),
            F.col("n_docs").cast("long"),
            F.col("sum_tokens").cast("long"),
            F.col("bucket_max").cast("long"),
            F.expr(
                "1000 * (n_docs * bucket_max - sum_tokens)"
                " div (n_docs * bucket_max)"
            ).alias("bucket_waste_x1000"),
            F.expr(
                "1000 * (n_docs * gmax - sum_tokens) div (n_docs * gmax)"
            ).alias("global_waste_x1000"),
        )
        .orderBy("bucket")
    )


# ------------------------------------------------ rendezvous shard stability

HRW_SHARDS_BEFORE = 8
HRW_SHARDS_AFTER = 9

_HRW_ORACLE = f"""
WITH docs AS (SELECT doc_id FROM documents),
before_w AS (
  SELECT doc_id, s.i AS shard,
         {sql_hash60("CAST(doc_id AS VARCHAR) || '#' || CAST(s.i AS VARCHAR)")}
           AS w
  FROM docs, range({HRW_SHARDS_BEFORE}) s(i)
),
before_pick AS (
  SELECT doc_id, ARG_MAX(shard, printf('%020d|%03d', w, 999 - shard))
           AS shard_before
  FROM before_w GROUP BY doc_id
),
after_w AS (
  SELECT doc_id, s.i AS shard,
         {sql_hash60("CAST(doc_id AS VARCHAR) || '#' || CAST(s.i AS VARCHAR)")}
           AS w
  FROM docs, range({HRW_SHARDS_AFTER}) s(i)
),
after_pick AS (
  SELECT doc_id, ARG_MAX(shard, printf('%020d|%03d', w, 999 - shard))
           AS shard_after
  FROM after_w GROUP BY doc_id
),
merged AS (
  SELECT b.doc_id, b.shard_before, a.shard_after,
         CASE WHEN b.shard_before <> a.shard_after THEN 1 ELSE 0 END AS moved,
         (b.doc_id % {HRW_SHARDS_BEFORE}) AS mod_before,
         (b.doc_id % {HRW_SHARDS_AFTER}) AS mod_after
  FROM before_pick b JOIN after_pick a ON b.doc_id = a.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(moved) AS BIGINT) AS hrw_moved,
       CAST(1000 * SUM(moved) // COUNT(*) AS BIGINT) AS hrw_moved_x1000,
       CAST(SUM(CASE WHEN mod_before <> mod_after THEN 1 ELSE 0 END) AS BIGINT)
         AS mod_moved,
       CAST(1000 * SUM(CASE WHEN mod_before <> mod_after THEN 1 ELSE 0 END)
            // COUNT(*) AS BIGINT) AS mod_moved_x1000
FROM merged
"""


@query("pipeline_rendezvous_sharding", oracle=_HRW_ORACLE)
def pipeline_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment and its
    stability under a {HRW_SHARDS_BEFORE} -> {HRW_SHARDS_AFTER} rescale,
    vs naive modulo sharding -- the measurement that justifies HRW for
    any corpus whose shard map must survive capacity changes (adding
    one shard should move ~1/(N+1) of keys; modulo reshuffles almost
    everything, invalidating every downstream cache/placement).

    Per key, HRW scores every (key, shard) pair with the md5-based
    hash60 and keeps the argmax; the rescale just adds one more scored
    column per key, so existing winners only lose to the NEW shard --
    the 1/(N+1) bound by construction, and this operator reports the
    measured fractions for both schemes side by side.

    Scale shape: the score fanout is |keys| x N rows through one
    map-side-combinable max_by aggregate per epoch (no join between
    epochs until the final |keys|-row merge); N is the shard count, a
    constant. Ties (never observed with a 60-bit hash, but defined):
    lowest shard id wins, encoded as a fixed-width printf sort key
    because DuckDB's ARG_MAX takes no composite ordering."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def pick(n_shards: int, out: str) -> DataFrame:
        w = d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(n_shards - 1))).alias("shard"),
        ).select(
            "doc_id",
            "shard",
            hash60(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit("#"),
                    F.col("shard").cast("string"),
                )
            ).alias("w"),
        )
        return w.groupBy("doc_id").agg(
            F.expr(
                "max_by(shard, format_string('%020d|%03d', w, 999 - shard))"
            ).alias(out)
        )

    before = pick(HRW_SHARDS_BEFORE, "shard_before")
    after = pick(HRW_SHARDS_AFTER, "shard_after")
    both = before.join(after, "doc_id").select(
        "doc_id",
        "shard_before",
        "shard_after",
        (F.col("shard_before") != F.col("shard_after")).cast("long").alias("moved"),
        (F.col("doc_id") % HRW_SHARDS_BEFORE).alias("mod_before"),
        (F.col("doc_id") % HRW_SHARDS_AFTER).alias("mod_after"),
    )
    return both.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("moved").alias("hrw_moved"),
        F.expr("1000 * sum(moved) div count(*)").alias("hrw_moved_x1000"),
        F.sum((F.col("mod_before") != F.col("mod_after")).cast("long")).alias(
            "mod_moved"
        ),
        F.expr(
            "1000 * sum(cast(mod_before <> mod_after as long)) div count(*)"
        ).alias("mod_moved_x1000"),
    )


# ---------------------------------------------- temperature source mixture

TEMP_EPOCH_DOCS = 1000  # planned docs per training epoch

_TEMP_MIX_ORACLE = f"""
WITH per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
tot AS (
  -- Deterministic total: fold sqrt weights in SOURCE order (a plain
  -- SUM(double) is accumulation-order-undefined across engines).
  SELECT list_reduce(
           list_prepend(0.0, list(sqrt(CAST(n_docs AS DOUBLE))
                                  ORDER BY source)),
           (acc, v) -> acc + v) AS wsum
  FROM per_src
)
SELECT source, n_docs,
       CAST(ROUND(1000000 * sqrt(CAST(n_docs AS DOUBLE))
                  / (SELECT wsum FROM tot)) AS BIGINT) AS share_x1e6,
       CAST(ROUND({TEMP_EPOCH_DOCS} * sqrt(CAST(n_docs AS DOUBLE))
                  / (SELECT wsum FROM tot)) AS BIGINT) AS epoch_quota,
       CAST(1000000 * n_docs // (SELECT SUM(n_docs) FROM per_src) AS BIGINT)
         AS natural_share_x1e6
FROM per_src
ORDER BY source
"""


@query("pipeline_temperature_mixture", oracle=_TEMP_MIX_ORACLE)
def pipeline_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source balancing at T=2 (the mT5/multilingual
    sampling rule p_s proportional to n_s^(1/T)): per-source epoch
    quotas where sqrt damping boosts low-resource sources relative to
    their natural share -- the standard fix for head-source domination
    in multilingual/multi-domain pretraining, reported beside the
    natural (proportional) share so the boost is visible per source.

    Exactness: T=2 is chosen deliberately -- n^(1/2) is IEEE sqrt,
    correctly rounded and engine-identical, unlike pow()/exp() whose
    libm implementations diverge in the last ulp. The weight total is
    a SEQUENTIAL LEFT FOLD over sqrt weights in source order
    (F.aggregate over the sorted collect, list_reduce in DuckDB): a
    plain SUM(double) has engine-dependent accumulation order, the
    one float trap in an otherwise integer operator.

    Scale shape: one map-side-combinable count per source, a |sources|-
    row fold, a broadcast 1-row total -- nothing after the first
    aggregate exceeds |sources| rows."""
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per_src.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("source", "n_docs"))),
                lambda s: F.sqrt(s["n_docs"].cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("wsum"),
        F.sum("n_docs").alias("total_docs"),
    )
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(
                1_000_000 * F.sqrt(F.col("n_docs").cast("double")) / F.col("wsum")
            )
            .cast("long")
            .alias("share_x1e6"),
            F.round(
                TEMP_EPOCH_DOCS
                * F.sqrt(F.col("n_docs").cast("double"))
                / F.col("wsum")
            )
            .cast("long")
            .alias("epoch_quota"),
            F.expr("1000000 * n_docs div total_docs").alias("natural_share_x1e6"),
        )
        .orderBy("source")
    )


# --- token-budget selection (quality-per-token curation) -------------------

BUDGET_DIV = 5  # select under a budget of total_tokens / 5 (20%)

_BUDGET_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         (100 * LENGTH(text)) // len(string_split(text, ' ')) AS score
  FROM documents),
budget AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) // {BUDGET_DIV} AS b FROM scored),
per_score AS (
  SELECT score, CAST(SUM(n_tokens) AS BIGINT) AS toks
  FROM scored GROUP BY score),
cum AS (
  SELECT score, toks,
         COALESCE(SUM(toks) OVER (ORDER BY score DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
  FROM per_score),
marked AS (
  SELECT s.doc_id, s.n_tokens, s.score, c.above,
         CASE WHEN c.above + c.toks <= (SELECT b FROM budget) THEN 'full'
              WHEN c.above < (SELECT b FROM budget) THEN 'boundary'
              ELSE 'out' END AS tier,
         SUM(s.n_tokens) OVER (PARTITION BY s.score ORDER BY s.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM scored s JOIN cum c ON s.score = c.score)
SELECT doc_id, CAST(score AS BIGINT) AS score,
       CAST(n_tokens AS BIGINT) AS n_tokens
FROM marked
WHERE tier = 'full'
   OR (tier = 'boundary' AND above + run <= (SELECT b FROM budget))
ORDER BY doc_id
"""


@query("pipeline_token_budget_select", oracle=_BUDGET_SQL)
def pipeline_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-per-token curation under a global token budget:
    rank documents by an integer quality score (mean chars per token,
    x100) and keep the best until total_tokens / {BUDGET_DIV} tokens
    are spent -- the "fill the training budget with the best data
    first" selection every budgeted pretraining run performs.

    Scale shape (100 TB): the naive design is a corpus-wide sort plus a
    running sum -- an unpartitioned window over every row. Instead:
    (1) ONE map-side-combinable rollup of token totals per DISTINCT
    SCORE (the score domain is bounded by construction, not
    corpus-sized); (2) an exclusive running sum over that small rollup
    finds the threshold score -- every better-scored doc is selected
    outright, no per-row work; (3) only the single boundary score's
    docs need a greedy running sum, and that window is PARTITIONED by
    the boundary score (one score group, doc_id order). The corpus is
    never globally sorted and never carries a window; the only
    full-width shuffles are the score rollup and the final broadcast
    of |distinct scores| rows back onto the scan.

    Determinism: integer score, integer budget, doc_id tie-break
    inside the boundary score -- both engines select the identical
    set (the boundary-interior ORDER BY doc_id is total)."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.expr(
            "(100 * cast(length(text) as bigint)) div size(split(text, ' '))"
        ).alias("score"),
    )
    # Integer division end-to-end (matches the oracle's BIGINT `//`):
    # a double ratio cast('long') diverges once total tokens exceed 2^53.
    budget = scored.agg(
        F.expr(f"sum(n_tokens) div {BUDGET_DIV}").alias("b")
    )
    per_score = scored.groupBy("score").agg(F.sum("n_tokens").alias("toks"))
    cum = per_score.select(
        "score",
        "toks",
        F.coalesce(
            F.sum("toks").over(
                W.orderBy(F.col("score").desc()).rowsBetween(
                    W.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("above"),
    )
    # Single corpus pass: the per-score greedy running sum is computed
    # for every row (PARTITIONED window, no skew beyond one score's
    # ties), then one filter keeps full tiers outright and trims the
    # boundary score -- a full/boundary UNION would scan the corpus
    # twice and re-derive the rollup window per branch.
    marked = (
        scored.join(F.broadcast(cum), "score")
        .crossJoin(F.broadcast(budget))
        .withColumn(
            "tier",
            F.when(F.col("above") + F.col("toks") <= F.col("b"), "full")
            .when(F.col("above") < F.col("b"), "boundary")
            .otherwise("out"),
        )
        .withColumn(
            "run",
            F.sum("n_tokens").over(
                W.partitionBy("score")
                .orderBy("doc_id")
                .rowsBetween(W.unboundedPreceding, 0)
            ),
        )
    )
    return (
        marked.filter(
            (F.col("tier") == "full")
            | (
                (F.col("tier") == "boundary")
                & (F.col("above") + F.col("run") <= F.col("b"))
            )
        )
        .select(
            "doc_id",
            F.col("score").cast("long").alias("score"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


# --- multilingual alpha-sampling weights (XLM-R style, alpha = 0.5) --------

_ALPHA_SQL = """
WITH per_lang AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang),
tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
         list_reduce(
             list_prepend(0.0, list(SQRT(n_docs) ORDER BY lang)),
             (acc, x) -> acc + x) AS sum_sqrt
  FROM per_lang)
SELECT p.lang,
       p.n_docs,
       CAST(FLOOR(1000000 * SQRT(p.n_docs) / t.sum_sqrt) AS BIGINT)
         AS weight_x1m,
       CAST(1000000 * p.n_docs // t.total AS BIGINT) AS natural_x1m
FROM per_lang p, tot t
ORDER BY p.lang
"""


@query("pipeline_lang_alpha_sampling", oracle=_ALPHA_SQL)
def pipeline_lang_alpha_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual sampling weights with alpha = 0.5 (the XLM-R /
    mBERT exponent family): a language's sampling probability is
    sqrt(n_l) / sum_l sqrt(n_l), flattening the head languages and
    up-weighting the tail relative to their natural shares -- emitted
    beside the natural share so the rebalancing factor is visible.

    Determinism across engines: sqrt of an exact integer is correctly
    rounded under IEEE-754 (bit-identical on both engines), and the
    DENOMINATOR is a sequential left fold over the lang-sorted sqrt
    list (F.aggregate here, list_reduce in the oracle) so the handful
    of double additions happen in the same order -- the
    oracle_exact.py fold pattern. One floor division per language
    after that, no other float arithmetic.

    Scale shape: one map-side-combinable count per language (the
    rollup is |languages| rows); the fold runs over that single
    aggregated row. The corpus is scanned once, projected to one
    column."""
    d = load_table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per_lang.agg(
        F.sum("n_docs").alias("total"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("lang", "n_docs"))
                ),
                lambda s: F.sqrt(s["n_docs"]),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sum_sqrt"),
    )
    return (
        per_lang.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            F.floor(1_000_000 * F.sqrt("n_docs") / F.col("sum_sqrt"))
            .cast("long")
            .alias("weight_x1m"),
            F.expr("1000000 * n_docs div total").alias("natural_x1m"),
        )
        .orderBy("lang")
    )
