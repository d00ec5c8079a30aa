"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-conscious and expressed as DataFrame ops (no
Python UDFs; every hash is JVM-side md5 -> codegen'd):

- exact: hash-groupBy on content digest (one shuffle on the digest).
- n-gram Jaccard: exact pairwise similarity via shingle inverted-index
  join -- the verification baseline (quadratic only within shared
  shingles, the standard corpus-dedup join shape).
- MinHash + LSH: shingle -> minhash signature -> banded bucket join; at
  100 TB this replaces the all-pairs join with per-band bucket joins whose
  size is controlled by the band width; candidates verified by exact
  Jaccard.
- SimHash: 32-bit signature + byte-banded Hamming candidate join.

Portability: every hash is ``md5`` truncated to 60 bits, identical in
Spark, DuckDB and Python (`hash60`), so LSH bucket contents -- not just
final answers -- are reproducible across engines; determinism at 100 TB
also means re-runs and incremental runs agree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ushas_spark.durability import broadcast_fits, materialize, pin_partitioned
from ushas_spark.io import load_table
from ushas_spark.registry import query

N_HASHES = 12
BANDS = 4
ROWS_PER_BAND = 3  # N_HASHES / BANDS
JACCARD_THRESHOLD = 0.2
SHINGLE_WIDTH = 3


def hash60(col: Column) -> Column:
    """Portable 60-bit integer hash: md5 hex prefix -> bigint. Identical
    in DuckDB as ``('0x' || substring(md5(x),1,15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_hash60(expr: str) -> str:
    return f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"


def shingles() -> Column:
    """Distinct word n-gram shingles (JVM lambda pipeline, no UDF).

    The outer single-element transform binds the split-words array to a
    LAMBDA VARIABLE so the regex split runs once per row -- naming it via
    a projected column invites CollapseProject to inline the split into
    the inner lambda, where it would re-run per shingle (measured: the
    naive form made signature hashing look 10x slower than it was)."""
    return F.expr(
        f"""
        array_distinct(flatten(transform(
          array(split(text, '\\\\s+')),
          w -> CASE WHEN size(w) >= {SHINGLE_WIDTH}
                    THEN transform(sequence(1, size(w) - {SHINGLE_WIDTH - 1}),
                                   i -> concat_ws(' ', slice(w, i, {SHINGLE_WIDTH})))
                    ELSE array()
               END)))
        """
    )


def sql_shingles(text_expr: str = "text") -> str:
    parts = " || ' ' || ".join(f"s[i+{j}]" for j in range(SHINGLE_WIDTH))
    return (
        f"list_distinct(CASE WHEN len(regexp_split_to_array({text_expr}, '\\s+')) >= {SHINGLE_WIDTH}"
        f" THEN [{parts} FOR i IN generate_series(1,"
        f" len(regexp_split_to_array({text_expr}, '\\s+')) - {SHINGLE_WIDTH - 1})]"
        f" ELSE [] END)"
    ).replace("s[i", "regexp_split_to_array(" + text_expr + ", '\\s+')[i")


# --------------------------------------------------------------- exact


_EXACT_ORACLE = """
SELECT COUNT(*) AS n_total,
       COUNT(DISTINCT md5(text)) AS n_unique,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_removed
FROM documents
"""


@query("dedup_exact", oracle=_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup accounting (hash-groupBy; the survivor set is
    ``dedup_keep_first``-style min-id per digest). At scale the digest
    shuffle is the only wide stage and partitions uniformly."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count("*").alias("n_total"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_removed"),
    )


# ------------------------------------------------- exact n-gram Jaccard

# Shingles appearing in more than this many documents are stop-phrases:
# they carry no dedup signal and each contributes O(df^2) join pairs --
# the ONE quadratic bucket this join shape can produce at 100 TB. They
# are dropped from the shingle universe (index AND sizes, so the Jaccard
# denominator stays consistent) before the self-join. The hot list is
# tiny by construction (few shingles are ubiquitous), so it broadcasts.
NGRAM_DF_CAP = 256


def _shingle_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The DF-capped shingle index ``(doc_id, shingle)`` and its per-doc
    sizes ``(doc_id, n_sh)``.

    The shingle explode is referenced FOUR times downstream (hot-shingle
    scan, join side a, join side b, the per-doc size aggregate) --
    materialize it once (durability.materialize) or the md5-per-shingle
    hashing re-runs; and repartition first because the documents table is
    a single parquet file (one partition) at small SFs.
    """
    d = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    sh_all = (
        d.repartition(n)
        .select("doc_id", F.explode(shingles()).alias("shingle"))
    )
    sh_all = materialize(sh_all)
    # Document-frequency cap: shingles() is per-doc distinct, so count(*)
    # IS document frequency. The over-cap list is broadcast to an anti
    # join -- no extra wide shuffle on the big side beyond the groupBy.
    hot = (
        sh_all.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > NGRAM_DF_CAP)
        .select("shingle")
    )
    sh = sh_all.join(F.broadcast(hot), "shingle", "left_anti")
    return sh, sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs Jaccard >= threshold via the shingle inverted index."""
    sh, sizes = _shingle_index(spark, sf_dir)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("inter"))
            ).alias("jac"),
        )
    )


def shingle_overlap_sql(pair_op: str = "<") -> str:
    """The DF-capped shingle index as oracle CTEs: ``sh_all``, ``hot``,
    ``sh``, per-doc ``sizes`` and the shared-shingle counts ``inter``
    of every doc pair with ``a.doc_id <pair_op> b.doc_id``."""
    return f"""sh_all AS (
  SELECT doc_id, unnest({sql_shingles()}) AS shingle FROM documents
), hot AS (
  SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > {NGRAM_DF_CAP}
), sh AS (
  SELECT * FROM sh_all WHERE shingle NOT IN (SELECT shingle FROM hot)
), sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id {pair_op} b.doc_id
  GROUP BY 1, 2
)"""


# Components of the Jaccard >= threshold pair graph as oracle CTEs over
# shingle_overlap_sql(): ``pairs``, symmetric ``edges`` and the
# recursive ``reach(id, label)`` from every document.
_JACCARD_REACH_SQL = f"""pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= {JACCARD_THRESHOLD}
), edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), reach(id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.id
)"""


_NGRAM_ORACLE = f"""
WITH {shingle_overlap_sql()}
SELECT doc_a, doc_b,
       CAST(ROUND(inter * 1000.0 / (sa.n_sh + sb.n_sh - inter)) AS BIGINT)
         AS jac_x1000
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard near-dup pairs (>= 0.2) over the
    DF-capped shingle universe. The inverted-index join is the scalable
    all-pairs shape; the NGRAM_DF_CAP stop-shingle filter removes the one
    quadratic-under-skew bucket (a ubiquitous trigram at 100 TB would
    otherwise put O(df^2) pairs on one key). Oracle applies the identical
    cap, so the gate stays exact."""
    pairs = _jaccard_pairs(spark, sf_dir)
    return (
        pairs.filter(F.col("jac") >= JACCARD_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("jac") * 1000).cast("long").alias("jac_x1000"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------- MinHash + LSH


# Affine minhash family over a 31-bit prime: h_i(s) = (a_i*h31(s) + b_i)
# mod P with h31 = hash60(s) mod P. ONE md5 per shingle (the expensive
# part -- md5 + hex->int conversion), then N cheap integer ops; products
# stay < 2^62 so int64 arithmetic is exact and ANSI-safe in both engines.
MINHASH_PRIME = 2147483647


def _minhash_coeffs(n_hashes: int = N_HASHES) -> list[tuple[int, int]]:
    return [
        ((2 * i + 1) * 2654435761 % MINHASH_PRIME, (i * 40503 + 7) % MINHASH_PRIME)
        for i in range(n_hashes)
    ]


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id -> [minhash_0 .. minhash_{n-1}]. One explode + one
    map-side-combinable groupBy.

    Engineering notes (all measured at sf0.1):
    - explode+groupBy beats the "no-shuffle" array-lambda formulation ~3x:
      higher-order lambdas run interpreted, outside whole-stage codegen.
    - one md5 per shingle + affine derivation beats one md5 per
      (shingle, hash_i): the md5+conv hex->int path dominates.
    - the repartition matters: a small parquet file arrives as ONE
      partition, serialising all hashing onto one core. At 100 TB the
      scan already has thousands of partitions; min-aggregates combine
      map-side so the shuffle moves one signature row per doc."""
    n = docs.sparkSession.sparkContext.defaultParallelism
    sh = docs.repartition(n).select("doc_id", F.explode(shingles()).alias("shingle"))
    h31 = (hash60(F.col("shingle")) % MINHASH_PRIME).alias("h31")
    hashed = sh.select("doc_id", h31)
    aggs = [
        F.min((F.lit(a) * F.col("h31") + F.lit(b)) % MINHASH_PRIME).alias(f"mh{i}")
        for i, (a, b) in enumerate(_minhash_coeffs(N_HASHES))
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def band_keys(sigs: DataFrame) -> DataFrame:
    """Signature rows -> (doc_id, band, key) bucket membership."""
    band_cols = []
    for b in range(BANDS):
        key = F.md5(
            F.concat_ws(
                ",",
                *[F.col(f"mh{b * ROWS_PER_BAND + r}").cast("string") for r in range(ROWS_PER_BAND)],
            )
        )
        band_cols.append(F.struct(F.lit(b).alias("band"), key.alias("key")))
    return sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def lsh_candidates(sigs: DataFrame) -> DataFrame:
    """Banded LSH: docs agreeing on ALL rows of any band become candidate
    pairs. Implemented as explode-to-(band, key) + self-join per bucket --
    the shape that scales (each bucket is small; no all-pairs)."""
    # Materialize the signatures ONCE: both self-join sides reference
    # them, and without this the whole shingle->hash->min-agg pipeline
    # executes twice (exchange reuse does not cover the aliased join
    # inputs here; measured 51s -> 11s for candidate generation over a
    # 120k-doc synthetic corpus). One signature row per doc, so the
    # materialized footprint is tiny relative to the corpus. On a real
    # cluster persist(DISK_ONLY) or a signatures table serves the same
    # role.
    sigs = materialize(sigs)
    exploded = band_keys(sigs)
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def incremental_lsh_candidates(
    sigs: DataFrame, new_ids: DataFrame
) -> DataFrame:
    """Incremental dedup candidates: today's batch vs the full corpus.

    The daily-increment pattern at 100 TB: historical signatures live in
    a signature TABLE (recomputed here only because the gate has no
    store); only the increment's band keys are new work. Candidates =
    (corpus x increment) band-bucket matches -- the increment side is
    broadcast (a day's batch vs years of corpus), so the historical band
    table is never shuffled, and existing-vs-existing pairs (already
    emitted by past runs) are structurally excluded. Pairs are
    normalized to doc_a < doc_b.
    """
    sigs = materialize(sigs)
    bk = band_keys(sigs)
    bk_new = bk.join(F.broadcast(new_ids), "doc_id")
    a = bk.alias("a")
    b = bk_new.alias("b")
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def _sql_minhash_bands() -> tuple[str, str]:
    mh_cols = ",\n         ".join(
        f"MIN(({a} * h31 + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(_minhash_coeffs())
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, %d AS band, md5(%s) AS key FROM sigs"
        % (
            b,
            " || ',' || ".join(
                f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(BANDS)
    )
    return mh_cols, band_selects


_MH_COLS, _BAND_SELECTS = _sql_minhash_bands()
# MinHash signature bands of every document as oracle CTEs ``sh``,
# ``hashed``, ``sigs`` and ``bands``.
_MH_BANDS_SQL = f"""sh AS (
  SELECT doc_id, unnest({sql_shingles()}) AS shingle FROM documents
),
hashed AS (
  SELECT doc_id,
         ('0x' || substring(md5(shingle), 1, 15))::BIGINT % {MINHASH_PRIME} AS h31
  FROM sh
),
sigs AS (
  SELECT doc_id,
         {_MH_COLS}
  FROM hashed GROUP BY doc_id
),
bands AS (
  {_BAND_SELECTS}
)"""
# Exact verification of the ``cand`` pairs as oracle CTEs: per-doc
# shingle ``sizes`` and the shared-shingle counts ``inter``; then the
# pairs at Jaccard >= threshold.
_CAND_INTER_SQL = """sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
  GROUP BY 1, 2
)"""
_CAND_VERIFY_SQL = f"""{_CAND_INTER_SQL}
SELECT i.doc_a, i.doc_b,
       CAST(ROUND(inter * 1000.0 / (sa.n_sh + sb.n_sh - inter)) AS BIGINT)
         AS jac_x1000
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""

_MINHASH_ORACLE = f"""
WITH {_MH_BANDS_SQL},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
{_CAND_VERIFY_SQL}"""


def _verify_candidates(docs: DataFrame, cand: DataFrame) -> DataFrame:
    """Candidate pairs ``(doc_a, doc_b)`` at exact shingle Jaccard >=
    JACCARD_THRESHOLD, as ``(doc_a, doc_b, jac_x1000)`` ordered by pair.

    Joins the pairs back to the shingle ARRAYS and intersects per-row
    (array_intersect) -- no second explode, no inverted-index shuffle;
    the only wide stages are the two joins on doc ids."""
    sh = docs.select("doc_id", shingles().alias("sh")).filter(F.size("sh") > 0)
    a = sh.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    paired = (
        cand.join(a, F.col("doc_a") == F.col("a_id"))
        .join(b, F.col("doc_b") == F.col("b_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
    )
    jac = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    )
    return (
        paired.filter(jac >= JACCARD_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round(jac * 1000).cast("long").alias("jac_x1000"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash({N_HASHES} hashes) + LSH({BANDS} bands x {ROWS_PER_BAND}) ->
    candidate pairs -> exact-Jaccard verification. The 100 TB path: cost
    is O(docs x bands) + per-bucket joins instead of all-pairs; the md5
    hash family makes buckets bit-reproducible across engines/runs."""
    docs = load_table(spark, sf_dir, "documents")
    return _verify_candidates(docs, lsh_candidates(minhash_signatures(docs)))


# Today's increment: a deterministic 20% slice of the corpus stands in
# for the daily batch (id-mod, so every engine and SF agrees).
_INCR_NEW_MOD = 10
_INCR_NEW_MIN = 8

_INCR_ORACLE = f"""
WITH {_MH_BANDS_SQL},
cand AS (
  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
                  GREATEST(a.doc_id, b.doc_id) AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id <> b.doc_id
  WHERE b.doc_id % {_INCR_NEW_MOD} >= {_INCR_NEW_MIN}
),
{_CAND_VERIFY_SQL}"""


@query("dedup_minhash_incremental", oracle=_INCR_ORACLE)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection: today's batch (a deterministic 20%
    id-slice) against the full corpus. This is how LSH dedup actually
    runs at 100 TB -- signatures of the historical corpus are a stored
    table, only the increment is new work, the increment's band keys are
    BROADCAST against the historical band table (never shuffling years
    of corpus), and existing-vs-existing pairs are structurally excluded
    because past runs already emitted them. Candidates verified by exact
    Jaccard, like the full run."""
    docs = load_table(spark, sf_dir, "documents")
    new_ids = docs.filter(
        F.col("doc_id") % _INCR_NEW_MOD >= _INCR_NEW_MIN
    ).select("doc_id")
    sigs = minhash_signatures(docs)
    return _verify_candidates(docs, incremental_lsh_candidates(sigs, new_ids))


# --------------------------------------------------------------- SimHash

SIMHASH_BITS = 32


def simhash(docs: DataFrame) -> DataFrame:
    """Per-document {SIMHASH_BITS}-bit SimHash from token hash votes (explode +
    one groupBy with per-bit sum aggregates -- map-side combinable)."""
    n = docs.sparkSession.sparkContext.defaultParallelism
    tok = docs.repartition(n).select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("w")
    ).withColumn("h", hash60(F.col("w")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    sim = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = bit if sim is None else sim + bit
    return agg.select("doc_id", sim.alias("simhash"))


def _sql_simhash() -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id,
         ('0x' || substring(md5(unnest(regexp_split_to_array(text, '\\s+'))), 1, 15))::BIGINT AS h
  FROM documents
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM tok GROUP BY doc_id
)
SELECT doc_id, {combine} AS simhash
FROM votes
ORDER BY doc_id
"""


@query("dedup_simhash", oracle=_sql_simhash())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (bit-exact across engines). Near-dup candidates
    then come from byte-band bucketing + Hamming distance, see
    tests/test_dedup.py::test_simhash_hamming_pairs."""
    return simhash(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def simhash_near_pairs(sims: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Candidate pairs by byte-band bucketing (pigeonhole: hamming <= 6
    over 4 bytes => at least one byte equal... only guaranteed for <= 3;
    wider radii need more/overlapping bands), verified by exact popcount."""
    bands = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.shiftright(F.col("simhash"), 8 * k)
                        .bitwiseAND(F.lit(255))
                        .alias("key"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    a = bands.alias("a")
    b = bands.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    init_labels: DataFrame | None = None,
) -> DataFrame:
    """Connected components via hash-min label propagation.

    The standard large-graph formulation (no GraphFrames dependency):
    every node starts labelled with its own id; each round every node
    takes the min of its own label and its neighbours' labels; the loop
    runs until a round changes nothing. Labels only decrease, so it
    always ends, and rounds needed = component diameter, which for
    near-dup clusters is tiny (dup clusters are dense).

    Scale design (100 TB):
    - each round is one join (edges x labels) + one fused groupBy min on
      the node id; the |E|-row edge side is PINNED partitioned+sorted on
      the join key (pin_partitioned) so it never re-shuffles or re-sorts
      -- per-round network is O(|V| labels), not O(|E|). The pin holds
      one partition per core, not the shuffle width, so a round's join
      runs one task per core and the labels shuffle to that width;
    - :func:`ushas_spark.durability.materialize` after every round
      (localCheckpoint by default; reliable checkpoint via
      ``durability.set_reliable(True)`` for executor-loss tolerance on
      preemptible fleets) truncates the
      logical plan -- without it the plan doubles per iteration and the
      driver dies re-optimizing before the data is ever the bottleneck
      (the classic iterative-Spark failure mode);
    - convergence is a ``max(_chg)`` observed (``pyspark.sql.Observation``)
      on the round's frame while its own materialize job runs: a scalar
      to the driver and no extra job per round.

    ``init_labels`` ((id, label) rows) seeds the propagation instead of
    the identity labelling -- the INCREMENTAL-maintenance entry point:
    seed with yesterday's converged labels and run over today's edge
    set, and the loop only pays rounds proportional to the diameter of
    the REGIONS THE NEW EDGES MERGE, not the full component diameter.
    Nodes without a seed row label themselves (new arrivals).

    r12 regime gate (OPTIMIZATION_r12.md item 3; same pattern as
    graph_hits_hub_authority): when the edge-node universe fits
    durability.BROADCAST_MAX_ROWS (a row count observed while the labels
    table materializes), the loop switches to a folded
    broadcast shape -- SELF-LOOP rows (own=true) are baked into the
    edge list once, the edges are pinned on D (the groupBy key), and
    the labels side joins as an explicit broadcast -- so one BHJ per
    round emits both neighbor and self rows already d-partitioned and
    the min-aggregate finishes with ZERO planned exchanges (the
    per-round union of self rows disappears too). Bit-identical to the
    merge loop (regime twin in tests/test_graph_hits_regimes.py); won
    all four interleaved isolated sf0.1 head-to-heads
    (graph_components_incremental 4.94/6.07/5.72 vs 6.31/6.19/7.25 s,
    dedup_cluster_components 3.62 vs 4.75 s). Past the gate -- the
    100 TB dedup regime, where edge-participating nodes can be
    billions -- the merge loop below runs byte-unchanged.
    """
    # Materialize the (possibly expensive) edge derivation ONCE, BEFORE
    # the symmetrizing union -- the union's two branches would otherwise
    # each execute the upstream pipeline (the Jaccard inverted-index
    # join; exchange reuse does not always cover aliased union branches:
    # measured 4.25s -> 3.44s at sf0.1), and the iteration re-reads the
    # edge list every round (measured 8.2s -> 4.1s when first
    # materialized at all). The union itself is a projection over the
    # cached blocks -- cheap to re-run per round.
    directed = materialize(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    )
    sym_raw = directed.union(
        directed.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    # Iterate ONLY over nodes that appear in an edge: singletons (the vast
    # majority of a deduped corpus) can never change label, so they join
    # back in once at the end instead of riding every round's shuffles.
    # At 100 TB this shrinks the iterated relation to the candidate-pair
    # minority; at sf0.1 it is 477 of 5000 docs (10x less per-round
    # shuffle; whole query 5.2s -> 4.8s isolated, best-of-3).
    edge_nodes = sym_raw.select(F.col("s").alias("id")).distinct()
    if init_labels is None:
        labels = edge_nodes.withColumn("label", F.col("id"))
    else:
        seeds = init_labels.select(
            F.col(init_labels.columns[0]).alias("sid"),
            F.col(init_labels.columns[1]).alias("slabel"),
        )
        labels = edge_nodes.join(seeds, edge_nodes.id == seeds.sid, "left").select(
            "id", F.coalesce("slabel", F.col("id")).alias("label")
        )
    # Regime gate (see docstring): the |V'| row count is observed while
    # the labels table materializes, so the gate launches no job.
    size = Observation()
    labels = materialize(labels.observe(size, F.count(F.lit(1)).alias("n")))
    small_v = broadcast_fits(size.get["n"])
    if small_v:
        # Folded broadcast loop: self-loops (own=true) baked into the
        # d-pinned edge list once; one BHJ per round emits neighbor AND
        # self rows already partitioned on the groupBy key.
        withloops = sym_raw.select("s", "d", F.lit(False).alias("own")).union(
            edge_nodes.select(
                F.col("id").alias("s"),
                F.col("id").alias("d"),
                F.lit(True).alias("own"),
            )
        )
        pinned = pin_partitioned(withloops, "d")
    else:
        # The symmetrized edge list is PINNED partitioned+sorted on s
        # (cache, not checkpoint: InMemoryRelation preserves
        # partitioning, LogicalRDD does not -- probe-verified r08), so
        # every round's label-propagation join streams the |E| side
        # with no exchange and no sort; only the |V|-row labels side
        # moves per round.
        sym = pin_partitioned(sym_raw, "s")
    while True:
        # One round = ONE edge join + ONE fused min-aggregate: the
        # node's own label rides into the aggregate (as a self-loop row
        # in the broadcast regime, as a tagged union branch in the
        # merge regime) instead of a second (update) join, so
        # min(label) is the propagation step and min(own label)
        # recovers the previous round's value for the change flag in
        # the same aggregate -- every edge node has exactly one self
        # row, so the fused agg is value-identical to
        # least(own, coalesce(nbr_min, own)). Saves an SMJ + its sort
        # per round (r08: audio-dedup clusters 49 -> 38 summed audited
        # shuffles, incremental components 46 -> 37; convergence
        # detection still reads the checkpointed result, not a
        # re-derivation).
        if small_v:
            lb = labels.hint("broadcast")
            new_labels = (
                pinned.join(lb, pinned.s == lb.id)
                .groupBy(F.col("d").alias("id2"))
                .agg(
                    F.min("label").alias("label"),
                    F.min(F.when(F.col("own"), F.col("label"))).alias("_old"),
                )
                .select(
                    F.col("id2").alias("id"),
                    "label",
                    (F.col("label") < F.col("_old")).alias("_chg"),
                )
            )
        else:
            nbr_rows = sym.join(labels, sym.s == labels.id).select(
                F.col("d").alias("id"), "label", F.lit(False).alias("own")
            )
            self_rows = labels.select("id", "label", F.lit(True).alias("own"))
            new_labels = (
                self_rows.unionByName(nbr_rows)
                .groupBy("id")
                .agg(
                    F.min("label").alias("label"),
                    F.min(F.when(F.col("own"), F.col("label"))).alias("_old"),
                )
                .select(
                    "id", "label", (F.col("label") < F.col("_old")).alias("_chg")
                )
            )
        # The change flag is observed by the materialize job itself; an
        # empty round (no edges) reports null, which is "no change".
        chg = Observation()
        new_labels = materialize(
            new_labels.observe(chg, F.max("_chg").alias("any"))
        )
        labels = new_labels.drop("_chg")
        if not chg.get["any"]:
            break
    # Re-attach singletons: every node not in any edge labels itself.
    all_nodes = nodes.select(F.col(id_col).alias("id"))
    return all_nodes.join(labels, "id", "left").select(
        "id", F.coalesce("label", F.col("id")).alias("label")
    )


_CLUSTER_ORACLE = f"""
WITH RECURSIVE {shingle_overlap_sql()}, {_JACCARD_REACH_SQL}
SELECT id AS doc_id, MIN(label) AS cluster_id
FROM reach GROUP BY id ORDER BY doc_id
"""


@query("dedup_cluster_components", oracle=_CLUSTER_ORACLE)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: connected components over the
    Jaccard candidate graph, labelling every document with the min doc_id
    of its duplicate cluster (singletons label themselves). This is the
    step a real corpus dedup needs after pair generation -- keep one
    canonical doc per cluster, drop the rest.

    The oracle computes the same transitive closure with a recursive CTE
    -- feasible for DuckDB at gate scale, while the Spark side is the
    O(diameter)-round distributed algorithm that survives 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pairs(spark, sf_dir).filter(
        F.col("jac") >= JACCARD_THRESHOLD
    )
    labels = connected_components(
        docs, pairs, id_col="doc_id", src="doc_a", dst="doc_b"
    )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


_SURVIVOR_ORACLE = f"""
WITH RECURSIVE {shingle_overlap_sql()}, {_JACCARD_REACH_SQL}, clusters AS (
  SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY id
)
SELECT COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN doc_id <> cluster_id THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_removed
FROM clusters JOIN documents USING (doc_id)
"""


@query("dedup_survivor_stats", oracle=_SURVIVOR_ORACLE)
def dedup_survivor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup END PRODUCT: keep the min-doc_id canonical document per
    near-dup cluster, drop the rest, and account for what was removed
    (docs and characters). At 100 TB the survivor filter is a broadcast-
    free co-partitioned join of the cluster map back to the corpus --
    the map has one row per doc but only (doc_id, cluster_id) columns.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pairs(spark, sf_dir).filter(F.col("jac") >= JACCARD_THRESHOLD)
    clusters = connected_components(
        docs, pairs, id_col="doc_id", src="doc_a", dst="doc_b"
    ).select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))
    dup = F.col("doc_id") != F.col("cluster_id")
    return (
        clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(~dup, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(dup, 1).otherwise(0)).alias("n_removed"),
            F.sum(F.when(dup, F.col("n_chars")).otherwise(F.lit(0))).alias(
                "chars_removed"
            ),
        )
    )


# ------------------------------------------------- asymmetric containment
CONTAINMENT_THRESHOLD_X1M = 700_000  # keep pairs where >=70% of A is in B

_CONTAIN_ORACLE = f"""
WITH {shingle_overlap_sql('<>')}
SELECT doc_a, doc_b,
       CAST(ROUND(inter * 1000000.0 / sa.n_sh) AS BIGINT) AS cont_x1m
FROM inter JOIN sizes sa ON doc_a = sa.doc_id
WHERE inter * 1000000 >= {CONTAINMENT_THRESHOLD_X1M} * sa.n_sh
ORDER BY doc_a, doc_b
"""


@query("dedup_containment", oracle=_CONTAIN_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment: pairs where >= 70% of document
    A's trigrams appear in document B -- catches near-SUBSET duplication
    (quotes, wrappers, partial copies) that symmetric Jaccard misses
    (containment >= jaccard always, and a short doc inside a long one
    scores high here while its Jaccard stays low).

    Same DF-capped inverted-index join as the Jaccard pass -- one index
    materialization serves both directions (a<>b instead of a<b) -- and
    the threshold compare is pure integer arithmetic
    (inter * 1e6 >= thresh * |A|), so no float boundary can disagree
    between engines.
    """
    sh, sizes = _shingle_index(spark, sf_dir)
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .where(
            F.col("inter") * 1_000_000
            >= F.lit(CONTAINMENT_THRESHOLD_X1M) * F.col("sa.n_sh")
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") * 1_000_000.0 / F.col("sa.n_sh"))
            .cast("long")
            .alias("cont_x1m"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------- LSH quality self-evaluation
_LSH_EVAL_ORACLE = f"""
WITH {shingle_overlap_sql()}, truth AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= {JACCARD_THRESHOLD}
), hashed AS (
  SELECT doc_id,
         ('0x' || substring(md5(shingle), 1, 15))::BIGINT % {MINHASH_PRIME} AS h31
  FROM sh_all
), sigs AS (
  SELECT doc_id, {_MH_COLS}
  FROM hashed GROUP BY doc_id
), bands AS (
  {_BAND_SELECTS}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
), counts AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM cand c
          WHERE EXISTS (SELECT 1 FROM truth t
                        WHERE t.doc_a = c.doc_a AND t.doc_b = c.doc_b))
           AS tp
)
SELECT n_truth, n_candidates, tp,
       n_truth - tp AS fn,
       CASE WHEN n_truth = 0 THEN NULL
            ELSE CAST(ROUND(1000000.0 * tp / n_truth) AS BIGINT)
       END AS recall_x1m,
       CASE WHEN n_candidates = 0 THEN NULL
            ELSE CAST(ROUND(1000000.0 * tp / n_candidates) AS BIGINT)
       END AS precision_x1m
FROM counts
"""


@query("dedup_lsh_recall_eval", oracle=_LSH_EVAL_ORACLE)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline evaluating ITSELF: recall/precision of the
    MinHash-LSH candidate generator against the exact inverted-index
    Jaccard ground truth. NOTE the universes differ slightly by
    construction: the ground-truth side joins on the DF-capped shingle
    set (hot shingles dropped, as the scalable exact path requires)
    while MinHash signatures are built from the UNCAPPED shingle set
    (as the production LSH path does) -- so this measures the deployed
    candidate generator against the capped truth, not a like-for-like
    shingle universe. This is the acceptance metric you compute on a
    sample before trusting LSH parameters at 100 TB, as a first-class
    query.
    n_candidates vs tp prices the verification stage (false candidates
    cost compute, not correctness); fn counts true near-dup pairs the
    band scheme missed.

    Scale shape: both pair sets are the already-scalable operators
    (banded LSH join; capped inverted-index join); the comparison adds
    one pair-scale semi join and scalar aggregates. In production you'd
    run the truth side on a hash-sampled corpus slice -- the shape is
    unchanged.
    """
    truth = (
        _jaccard_pairs(spark, sf_dir)
        .filter(F.col("jac") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    docs = load_table(spark, sf_dir, "documents")
    cand = lsh_candidates(minhash_signatures(docs)).select("doc_a", "doc_b")
    truth = materialize(truth)
    cand = materialize(cand)
    tp = cand.join(truth, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("tp")
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    return (
        n_truth.crossJoin(n_cand)
        .crossJoin(tp)
        .select(
            "n_truth",
            "n_candidates",
            "tp",
            (F.col("n_truth") - F.col("tp")).alias("fn"),
            F.when(F.col("n_truth") == 0, F.lit(None).cast("long"))
            .otherwise(
                F.round(
                    F.lit(1_000_000.0) * F.col("tp") / F.col("n_truth")
                ).cast("long")
            )
            .alias("recall_x1m"),
            F.when(F.col("n_candidates") == 0, F.lit(None).cast("long"))
            .otherwise(
                F.round(
                    F.lit(1_000_000.0) * F.col("tp") / F.col("n_candidates")
                ).cast("long")
            )
            .alias("precision_x1m"),
        )
    )


# ------------------------------------------------- ensemble dedup fusion
def _ensemble_oracle() -> str:
    """Namespaced union of the three pair generators + recursive-CTE
    components -- each tier's SQL mirrors its standalone oracle."""
    svotes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    scombine = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    mband = _BAND_SELECTS.replace("FROM sigs", "FROM msig")
    eb = " UNION ALL ".join(
        f"SELECT vec_id, e, {t} AS tbl, {_sql_bucket_import('e', tp)} AS bucket FROM ev"
        for t, tp in enumerate(_emb_tables())
    )
    return f"""
WITH RECURSIVE msh AS (
  SELECT doc_id, unnest({sql_shingles()}) AS shingle FROM documents
), mhash AS (
  SELECT doc_id,
         ('0x' || substring(md5(shingle), 1, 15))::BIGINT % {MINHASH_PRIME} AS h31
  FROM msh
), msig AS (
  SELECT doc_id, {_MH_COLS} FROM mhash GROUP BY doc_id
), mbands AS (
  {mband}
), mcand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM mbands a JOIN mbands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
), msizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM msh GROUP BY doc_id),
minter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM mcand c
  JOIN msh a ON a.doc_id = c.doc_a
  JOIN msh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
  GROUP BY 1, 2
), mpairs AS (
  SELECT i.doc_a, i.doc_b FROM minter i
  JOIN msizes sa ON i.doc_a = sa.doc_id
  JOIN msizes sb ON i.doc_b = sb.doc_id
  WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= {JACCARD_THRESHOLD}
), stok AS (
  SELECT doc_id,
         ('0x' || substring(md5(unnest(regexp_split_to_array(text, '\\s+'))), 1, 15))::BIGINT AS h
  FROM documents
), svotes AS (
  SELECT doc_id,
         {svotes}
  FROM stok GROUP BY doc_id
), shash AS (
  SELECT doc_id, {scombine} AS simhash FROM svotes
), sbands AS (
  SELECT doc_id, simhash, band, (simhash >> (8 * band)) & 255 AS key
  FROM shash, (VALUES (0), (1), (2), (3)) b(band)
), spairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sbands a JOIN sbands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
), ev AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  WHERE vec_id IN (SELECT doc_id FROM documents)
),
ebk AS (
  {eb}
), epairs AS (
  SELECT DISTINCT a.vec_id AS doc_a, bb.vec_id AS doc_b
  FROM ebk a JOIN ebk bb
    ON a.tbl = bb.tbl AND a.bucket = bb.bucket AND a.vec_id < bb.vec_id
  WHERE {_sql_emb_cos("a.e", "bb.e")} >= 0.40
), allp AS (
  SELECT doc_a, doc_b FROM mpairs
  UNION SELECT doc_a, doc_b FROM spairs
  UNION SELECT doc_a, doc_b FROM epairs
), edges AS (
  SELECT doc_a AS s, doc_b AS d FROM allp
  UNION ALL SELECT doc_b, doc_a FROM allp
), reach(id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.id
)
SELECT id AS doc_id, MIN(label) AS cluster_id
FROM reach GROUP BY id ORDER BY doc_id
"""


SIMHASH_MAX_HAMMING = 6


def _emb_tables():
    from ushas_spark.operators.similarity import _PLANES, _tables

    return _tables(_PLANES)


def _sql_bucket_import(vec: str, planes) -> str:
    from ushas_spark.operators.similarity import _sql_bucket

    return _sql_bucket(vec, planes)


def _sql_emb_cos(a: str, b: str) -> str:
    from ushas_spark.operators.similarity import sql_cosine

    return sql_cosine(a, b)


@query("dedup_ensemble_clusters", oracle=_ensemble_oracle())
def dedup_ensemble_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENSEMBLE near-dup clustering: the union of all three candidate
    tiers -- lexical (MinHash-LSH verified Jaccard), structural
    (SimHash 4x8-bit byte bands: candidate generation GUARANTEED only
    for Hamming <= 3 -- 4 non-overlapping bands pigeonhole at most 3
    differing bits into some identical band -- then verified up to
    Hamming <= {SIMHASH_MAX_HAMMING}, so radius 4-6 is best-effort)
    and semantic (embedding cosine >= 0.40) -- fused into one
    candidate graph and resolved to clusters by hash-min label
    propagation. This is the production shape: no single signal
    catches every duplicate family (exact-ish copies, reorderings,
    paraphrases), and the union costs only a pair-table concat because
    every tier is already candidate-bounded (banded/bucketed, never
    all-pairs).

    The node universe is documents.doc_id, so embedding-tier pairs are
    restricted to vec_ids that exist as doc_ids (semi join, mirrored
    in the oracle's ev CTE) -- otherwise an edge endpoint outside the
    universe would silently vanish from the components while a
    recursive-CTE oracle would emit it.

    Oracle: all three pair generators replayed in namespaced SQL + the
    recursive-CTE components -- the whole fusion is gated end-to-end.
    """
    from ushas_spark.operators.similarity import dedup_embedding_cosine

    docs = load_table(spark, sf_dir, "documents")
    mh = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    sh = simhash_near_pairs(
        simhash(docs), max_hamming=SIMHASH_MAX_HAMMING
    ).select("doc_a", "doc_b")
    doc_ids = docs.select("doc_id")
    emb = (
        dedup_embedding_cosine(spark, sf_dir)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        .join(doc_ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .join(doc_ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
        .select("doc_a", "doc_b")
    )
    pairs = mh.unionByName(sh).unionByName(emb).distinct()
    comp = connected_components(
        docs.select("doc_id"), pairs, id_col="doc_id", src="doc_a", dst="doc_b"
    )
    return comp.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


# ------------------------------------- MinHash estimator accuracy eval
_MH_MATCH_SQL = " + ".join(
    f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
    for i in range(N_HASHES)
)

_MH_EST_ORACLE = f"""
WITH {_MH_BANDS_SQL},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b,
         CAST({_MH_MATCH_SQL} AS BIGINT) AS n_sig_match
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b
),
{_CAND_INTER_SQL}
SELECT e.doc_a, e.doc_b, e.n_sig_match,
       CAST(1000 * e.n_sig_match // {N_HASHES} AS BIGINT) AS est_x1000,
       CAST(ROUND(COALESCE(i.inter, 0) * 1000.0
                  / (sa.n_sh + sb.n_sh - COALESCE(i.inter, 0))) AS BIGINT)
         AS jac_x1000,
       CAST(1000 * e.n_sig_match // {N_HASHES}
            - CAST(ROUND(COALESCE(i.inter, 0) * 1000.0
                   / (sa.n_sh + sb.n_sh - COALESCE(i.inter, 0))) AS BIGINT)
            AS BIGINT) AS err_x1000
FROM est e
LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
JOIN sizes sa ON e.doc_a = sa.doc_id
JOIN sizes sb ON e.doc_b = sb.doc_id
ORDER BY e.doc_a, e.doc_b
"""


@query("dedup_minhash_estimate_eval", oracle=_MH_EST_ORACLE)
def dedup_minhash_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR accuracy, pair by pair: for every LSH candidate,
    the estimated Jaccard (fraction of agreeing signature components,
    the E[match] = J identity MinHash is built on) next to the exact
    Jaccard and the signed error -- the calibration readout that tells
    you whether {N_HASHES} hashes are enough before trusting
    signature-only dedup decisions at 100 TB. Complements
    dedup_lsh_recall_eval (which scores the CANDIDATE GENERATOR;
    this scores the ESTIMATOR on the surviving candidates).

    Scale shape: estimates are one |pairs|-row double self-join of the
    materialized signature table (integer equality sums, codegen);
    exact Jaccard touches only candidate docs' shingle arrays
    (array_intersect per pair -- no inverted-index re-shuffle). Both
    universes here are UNCAPPED shingles, like the signatures
    themselves, so estimator and truth measure the same sets."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = materialize(minhash_signatures(docs))
    cand = lsh_candidates(sigs)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    n_match = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("long")
        for i in range(N_HASHES)
    )
    est = cand.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a", "doc_b", n_match.alias("n_sig_match")
    )
    sh = docs.select("doc_id", shingles().alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    exact = (
        est.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_sig_match",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
    )
    jac_x1000 = F.round(
        F.col("inter") * 1000.0
        / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    ).cast("long")
    est_x1000 = F.expr(f"1000 * n_sig_match div {N_HASHES}")
    return exact.select(
        "doc_a",
        "doc_b",
        "n_sig_match",
        est_x1000.alias("est_x1000"),
        jac_x1000.alias("jac_x1000"),
        (est_x1000 - jac_x1000).cast("long").alias("err_x1000"),
    ).orderBy("doc_a", "doc_b")


# ------------------------------------------- repeated n-gram span coverage

SPAN_WIDTH = 5  # words per span shingle
SPAN_MIN_COUNT = 2  # corpus-wide occurrences for a shingle to count as dup


def _positional_shingles(width: int = SPAN_WIDTH) -> Column:
    """ALL word w-gram shingles in document order (duplicates kept --
    position matters here, unlike :func:`shingles`). Same lambda-binding
    trick: the outer array() keeps the regex split evaluated once."""
    return F.expr(
        f"""
        flatten(transform(
          array(split(text, '\\\\s+')),
          w -> CASE WHEN size(w) >= {width}
                    THEN transform(sequence(1, size(w) - {width - 1}),
                                   i -> concat_ws(' ', slice(w, i, {width})))
                    ELSE array()
               END))
        """
    )


# The oracle is assembled programmatically: the shingle concat expression
# depends on SPAN_WIDTH and hand-writing five list indexes invites drift.
def _span_oracle() -> str:
    concat = " || ' ' || ".join(f"ws[i+{j}]" for j in range(SPAN_WIDTH))
    return f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM documents
),
sh AS (
  SELECT doc_id, i AS pos, {concat} AS shingle
  FROM w CROSS JOIN UNNEST(generate_series(1, len(ws) - {SPAN_WIDTH - 1})) AS t(i)
),
dup AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= {SPAN_MIN_COUNT}
),
hits AS (
  SELECT doc_id, pos FROM sh WHERE shingle IN (SELECT shingle FROM dup)
),
sweep AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM hits
),
cov AS (
  SELECT doc_id,
         count(*) AS dup_positions,
         CAST(SUM(CASE WHEN prev IS NULL THEN {SPAN_WIDTH}
                       ELSE LEAST({SPAN_WIDTH}, pos - prev) END) AS BIGINT)
           AS covered_words
  FROM sweep GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(len(w.ws) AS BIGINT) AS n_words,
       c.dup_positions,
       c.covered_words,
       CAST(ROUND(c.covered_words * 1000.0 / len(w.ws)) AS BIGINT)
         AS coverage_x1000
FROM cov c JOIN w ON c.doc_id = w.doc_id
ORDER BY c.doc_id
"""


@query("dedup_repeated_ngram_spans", oracle=_span_oracle())
def dedup_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplicate coverage (the ExactSubstr idea of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", 2022, at
    word-shingle granularity): mark every {width}-gram POSITION whose
    shingle value occurs >= {min_count} times corpus-wide, then report
    per-document how many word positions fall inside the union of the
    marked spans. Doc-level dedup (minhash/jaccard above) misses
    partially-copied documents; this is the operator that catches them.

    100 TB shape: positional shingles are generated by a JVM lambda and
    posexploded (no Python); the duplicated-shingle set is one map-side-
    combinable count aggregate; membership is a LEFT SEMI hash join on
    the shingle key (never an all-pairs comparison); the interval-union
    sweep is a lag window PARTITIONED BY doc_id -- per-document state
    only, no global window. One shuffle per step, each on a key whose
    cardinality grows with the corpus (shingle, then doc_id), so the
    plan has no single-task stage at any scale.

    Reference parity: the reference ships no span-level dedup; this is a
    beyond-reference training-data operator (SURVEY.md LLM-pipeline
    tier). Width/threshold mirror _span_oracle so the DuckDB gate is
    value-exact (integer-only output).
    """
    width, min_count = SPAN_WIDTH, SPAN_MIN_COUNT
    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    sh = (
        docs.repartition(n)
        .select("doc_id", F.posexplode(_positional_shingles(width)))
        .select("doc_id", (F.col("pos") + 1).alias("pos"), F.col("col").alias("shingle"))
    )
    sh = materialize(sh)  # shingle explode feeds both the count and the probe
    dup = (
        sh.groupBy("shingle").agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_count)
        .select("shingle")
    )
    hits = sh.join(dup, "shingle", "left_semi")
    win = W.partitionBy("doc_id").orderBy("pos")
    sweep = hits.withColumn("prev", F.lag("pos").over(win))
    contrib = F.when(F.col("prev").isNull(), F.lit(width)).otherwise(
        F.least(F.lit(width), F.col("pos") - F.col("prev"))
    )
    cov = sweep.groupBy("doc_id").agg(
        F.count("*").alias("dup_positions"),
        F.sum(contrib).cast("long").alias("covered_words"),
    )
    n_words = docs.select(
        "doc_id", F.size(F.split("text", r"\s+")).cast("long").alias("n_words")
    )
    return (
        cov.join(n_words, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "dup_positions",
            "covered_words",
            F.round(F.col("covered_words") * 1000.0 / F.col("n_words"))
            .cast("long")
            .alias("coverage_x1000"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------- keep-best canonical selection

_KEEP_LONGEST_ORACLE = f"""
WITH RECURSIVE {shingle_overlap_sql()}, {_JACCARD_REACH_SQL}, clusters AS (
  SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY id
), scored AS (
  SELECT c.cluster_id, c.doc_id, d.n_chars
  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
)
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       ARG_MAX(doc_id, printf('%012d|%012d', n_chars, 999999999999 - doc_id))
         AS survivor_doc,
       CAST(MAX(n_chars) AS BIGINT) AS survivor_chars,
       CAST(SUM(n_chars) - MAX(n_chars) AS BIGINT) AS chars_dropped
FROM scored
GROUP BY cluster_id
HAVING COUNT(*) > 1
ORDER BY cluster_id
"""


@query("dedup_keep_longest", oracle=_KEEP_LONGEST_ORACLE)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection with a KEEP-LONGEST policy: within every
    near-dup cluster, survive the document with the most characters
    (ties to the smaller doc_id) instead of the arbitrary min-id that
    dedup_survivor_stats uses -- the policy real curation pipelines
    prefer, since near-dup clusters usually contain one full document
    plus truncated/boilerplate-stripped copies, and min-id keeps a
    random one. Only multi-member clusters appear (singletons have no
    selection to make); chars_dropped is the corpus-size saving the
    policy realises per cluster.

    Scale shape: clusters come from the standard banded/capped Jaccard
    candidate graph + label propagation (never all-pairs); the policy
    itself is ONE map-side-combinable max_by aggregate over the
    |docs|-row (cluster, doc, n_chars) frame. The composite argmax key
    is a fixed-width printf string on both engines (DuckDB's ARG_MAX
    takes no struct ordering)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pairs(spark, sf_dir).filter(
        F.col("jac") >= JACCARD_THRESHOLD
    )
    labels = connected_components(
        docs, pairs, id_col="doc_id", src="doc_a", dst="doc_b"
    )
    scored = labels.select(
        F.col("label").alias("cluster_id"), F.col("id").alias("doc_id")
    ).join(docs.select("doc_id", "n_chars"), "doc_id")
    return (
        scored.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.expr(
                "max_by(doc_id, format_string('%012d|%012d', n_chars,"
                " 999999999999 - doc_id))"
            ).alias("survivor_doc"),
            F.max("n_chars").alias("survivor_chars"),
            (F.sum("n_chars") - F.max("n_chars")).alias("chars_dropped"),
        )
        .filter(F.col("n_members") > 1)
        .orderBy("cluster_id")
    )
