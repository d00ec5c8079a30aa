"""Text-analysis operators for training-data pipelines.

Beyond the reference's scope (BASELINE.json north star): language-ID
heuristic, quality scoring, token statistics, and document fingerprinting
over the `documents` table. Everything is built from JVM-side expressions
(split / higher-order lambdas / md5) -- no Python UDFs in the hot path, so
whole-stage codegen applies and the ops scale linearly with executors.

Tokenisation convention: whitespace split (``\\s+``), the lowest common
denominator both engines implement identically; a BPE-ish regex tokeniser
is provided as ``token_count_bpe_regex`` for LLM-oriented counting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ushas_spark.io import load_table
from ushas_spark.queries.analytics import pair_lift, pair_lift_sql
from ushas_spark.registry import query

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# (Deterministic + portable; accuracy is secondary to pipeline shape.)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of a text column (JVM split, codegen'd)."""
    return F.split(col, r"\s+")


# Letter runs | single digits (GPT-2-style digit splitting) | single
# non-space punctuation. Deliberately lookaround-free so the SAME pattern
# runs under Java regex (Spark) and RE2 (DuckDB).
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_count_bpe_regex(col: Column | str) -> Column:
    """LLM-ish token estimate: word pieces + digits + punctuation runs.

    A cheap proxy for BPE token counts (the real tokenizer is a model
    artifact; this regex family is the standard approximation for corpus
    sizing at 100 TB where exact tokenisation is a separate batch job).
    Counted as regex MATCHES, not splits -- identical across engines.
    """
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_PATTERN), F.lit(0)))


def sql_token_count_bpe(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '{BPE_TOKEN_PATTERN}'))"


def quality_features(df: DataFrame) -> DataFrame:
    """Append deterministic quality-signal columns (length, token stats,
    stopword ratio) of the ``text`` column -- the usual pre-filter
    features for corpus curation."""
    t = F.col("text")
    toks = tokens(t)
    en_stop = F.array([F.lit(w) for w in STOPWORDS["en"]])
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(en_stop, w)))
    return (
        df.withColumn("n_chars_calc", F.length(t).cast("long"))
        .withColumn("n_tokens", n_tok.cast("long"))
        .withColumn("n_unique_tokens", F.size(F.array_distinct(toks)).cast("long"))
        .withColumn("n_stopwords", n_stop.cast("long"))
        .withColumn("mean_token_chars_x100",
                    (F.round(F.length(t).cast("double") / n_tok * 100)).cast("long"))
    )


_TOKEN_STATS_ORACLE = """
WITH t AS (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS toks
           FROM documents)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens,
       CAST(len(list_filter(toks,
            w -> list_contains(['the','a','of','and','to'], w))) AS BIGINT)
         AS n_stopwords,
       CAST(ROUND(CAST(length(text) AS DOUBLE) / len(toks) * 100) AS BIGINT)
         AS mean_token_chars_x100
FROM t
ORDER BY doc_id
"""


@query("text_token_stats", oracle=_TOKEN_STATS_ORACLE)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (the corpus-profiling primitive)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        quality_features(d)
        .select(
            "doc_id",
            "n_chars_calc",
            "n_tokens",
            "n_unique_tokens",
            "n_stopwords",
            "mean_token_chars_x100",
        )
        .orderBy("doc_id")
    )


_QUALITY_ORACLE = """
WITH t AS (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS toks
           FROM documents),
f AS (
  SELECT doc_id,
         len(toks) AS n_tok,
         len(list_distinct(toks)) AS n_uniq,
         len(list_filter(toks,
             w -> list_contains(['the','a','of','and','to'], w))) AS n_stop,
         length(text) AS n_chr
  FROM t
)
SELECT doc_id,
       CAST(ROUND(
         100.0 * (CAST(n_uniq AS DOUBLE) / n_tok)
         + 50.0 * (CAST(n_stop AS DOUBLE) / n_tok)
         + CASE WHEN n_tok BETWEEN 20 AND 1000 THEN 25.0 ELSE 0.0 END
         + CASE WHEN n_chr >= 100 THEN 25.0 ELSE 0.0 END
       ) AS BIGINT) AS quality_x1,
       (n_tok BETWEEN 20 AND 1000 AND n_chr >= 100) AS passes_gates
FROM f
ORDER BY doc_id
"""


@query("text_quality_score", oracle=_QUALITY_ORACLE)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (type-token ratio + stopword density +
    length gates) -- the C4/Gopher-style rule family expressed as pure
    column arithmetic. Scaled-integer output keeps it engine-exact."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    en_stop = F.array([F.lit(w) for w in STOPWORDS["en"]])
    n_tok = F.size(toks).cast("double")
    n_uniq = F.size(F.array_distinct(toks)).cast("double")
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(en_stop, w))).cast("double")
    n_chr = F.length("text")
    score = (
        100.0 * (n_uniq / n_tok)
        + 50.0 * (n_stop / n_tok)
        + F.when((F.size(tokens(F.col("text"))) >= 20) & (F.size(tokens(F.col("text"))) <= 1000), 25.0).otherwise(0.0)
        + F.when(n_chr >= 100, 25.0).otherwise(0.0)
    )
    gates = (F.size(toks) >= 20) & (F.size(toks) <= 1000) & (n_chr >= 100)
    return d.select(
        "doc_id",
        F.round(score).cast("long").alias("quality_x1"),
        gates.alias("passes_gates"),
    ).orderBy("doc_id")


def _lang_score_sql(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter(toks, w -> list_contains([{words}], w)))"
    )


def _stopword_vote(toks: Column) -> tuple[dict[str, Column], Column]:
    """Per-language stopword counts of the token array ``toks`` and the
    language they vote for; ties break by the fixed preference order
    en > es > de > fr."""

    def _contains(arr):
        # PySpark infers lambda arity from the signature -- a default-arg
        # capture (lambda w, a=arr: ...) would be treated as a 2-arg lambda.
        return lambda w: F.array_contains(arr, w)

    scores = {}
    for lang, words in STOPWORDS.items():
        arr = F.array([F.lit(w) for w in words])
        scores[lang] = F.size(F.filter(toks, _contains(arr)))
    guess = (
        F.when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["fr"]),
            "en",
        )
        .when((scores["es"] >= scores["de"]) & (scores["es"] >= scores["fr"]), "es")
        .when(scores["de"] >= scores["fr"], "de")
        .otherwise("fr")
    )
    return scores, guess


def _lang_vote_sql(pad: str) -> str:
    """The SQL mirror of :func:`_stopword_vote`'s guess over the ``s_*``
    score columns; every line after the first starts with ``pad``."""
    return f"""CASE
{pad}  WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
{pad}  WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
{pad}  WHEN s_de >= s_fr THEN 'de'
{pad}  ELSE 'fr'
{pad}END"""


_LANG_ORACLE = f"""
WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
           FROM documents),
s AS (
  SELECT doc_id,
         {_lang_score_sql("en")} AS s_en,
         {_lang_score_sql("es")} AS s_es,
         {_lang_score_sql("de")} AS s_de,
         {_lang_score_sql("fr")} AS s_fr
  FROM t
)
SELECT doc_id,
       {_lang_vote_sql("       ")} AS lang_guess,
       CAST(s_en AS BIGINT) AS s_en
FROM s
ORDER BY doc_id
"""


@query("text_lang_guess", oracle=_LANG_ORACLE)
def text_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID (n-gram heuristic family). Ties break by
    the fixed preference order en > es > de > fr -- deterministic in both
    engines by construction."""
    d = load_table(spark, sf_dir, "documents")
    scores, guess = _stopword_vote(tokens(F.col("text")))
    return d.select(
        "doc_id",
        guess.alias("lang_guess"),
        scores["en"].cast("long").alias("s_en"),
    ).orderBy("doc_id")


_REPETITION_ORACLE = """
WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
           FROM documents),
base AS (
  SELECT doc_id,
         len(toks) AS n_tok,
         len(list_distinct(toks)) AS n_uniq,
         CASE WHEN len(toks) >= 2 THEN
           list_transform(list_zip(toks[1:len(toks)-1], toks[2:len(toks)]),
                          p -> p[1] || ' ' || p[2])
         ELSE [] END AS bgs
  FROM t
),
ex AS (SELECT doc_id, unnest(toks) AS tok FROM t),
cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM ex GROUP BY doc_id, tok),
tc AS (SELECT doc_id, MAX(c) AS top_cnt FROM cnt GROUP BY doc_id)
SELECT b.doc_id,
       CAST(b.n_tok AS BIGINT) AS n_tok,
       CAST(ROUND((1.0 - CAST(b.n_uniq AS DOUBLE) / b.n_tok) * 10000)
            AS BIGINT) AS dup_tok_x10k,
       CAST(ROUND(CAST(tc.top_cnt AS DOUBLE) / b.n_tok * 10000)
            AS BIGINT) AS top_tok_x10k,
       CASE WHEN len(b.bgs) > 0 THEN
         CAST(ROUND((1.0 - CAST(len(list_distinct(b.bgs)) AS DOUBLE)
                     / len(b.bgs)) * 10000) AS BIGINT)
       ELSE CAST(0 AS BIGINT) END AS dup_bigram_x10k
FROM base b JOIN tc ON b.doc_id = tc.doc_id
ORDER BY b.doc_id
"""


@query("text_repetition_score", oracle=_REPETITION_ORACLE)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-token
    fraction, most-frequent-token fraction, duplicate-bigram fraction
    (the rule family that catches boilerplate / keyword-stuffed pages
    before pretraining).

    Scale shape: the array-side fractions are pure per-row column
    arithmetic (codegen'd, no shuffle); the top-token count is the only
    shuffle -- explode -> partial count -> per-doc max, shuffled on
    doc_id so it rides the same partitioning as the final join. No
    Python anywhere. Fractions ship as scaled integers (engine-exact).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    bigrams = F.when(
        n_tok >= 2,
        F.zip_with(
            F.slice(toks, 1, n_tok - 1),
            F.slice(toks, 2, n_tok - 1),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tok"),
        F.round((1.0 - n_uniq.cast("double") / n_tok) * 10_000)
        .cast("long")
        .alias("dup_tok_x10k"),
        F.when(
            F.size(bigrams) > 0,
            F.round(
                (1.0 - F.size(F.array_distinct(bigrams)).cast("double") / F.size(bigrams))
                * 10_000
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("dup_bigram_x10k"),
    )
    top = (
        d.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_cnt"))
    )
    return (
        base.join(top, "doc_id")
        .select(
            "doc_id",
            "n_tok",
            "dup_tok_x10k",
            F.round(F.col("top_cnt").cast("double") / F.col("n_tok") * 10_000)
            .cast("long")
            .alias("top_tok_x10k"),
            "dup_bigram_x10k",
        )
        .orderBy("doc_id")
    )


_FINGERPRINT_ORACLE = """
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(
             list_sort(list_distinct(regexp_split_to_array(text, '\\s+'))),
             ' ')) AS bag_fp
  FROM documents
)
SELECT bag_fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc
FROM fp
GROUP BY bag_fp
HAVING COUNT(*) > 1
ORDER BY bag_fp
"""


@query("text_fingerprint_groups", oracle=_FINGERPRINT_ORACLE)
def text_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words fingerprint (sorted distinct vocabulary -> md5): a
    rolling-hash-class document fingerprint that collides exactly for
    token-permutation near-dups. Groups >1 are dedup candidates; keep_doc
    pins the canonical survivor (min id -- deterministic)."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.array_join(F.array_sort(F.array_distinct(tokens(F.col("text")))), " ")
    )
    return (
        d.select("doc_id", fp.alias("bag_fp"))
        .groupBy("bag_fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc"))
        .filter(F.col("n_docs") > 1)
        .orderBy("bag_fp")
    )


_BPE_ESTIMATE_ORACLE = f"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_ws_tokens,
       CAST({sql_token_count_bpe('text')} AS BIGINT) AS n_bpe_tokens,
       CAST(ROUND(100.0 * {sql_token_count_bpe('text')}
                  / len(regexp_split_to_array(text, '\\s+'))) AS BIGINT)
         AS bpe_per_word_x100
FROM documents
ORDER BY doc_id
"""


@query("text_bpe_token_estimate", oracle=_BPE_ESTIMATE_ORACLE)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-budget estimation: whitespace words vs the BPE-ish
    regex token count per document (the number that actually sizes a
    training run). Pure per-row regex work in codegen -- embarrassingly
    parallel, no shuffle except the presentation sort."""
    d = load_table(spark, sf_dir, "documents")
    n_ws = F.size(tokens("text")).cast("long")
    n_bpe = token_count_bpe_regex("text").cast("long")
    return d.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.round(F.lit(100.0) * n_bpe / n_ws).cast("long").alias("bpe_per_word_x100"),
    ).orderBy("doc_id")


# ------------------------------------------------------------- PII scrub

# Lookaround-free patterns that behave identically under Java regex
# (Spark) and RE2 (DuckDB). Deliberately simple shapes -- production PII
# scrubbing layers more patterns; the pipeline shape (single projection,
# chained regexp_replace, count accounting) is what scales.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}-[0-9]{3,4}"


def _pii_text() -> tuple[str, str]:
    """(Spark SQL expr, DuckDB SQL expr) for the PII-bearing corpus.

    The synthetic documents table contains no real PII, so a scrub query
    over it would vacuously match 0 rows everywhere. Instead PII is
    INJECTED deterministically (doc_id-derived emails/IPs/phones appended
    to every third/fourth/fifth document) with the SAME expression on
    both engines -- the multimodal tier's synthesize-then-process
    pattern -- so the scrubber is gated on text with real matches.
    """
    spark_expr = (
        "concat(text,"
        " CASE WHEN doc_id % 3 = 0 THEN concat(' contact user', CAST(doc_id AS STRING), '@example.com') ELSE '' END,"
        " CASE WHEN doc_id % 4 = 0 THEN concat(' from 10.', CAST(doc_id % 256 AS STRING), '.0.1') ELSE '' END,"
        " CASE WHEN doc_id % 5 = 0 THEN concat(' call +1-555-', CAST(1000 + doc_id % 9000 AS STRING), '-0199') ELSE '' END)"
    )
    duck_expr = (
        "text ||"
        " CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||"
        " CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END ||"
        " CASE WHEN doc_id % 5 = 0 THEN ' call +1-555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) || '-0199' ELSE '' END"
    )
    return spark_expr, duck_expr


_PII_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, {_pii_text()[1]} AS t FROM documents
), scrubbed AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS BIGINT) AS n_email,
         CAST(len(regexp_extract_all(t, '{PII_IPV4}')) AS BIGINT) AS n_ip,
         CAST(len(regexp_extract_all(t, '{PII_PHONE}')) AS BIGINT) AS n_phone,
         regexp_replace(regexp_replace(regexp_replace(t,
             '{PII_EMAIL}', '<EMAIL>', 'g'),
             '{PII_IPV4}', '<IP>', 'g'),
             '{PII_PHONE}', '<PHONE>', 'g') AS clean
  FROM corpus
)
SELECT doc_id, n_email, n_ip, n_phone,
       CAST(length(clean) AS BIGINT) AS clean_chars
FROM scrubbed
WHERE n_email + n_ip + n_phone > 0
ORDER BY doc_id
"""


@query("text_pii_scrub", oracle=_PII_ORACLE)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction with per-document accounting: emails, IPv4s and
    phone numbers replaced by typed placeholder tokens, match counts
    kept for the curation report. One projection -- counts and the
    triple regexp_replace fuse into a single codegen'd pass over the
    corpus (no joins, no shuffle until the final ORDER BY, which a real
    run would drop). Patterns are lookaround-free so Spark (Java regex)
    and the DuckDB oracle (RE2) match identically."""
    d = load_table(spark, sf_dir, "documents")
    t = F.expr(_pii_text()[0])
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )
    out = d.select(
        "doc_id",
        F.regexp_count(t, F.lit(PII_EMAIL)).cast("long").alias("n_email"),
        F.regexp_count(t, F.lit(PII_IPV4)).cast("long").alias("n_ip"),
        F.regexp_count(t, F.lit(PII_PHONE)).cast("long").alias("n_phone"),
        F.length(clean).cast("long").alias("clean_chars"),
    )
    return out.filter(
        F.col("n_email") + F.col("n_ip") + F.col("n_phone") > 0
    ).orderBy("doc_id")


# --- cross-corpus chunk (pseudo-paragraph) dedup ---------------------------
CHUNK_TOKENS = 12


_CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(
             tk[(g.i * {CHUNK_TOKENS} + 1):((g.i + 1) * {CHUNK_TOKENS})], ' '))
           AS ch
  FROM toks, LATERAL (
    SELECT unnest(generate_series(
        0, CAST(CEIL(len(tk) / {CHUNK_TOKENS}.0) AS INT) - 1)) AS i) g),
freq AS (
  SELECT ch, CAST(COUNT(*) AS BIGINT) AS n_global
  FROM chunks GROUP BY ch)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN f.n_global > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST(ROUND(SUM(CASE WHEN f.n_global > 1 THEN 1 ELSE 0 END)
                  * 1000000.0 / COUNT(*)) AS BIGINT) AS dup_frac_x1m
FROM chunks c JOIN freq f ON c.ch = f.ch
GROUP BY c.doc_id
ORDER BY c.doc_id
"""


@query("text_chunk_dedup", oracle=_CHUNK_SQL)
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus duplicated-span accounting at fixed chunk granularity.

    The C4/RefinedWeb "remove duplicated paragraphs" pass, reshaped for
    a corpus whose documents are single-line: tokens are windowed into
    {CHUNK_TOKENS}-token chunks, each chunk is md5-fingerprinted, and a
    corpus-wide frequency table marks spans appearing more than once.
    Per-document output: chunk count, duplicated-chunk count, and the
    duplicated fraction (scaled int).

    Scale shape: explode to ~n_tokens/{CHUNK_TOKENS} chunk rows, ONE
    map-side-combinable groupBy on the 128-bit fingerprint, one join
    back on the same key (the exchange is reused), one groupBy doc_id.
    No windows, no driver state; the frequency table is the only
    intermediate and it shrinks with dedup cardinality. A removal
    variant would filter chunks with n_global > 1 and re-assemble --
    same plan shape.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    n_chunks = (F.ceil(F.size("tk") / F.lit(float(CHUNK_TOKENS)))).cast("int")
    chunks = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i"),
        "tk",
    ).select(
        "doc_id",
        F.md5(
            F.array_join(
                F.slice(
                    F.col("tk"), F.col("i") * CHUNK_TOKENS + 1, CHUNK_TOKENS
                ),
                " ",
            )
        ).alias("ch"),
    )
    freq = chunks.groupBy("ch").agg(F.count(F.lit(1)).alias("n_global"))
    return (
        chunks.join(freq, "ch")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("n_global") > 1, 1).otherwise(0)).alias(
                "n_dup_chunks"
            ),
            F.round(
                F.sum(F.when(F.col("n_global") > 1, 1).otherwise(0))
                * 1_000_000.0
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("dup_frac_x1m"),
        )
        .orderBy("doc_id")
    )


# --- lexical retrieval: TF-IDF top-k over an inverted index ----------------
IDF_SCALE = 1000  # rational IDF: w(term) = (N * IDF_SCALE) / df  (integer)
TFIDF_QUERIES = 3  # doc_id < 3 are the query documents
TFIDF_TOPK = 10


def _term_freqs(d: DataFrame) -> DataFrame:
    """Term frequencies ``(doc_id, word, tf)`` of the space-split text."""
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    return words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))


def _idf(tf: DataFrame, n_docs: DataFrame) -> DataFrame:
    """Rational IDF ``(word, w)``: w = (N * IDF_SCALE) div df, with N the
    one value of the one-row, one-column frame ``n_docs``. True integer
    division (SQL ``div``) mirrors DuckDB's ``//``; double-divide-then-
    cast could flip on representation boundaries."""
    (n,) = n_docs.columns
    return (
        tf.select("doc_id", "word")
        .distinct()
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select("word", F.expr(f"({n} * {IDF_SCALE}) div df").alias("w"))
    )


# Oracle CTEs of the same tables: ``tf``, and ``idf`` over the doc count.
_TF_SQL = """tf AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents) WHERE word <> ''
  GROUP BY doc_id, word
)"""
_IDF_SQL = f"""n_docs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
idf AS (
  SELECT word, (n * {IDF_SCALE}) // CAST(COUNT(*) AS BIGINT) AS w
  FROM (SELECT DISTINCT doc_id, word FROM tf), n_docs
  GROUP BY word, n
)"""

# Oracle tail: the TFIDF_TOPK best-scored ``did`` per ``qid`` of ``scored``.
_TOPK_SQL = f"""SELECT qid, did, score, rnk FROM (
  SELECT qid, did, score,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY score DESC, did) AS rnk
  FROM scored)
WHERE rnk <= {TFIDF_TOPK} ORDER BY qid, rnk
"""

_TFIDF_ORACLE = f"""
WITH {_TF_SQL}, {_IDF_SQL}, q AS (
  SELECT doc_id AS qid, word, tf AS qtf FROM tf
  WHERE doc_id < {TFIDF_QUERIES}
), scored AS (
  SELECT q.qid, tf.doc_id AS did,
         CAST(SUM(q.qtf * tf.tf * idf.w * idf.w) AS BIGINT) AS score
  FROM q JOIN idf USING (word)
         JOIN tf ON tf.word = q.word AND tf.doc_id <> q.qid
  GROUP BY q.qid, tf.doc_id
)
{_TOPK_SQL}"""


def _top_per_query(scored: DataFrame) -> DataFrame:
    """The TFIDF_TOPK best-scored ``did`` per ``qid``, ranked ``rnk``
    (ties to the lower ``did``)."""
    from pyspark.sql import Window as W

    wnd = W.partitionBy("qid").orderBy(F.col("score").desc(), "did")
    return (
        scored.withColumn("rnk", F.row_number().over(wnd))
        .where(F.col("rnk") <= TFIDF_TOPK)
        .orderBy("qid", "rnk")
    )


@query("text_tfidf_topk", oracle=_TFIDF_ORACLE)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval: TF-IDF top-k similar documents per query doc.

    The inverted-index retrieval shape: term frequencies over the
    corpus (a map-side-combinable groupBy), document frequencies from
    the same table, query-term postings joined on the term -- the join
    fans out only over shared terms, never all document pairs. The tf
    subtree is REFERENCED by several branches and deliberately
    recomputed per branch: both sharing variants were probed r09
    (pin_partitioned on word: 7 -> 5 counted shuffles but 0.88 -> 1.33 s
    at sf0.1; materialize: 1.30 s) and LOST on wall -- the query-side
    branch prunes to doc_id < {TFIDF_QUERIES} at the scan, so only the
    DF and postings branches pay full tokenization, and re-tokenizing
    beats writing the |corpus|-sized TF table. A 100 TB deployment
    flips this by writing the postings table once, bucketed by word
    (r09 adjudication, in the git history of registry.py). IDF is
    the RATIONAL weight (N * {IDF_SCALE}) // df instead of ln(N/df):
    monotonically equivalent ranking signal with pure-integer scoring,
    chosen because cross-engine ln() differs in the last ulp while
    integer division is exact everywhere (same reasoning as
    oracle_exact.py). Score = sum(tf_q * tf_d * w^2) -- the unnormalized
    TF-IDF dot product; magnitudes bounded so 64-bit sums cannot
    overflow below ~1e5x this corpus density.
    """
    d = load_table(spark, sf_dir, "documents")
    tf = _term_freqs(d)
    idf = _idf(tf, d.agg(F.count(F.lit(1)).alias("n")))
    q = tf.where(F.col("doc_id") < TFIDF_QUERIES).select(
        F.col("doc_id").alias("qid"), "word", F.col("tf").alias("qtf")
    )
    scored = (
        q.join(idf, "word")
        .join(
            tf.select(F.col("doc_id").alias("did"), "word", "tf"),
            "word",
        )
        .where(F.col("did") != F.col("qid"))
        .groupBy("qid", "did")
        .agg(
            F.sum(
                F.col("qtf") * F.col("tf") * F.col("w") * F.col("w")
            ).alias("score")
        )
    )
    return _top_per_query(scored)


# --- BM25 retrieval (exact rational arithmetic) ----------------------------
# k1 = 6/5, b = 3/4 folded symbolically: per-term score =
#   w * (22 * tf * L) div (10*tf*L + 3*L + 9*dl*N)      [x BM25_SCALE]
# where L = total corpus token count, N = doc count, dl = doc length --
# the classic formula with numerator/denominator multiplied through by
# 10*L so everything is 64-bit integer (exact, oracle-gated). Bounded:
# w*22*tf*L*SCALE < 2^63 for corpora up to ~1e4x this density; a 100 TB
# deployment would switch to double scoring (ranking tolerates ulp
# noise) -- the integer form is what makes the gate bit-exact.
BM25_SCALE = 100


_BM25_ORACLE = f"""
WITH {_TF_SQL}, dl AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
), corpus AS (
  SELECT CAST(SUM(dl) AS BIGINT) AS L, CAST(COUNT(*) AS BIGINT) AS N
  FROM dl
), idf AS (
  SELECT word, (N * {IDF_SCALE}) // CAST(COUNT(*) AS BIGINT) AS w
  FROM (SELECT DISTINCT doc_id, word FROM tf), corpus
  GROUP BY word, N
), q AS (
  SELECT doc_id AS qid, word FROM tf WHERE doc_id < {TFIDF_QUERIES}
), scored AS (
  SELECT q.qid, t.doc_id AS did,
         CAST(SUM((idf.w * 22 * t.tf * c.L * {BM25_SCALE})
              // (10 * t.tf * c.L + 3 * c.L + 9 * d.dl * c.N))
           AS BIGINT) AS score
  FROM q JOIN idf USING (word)
         JOIN tf t ON t.word = q.word AND t.doc_id <> q.qid
         JOIN dl d ON d.doc_id = t.doc_id
         CROSS JOIN corpus c
  GROUP BY q.qid, t.doc_id
)
{_TOPK_SQL}"""


@query("text_bm25_topk", oracle=_BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (k1=1.2, b=0.75) in exact integer form.

    Same inverted-index join shape as :func:`text_tfidf_topk` plus the
    document-length normalization BM25 adds; the rational folding above
    keeps all scoring in 64-bit integers so the DuckDB oracle matches
    bit-for-bit. tf recomputation per branch is deliberate, same
    adjudication as text_tfidf_topk (probed r09: pinning hit 12 -> 8
    counted shuffles but 0.93 -> 2.06 s isolated at sf0.1).
    """
    d = load_table(spark, sf_dir, "documents")
    tf = _term_freqs(d)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    corpus = dl.agg(
        F.sum("dl").alias("L"), F.count(F.lit(1)).alias("N")
    )
    idf = _idf(tf, corpus.select("N"))
    q = tf.where(F.col("doc_id") < TFIDF_QUERIES).select(
        F.col("doc_id").alias("qid"), "word"
    )
    scored = (
        q.join(idf, "word")
        .join(tf.select(F.col("doc_id").alias("did"), "word", "tf"), "word")
        .where(F.col("did") != F.col("qid"))
        .join(dl.select(F.col("doc_id").alias("did"), "dl"), "did")
        .crossJoin(F.broadcast(corpus))
        .groupBy("qid", "did")
        .agg(
            F.sum(
                F.expr(
                    f"(w * 22 * tf * L * {BM25_SCALE})"
                    " div (10 * tf * L + 3 * L + 9 * dl * N)"
                )
            ).alias("score")
        )
    )
    return _top_per_query(scored)


# --- keyword extraction (top TF-IDF terms per document) --------------------
KEYWORDS_PER_DOC = 3


_KEYWORDS_ORACLE = f"""
WITH {_TF_SQL}, {_IDF_SQL}, scored AS (
  SELECT doc_id, word, CAST(tf * w AS BIGINT) AS score
  FROM tf JOIN idf USING (word)
)
SELECT doc_id, word, score, rnk FROM (
  SELECT doc_id, word, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, word) AS rnk
  FROM scored)
WHERE rnk <= {KEYWORDS_PER_DOC}
ORDER BY doc_id, rnk
"""


@query("text_keyword_extraction", oracle=_KEYWORDS_ORACLE)
def text_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{KEYWORDS_PER_DOC} TF-IDF keywords per document -- the
    tagging/indexing primitive, sharing the rational-integer IDF with
    the retrieval operators (scores are exact 64-bit products). One
    corpus term-frequency aggregation, one broadcast of the |vocab|-row
    IDF table, one per-doc top-k window."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    tf = _term_freqs(d)
    idf = _idf(tf, d.agg(F.count(F.lit(1)).alias("n")))
    scored = tf.join(F.broadcast(idf), "word").select(
        "doc_id", "word", (F.col("tf") * F.col("w")).alias("score")
    )
    wnd = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "word")
    return (
        scored.withColumn("rnk", F.row_number().over(wnd))
        .where(F.col("rnk") <= KEYWORDS_PER_DOC)
        .orderBy("doc_id", "rnk")
    )


_LANG_EVAL_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, regexp_split_to_array(text, '\\s+') AS toks
           FROM documents),
s AS (
  SELECT doc_id, lang,
         {_lang_score_sql("en")} AS s_en,
         {_lang_score_sql("es")} AS s_es,
         {_lang_score_sql("de")} AS s_de,
         {_lang_score_sql("fr")} AS s_fr
  FROM t
), pred AS (
  SELECT lang AS actual,
         {_lang_vote_sql("         ")} AS predicted
  FROM s
)
SELECT actual, predicted,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred
GROUP BY actual, predicted
ORDER BY actual, predicted
"""


@query("text_lang_confusion_eval", oracle=_LANG_EVAL_ORACLE)
def text_lang_confusion_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The language-ID heuristic evaluating itself: confusion matrix of
    text_lang_guess predictions against the corpus's ground-truth
    ``lang`` labels -- the accuracy readout you check before trusting a
    classifier gate at 100 TB (the same self-evaluation pattern as
    dedup_lsh_recall_eval). Diagonal cells are hits; off-diagonal rows
    name exactly which language pairs the stopword vote confuses.

    Scale shape: one scan with per-row JVM scoring, then a
    |langs|^2-cell rollup with map-side combine."""
    d = load_table(spark, sf_dir, "documents")
    _, guess = _stopword_vote(tokens(F.col("text")))
    return (
        d.select(F.col("lang").alias("actual"), guess.alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual", "predicted")
    )


def _novel_sql_shingles() -> str:
    from ushas_spark.operators.dedup import sql_shingles

    return sql_shingles()


def _novel_shingles():
    from ushas_spark.operators.dedup import shingles

    return shingles()


_NOVELTY_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, unnest({_novel_sql_shingles()}) AS shingle FROM documents
), firsts AS (
  SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(ROUND(1000000.0 *
            SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
            / COUNT(*)) AS BIGINT) AS novelty_x1m
FROM sh s JOIN firsts f ON s.shingle = f.shingle
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


@query("text_ngram_novelty", oracle=_NOVELTY_ORACLE)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    trigram shingles whose FIRST corpus occurrence (minimum doc_id --
    the ingestion-order proxy) is this document. The
    diversity-vs-redundancy curation signal: low novelty late in the
    corpus means the source has gone stale; it complements pairwise
    dedup by measuring redundancy against EVERYTHING already ingested,
    not one near-duplicate partner.

    Scale shape: one shingle explode (shared shape with the dedup
    index), a min-aggregate per shingle (map-side combinable), and a
    join back on the shingle key -- the same inverted-index economics
    as dedup_ngram_jaccard, no pair explosion at all.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.explode(_novel_shingles()).alias("shingle"))
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    joined = sh.join(firsts, "shingle")
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            novel.cast("long").alias("n_novel"),
            F.round(F.lit(1_000_000.0) * novel / F.count(F.lit(1)))
            .cast("long").alias("novelty_x1m"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------ collocation mining (PMI)
COLLOC_MIN_SUPPORT = 20
COLLOC_TOP = 40

_COLLOC_ORACLE = f"""
WITH dt AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
  FROM documents
), n_docs AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM dt),
tf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY tok),
{pair_lift_sql("dt", "doc_id", "tok", COLLOC_MIN_SUPPORT)}, scored AS (
  SELECT pair.tok_a, pair.tok_b, pair.n_pair, fa.df AS df_a, fb.df AS df_b,
         CAST(ROUND(1000000.0 * pair.n_pair * nd.nd /
                    (CAST(fa.df AS DOUBLE) * fb.df)) AS BIGINT) AS lift_x1m
  FROM pair
  JOIN tf fa ON pair.tok_a = fa.tok
  JOIN tf fb ON pair.tok_b = fb.tok
  CROSS JOIN n_docs nd
)
SELECT * FROM scored
ORDER BY lift_x1m DESC, tok_a, tok_b
LIMIT {COLLOC_TOP}
"""


@query("text_collocations", oracle=_COLLOC_ORACLE)
def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: token pairs that co-occur in documents far
    more than their document frequencies predict (lift = the
    exponentiated PMI, which needs no logarithm and so gates exactly)
    -- the phrase-discovery pass before fixing a tokenizer vocabulary.
    :func:`pair_lift` with documents as baskets: per-doc DISTINCT tokens
    bound the pair fan-out."""
    d = load_table(spark, sf_dir, "documents")
    dt = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", r"\s+"))).alias("tok"),
    )
    return pair_lift(dt, "doc_id", "tok", "df", "nd", COLLOC_MIN_SUPPORT, COLLOC_TOP)


# --------------------------------------------------------- readability
_READABILITY_ORACLE = """
WITH t AS (
  SELECT doc_id, source,
         len(regexp_split_to_array(text, '\\s+')) AS n_words,
         len(regexp_extract_all(text, '[.!?]+')) AS n_sents,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_vgroups
  FROM documents
), scored AS (
  SELECT source, n_words,
         CASE WHEN n_words > 0 AND n_sents > 0 THEN
           206835
           - 1015 * n_words // n_sents
           - 84600 * n_vgroups // n_words
         ELSE NULL END AS flesch_x1000
  FROM t
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(flesch_x1000) // COUNT(flesch_x1000) AS BIGINT)
         AS avg_flesch_x1000,
       CAST(MIN(flesch_x1000) AS BIGINT) AS min_flesch_x1000,
       CAST(MAX(flesch_x1000) AS BIGINT) AS max_flesch_x1000
FROM scored
GROUP BY source
ORDER BY source
"""


@query("text_readability_score", oracle=_READABILITY_ORACLE)
def text_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability per source: 206.835 - 1.015*(words/
    sentence) - 84.6*(syllables/word), with vowel-group counts as the
    standard syllable proxy and sentences counted by terminal
    punctuation runs. Evaluated x1000 in INTEGER arithmetic (each term
    floor-divided, same order both engines) -- another quality-filter
    axis next to text_quality_score's length/stopword heuristics.

    Scale shape: three regexp counts per row (codegen), one rollup by
    source. No Python, fact touched once."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "source",
        F.size(F.split("text", r"\s+")).cast("long").alias("n_words"),
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")).cast("long").alias(
            "n_sents"
        ),
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+"))
        .cast("long")
        .alias("n_vgroups"),
    )
    score = F.when(
        (F.col("n_words") > 0) & (F.col("n_sents") > 0),
        F.lit(206835)
        - F.expr("1015 * n_words div n_sents")
        - F.expr("84600 * n_vgroups div n_words"),
    )
    return (
        t.select("source", score.alias("flesch_x1000"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr(
                "sum(flesch_x1000) div count(flesch_x1000)"
            ).alias("avg_flesch_x1000"),
            F.min("flesch_x1000").alias("min_flesch_x1000"),
            F.max("flesch_x1000").alias("max_flesch_x1000"),
        )
        .orderBy("source")
    )


# --------------------------------------- corpus-LM fluency (CCNet-style)
FLUENCY_SCALE = 1_000_000

_FLUENCY_BIGRAMS_SQL = (
    "CASE WHEN len(regexp_split_to_array(text, '\\s+')) >= 2"
    " THEN [s[i] || ' ' || s[i+1] FOR i IN generate_series(1,"
    " len(regexp_split_to_array(text, '\\s+')) - 1)]"
    " ELSE [] END"
).replace("s[i", "regexp_split_to_array(text, '\\s+')[i")

# Oracle CTEs: each document's bigram counts (``docbg``) and every
# bigram's add-one smoothed probability given its first word (``scored``).
_FLUENCY_SCORED_SQL = f"""bg AS MATERIALIZED (
  SELECT doc_id, unnest({_FLUENCY_BIGRAMS_SQL}) AS bigram FROM documents
), docbg AS (
  SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS n_in_doc
  FROM bg GROUP BY doc_id, bigram
), cbg AS (
  SELECT bigram, CAST(SUM(n_in_doc) AS BIGINT) AS c12,
         split_part(bigram, ' ', 1) AS prefix
  FROM docbg GROUP BY bigram
), cpre AS (
  SELECT prefix, CAST(SUM(c12) AS BIGINT) AS c1 FROM cbg GROUP BY prefix
), vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM cpre),
scored AS (
  SELECT cbg.bigram,
         ((c12 + 1) * {FLUENCY_SCALE}) // (c1 + v) AS p_x1m
  FROM cbg JOIN cpre ON cbg.prefix = cpre.prefix CROSS JOIN vocab
)"""

_FLUENCY_ORACLE = f"""
WITH {_FLUENCY_SCORED_SQL}, perdoc AS (
  SELECT d.doc_id,
         SUM(d.n_in_doc * s.p_x1m) // SUM(d.n_in_doc) AS fluency_x1m
  FROM docbg d JOIN scored s ON d.bigram = s.bigram
  GROUP BY d.doc_id
)
SELECT doc.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs_scored,
       CAST(SUM(p.fluency_x1m) // COUNT(*) AS BIGINT) AS avg_fluency_x1m,
       CAST(MIN(p.fluency_x1m) AS BIGINT) AS min_fluency_x1m,
       CAST(MAX(p.fluency_x1m) AS BIGINT) AS max_fluency_x1m
FROM perdoc p JOIN documents doc ON p.doc_id = doc.doc_id
GROUP BY doc.source
ORDER BY doc.source
"""


def _fluency_bigrams() -> Column:
    """Word bigrams WITH multiplicity (the shingle pipeline minus
    array_distinct -- an LM scores every occurrence)."""
    return F.expr(
        """
        flatten(transform(
          array(split(text, '\\\\s+')),
          w -> CASE WHEN size(w) >= 2
                    THEN transform(sequence(1, size(w) - 1),
                                   i -> concat_ws(' ', slice(w, i, 2)))
                    ELSE array() END))
        """
    )


def fluency_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fluency_x1m): the add-one-smoothed bigram mean-probability
    score each fluency consumer (per-source rollup, CCNet buckets) builds
    on. See text_lm_fluency for the full derivation and scale notes."""
    d = load_table(spark, sf_dir, "documents")
    bg = d.select("doc_id", F.explode(_fluency_bigrams()).alias("bigram"))
    docbg = bg.groupBy("doc_id", "bigram").agg(
        F.count(F.lit(1)).alias("n_in_doc")
    )
    cbg = docbg.groupBy("bigram").agg(F.sum("n_in_doc").alias("c12"))
    cbg = cbg.withColumn("prefix", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
    cpre = cbg.groupBy("prefix").agg(F.sum("c12").alias("c1"))
    vocab = cpre.agg(F.count(F.lit(1)).alias("v"))
    scored = (
        cbg.join(cpre, "prefix")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bigram",
            F.expr(f"((c12 + 1) * {FLUENCY_SCALE}) div (c1 + v)").alias(
                "p_x1m"
            ),
        )
    )
    return (
        docbg.join(scored, "bigram")
        .groupBy("doc_id")
        .agg(
            F.expr("sum(n_in_doc * p_x1m) div sum(n_in_doc)").alias(
                "fluency_x1m"
            )
        )
    )


@query("text_lm_fluency", oracle=_FLUENCY_ORACLE)
def text_lm_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM fluency scoring, the CCNet/Wikipedia-LM quality-filter
    idea (Wenzek et al. 2020) made engine-exact: train an add-one-
    smoothed bigram model ON the corpus itself, then score each document
    by its mean smoothed conditional probability
    mean((c(w1 w2)+1) * SCALE // (c(w1·)+|V|)) -- the arithmetic-mean-
    probability fluency variant of perplexity, chosen because it needs
    no logarithm: cross-engine ln() differs in the last ulp (same
    rationale as TF-IDF's rational idf at text.py:606) while this stays
    in BIGINT algebra end-to-end. Low scores flag boilerplate/garbled
    text; the per-source rollup is the curation dashboard view.

    Scale shape: one bigram explode (the shingle-index economics --
    corpus touched once), a (doc, bigram) map-side pre-aggregate that
    bounds every later join to distinct-bigram granularity, two
    key-partitioned count aggregates for the model, and joins back on
    the bigram/prefix keys only. The |V|-row vocab count rides along as
    a broadcast 1-row relation; no Python, no pair explosion."""
    d = load_table(spark, sf_dir, "documents")
    perdoc = fluency_per_doc(spark, sf_dir)
    return (
        perdoc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_scored"),
            F.expr("sum(fluency_x1m) div count(*)").alias("avg_fluency_x1m"),
            F.min("fluency_x1m").alias("min_fluency_x1m"),
            F.max("fluency_x1m").alias("max_fluency_x1m"),
        )
        .orderBy("source")
    )


# ------------------------------------------ Heaps-law vocabulary growth
VOCAB_CHECKPOINTS = 10

_VOCAB_GROWTH_ORACLE = f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, word
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents) WHERE word <> ''
), firsts AS (
  SELECT word, MIN(doc_id) AS first_doc FROM tok GROUP BY word
), doctok AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
  FROM tok GROUP BY doc_id
), mx AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS max_id FROM tok),
cks AS (
  SELECT (i * max_id) // {VOCAB_CHECKPOINTS} AS ck
  FROM (SELECT unnest(generate_series(1, {VOCAB_CHECKPOINTS})) AS i), mx
), vocab_at AS (
  SELECT ck, CAST(COUNT(*) AS BIGINT) AS vocab_size
  FROM firsts, cks WHERE first_doc <= ck GROUP BY ck
), toks_at AS (
  SELECT ck, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM doctok, cks WHERE doc_id <= ck GROUP BY ck
)
SELECT v.ck AS checkpoint_doc, v.vocab_size, t.n_tokens,
       (v.vocab_size * 1000000) // t.n_tokens AS ttr_x1m
FROM vocab_at v JOIN toks_at t ON v.ck = t.ck
ORDER BY checkpoint_doc
"""


@query("text_vocab_growth", oracle=_VOCAB_GROWTH_ORACLE)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve: distinct-vocabulary size and
    type-token ratio at {VOCAB_CHECKPOINTS} ingestion-order checkpoints
    (doc_id deciles) -- the readout that sizes a tokenizer vocabulary
    and shows when a source stops contributing new words. TTR is the
    scaled-integer ratio so both engines agree exactly.

    Scale shape: "vocabulary at checkpoint c" is NOT a running
    count-distinct window (which would sort the corpus in one task);
    it is count(first occurrence <= c) -- one token explode, a min
    aggregate per word (map-side combinable, the text_ngram_novelty
    economics), a per-doc token-count rollup, and a broadcast
    {VOCAB_CHECKPOINTS}-row checkpoint table theta-joined against the
    tiny firsts/doctok aggregates. Corpus touched once, no global sort."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    firsts = tok.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    doctok = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    mx = tok.agg(F.max("doc_id").cast("long").alias("max_id"))
    cks = (
        spark.range(1, VOCAB_CHECKPOINTS + 1)
        .crossJoin(F.broadcast(mx))
        .select(
            F.expr(f"(id * max_id) div {VOCAB_CHECKPOINTS}").alias("ck")
        )
    )
    vocab_at = (
        firsts.join(F.broadcast(cks), F.col("first_doc") <= F.col("ck"))
        .groupBy("ck")
        .agg(F.count(F.lit(1)).alias("vocab_size"))
    )
    toks_at = (
        doctok.join(F.broadcast(cks), F.col("doc_id") <= F.col("ck"))
        .groupBy("ck")
        .agg(F.sum("n_tok").alias("n_tokens"))
    )
    return (
        vocab_at.join(toks_at, "ck")
        .select(
            F.col("ck").alias("checkpoint_doc"),
            "vocab_size",
            "n_tokens",
            F.expr("(vocab_size * 1000000) div n_tokens").alias("ttr_x1m"),
        )
        .orderBy("checkpoint_doc")
    )


# ---------------------------------------------- Gopher quality rule battery

_GOPHER_STOPS = ("the", "a", "to", "of", "and", "that", "have", "with")

_GOPHER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(ROUND(100.0 * list_sum(list_transform(toks, w -> len(w)))
                    / len(toks)) AS BIGINT) AS mean_len_x100,
         CAST(ROUND(1000.0 * ((len(text) - len(replace(text, '#', '')))
                    + (len(text) - len(replace(text, '...', ''))) / 3)
                    / len(toks)) AS BIGINT) AS symbol_ratio_x1000,
         CAST(ROUND(1000.0 * len(list_filter(toks,
                    w -> regexp_matches(w, '[a-z]'))) / len(toks)) AS BIGINT)
           AS alpha_frac_x1000,
         CAST(len(list_intersect(list_distinct(toks),
              [{', '.join("'" + w + "'" for w in _GOPHER_STOPS)}])) AS BIGINT)
           AS stop_hits
  FROM t
),
r AS (
  SELECT *,
         CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_wordcount,
         CASE WHEN mean_len_x100 BETWEEN 300 AND 1000 THEN 1 ELSE 0 END AS r_meanlen,
         CASE WHEN symbol_ratio_x1000 <= 100 THEN 1 ELSE 0 END AS r_symbol,
         CASE WHEN alpha_frac_x1000 >= 800 THEN 1 ELSE 0 END AS r_alpha,
         CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS r_stop
  FROM m
)
SELECT doc_id, n_words, mean_len_x100, symbol_ratio_x1000, alpha_frac_x1000,
       stop_hits,
       CAST(r_wordcount AS BIGINT) AS r_wordcount,
       CAST(r_meanlen AS BIGINT) AS r_meanlen,
       CAST(r_symbol AS BIGINT) AS r_symbol,
       CAST(r_alpha AS BIGINT) AS r_alpha,
       CAST(r_stop AS BIGINT) AS r_stop,
       CAST(r_wordcount + r_meanlen + r_symbol + r_alpha + r_stop AS BIGINT)
         AS rules_passed
FROM r ORDER BY doc_id
"""


@query("text_gopher_quality_rules", oracle=_GOPHER_ORACLE)
def text_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher/MassiveText per-document quality RULES (Rae et al.
    2021, appendix A1.1) as named 0/1 columns rather than one blended
    score (text_quality_score): word count in [50, 1e5], mean word
    length in [3, 10], hash/ellipsis symbol ratio <= 0.1, >= 80% of
    words containing an alphabetic character, and >= 2 of the 8
    required English stopwords present. The line-shape rules
    (bullet/ellipsis line fractions) need line structure the corpus
    lacks and are omitted. Every measure is a JVM expression over one
    token split; thresholds compare SCALED INTEGERS so both engines
    band identically at rule boundaries. Per-rule flags (not just the
    conjunction) are what a 100 TB curation run reports -- they tell
    you WHICH rule is discarding your corpus."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"\s+")
    n = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, v: acc + v
    )
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    n_ellipsis = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))
    ) / 3
    stop_arr = F.array(*[F.lit(w) for w in _GOPHER_STOPS])
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks), stop_arr))
    m = d.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.round(100.0 * sum_len / n).cast("long").alias("mean_len_x100"),
        F.round(1000.0 * (n_hash + n_ellipsis) / n)
        .cast("long")
        .alias("symbol_ratio_x1000"),
        F.round(1000.0 * n_alpha / n).cast("long").alias("alpha_frac_x1000"),
        stop_hits.cast("long").alias("stop_hits"),
    )
    r_wordcount = F.col("n_words").between(50, 100_000).cast("long")
    r_meanlen = F.col("mean_len_x100").between(300, 1000).cast("long")
    r_symbol = (F.col("symbol_ratio_x1000") <= 100).cast("long")
    r_alpha = (F.col("alpha_frac_x1000") >= 800).cast("long")
    r_stop = (F.col("stop_hits") >= 2).cast("long")
    return m.select(
        "*",
        r_wordcount.alias("r_wordcount"),
        r_meanlen.alias("r_meanlen"),
        r_symbol.alias("r_symbol"),
        r_alpha.alias("r_alpha"),
        r_stop.alias("r_stop"),
        (r_wordcount + r_meanlen + r_symbol + r_alpha + r_stop).alias("rules_passed"),
    ).orderBy("doc_id")


# ------------------------------------------- hashed linear quality classifier

_CLF_BUCKETS = 256
_CLF_BIAS = -50_000
# weight(bucket) = (bucket * Knuth) % 1000001 - 500000: a deterministic
# stand-in for trained fastText-style weights in micro-logit units.
_CLF_MULT = 2654435761

_CLF_ORACLE = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
  FROM documents
),
s AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST({_CLF_BIAS} + list_sum(list_transform(toks, w ->
              ((('0x' || substring(md5(w), 1, 15))::BIGINT % {_CLF_BUCKETS})
               * {_CLF_MULT}) % 1000001 - 500000)) AS BIGINT) AS logit_x1m
  FROM t
)
SELECT doc_id, n_tokens, logit_x1m,
       CASE WHEN logit_x1m < -2000000 THEN 'low'
            WHEN logit_x1m <= 2000000 THEN 'medium'
            ELSE 'high' END AS quality_band
FROM s ORDER BY doc_id
"""


@query("text_quality_classifier", oracle=_CLF_ORACLE)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (fastText-style) quality-classifier INFERENCE over hashed
    bag-of-words features -- the deployment shape of every learned
    quality filter (e.g. the CCNet/LLaMA wikipedia-vs-crawl model): a
    fixed vocabulary-free feature hash, one weight per bucket, a bias,
    and a thresholded logit.  Weights here are a deterministic function
    of the bucket id standing in for trained parameters, in integer
    micro-logit units so the score is a BIGINT sum (order-independent,
    engine-exact); the sigmoid is monotone, so banding on the logit IS
    banding on the probability without touching exp().

    100 TB shape: the entire scoring is ONE projection -- tokens ->
    F.aggregate with the hash+weight arithmetic inside the lambda. No
    explode, no join, no shuffle, no Python: a pure map over the corpus
    that scales embarrassingly with executors.  (A learned model ships
    its weights either as this kind of closed form, a map literal, or a
    {_CLF_BUCKETS}-row broadcast table -- pipeline_dsir_weights
    demonstrates the broadcast-table variant of the same pattern.)
    Reference scope: quality classification is beyond the fork
    (SURVEY.md section 0); built Spark-first.
    """
    from ushas_spark.operators.dedup import hash60

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"\s+")

    def _w(tok: Column) -> Column:
        b = hash60(tok) % _CLF_BUCKETS
        return (b * _CLF_MULT) % 1_000_001 - 500_000

    logit = F.aggregate(
        toks, F.lit(_CLF_BIAS).cast("long"), lambda acc, w: acc + _w(w)
    )
    out = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        logit.alias("logit_x1m"),
    )
    band = (
        F.when(F.col("logit_x1m") < -2_000_000, "low")
        .when(F.col("logit_x1m") <= 2_000_000, "medium")
        .otherwise("high")
    )
    return out.select("*", band.alias("quality_band")).orderBy("doc_id")


# ----------------------------------------------- per-source corpus divergence

_DIV_BUCKETS = 512

_DIV_ORACLE = f"""
WITH bg AS (
  SELECT source,
         ('0x' || substring(md5(w), 1, 15))::BIGINT % {_DIV_BUCKETS} AS bucket
  FROM documents, unnest(regexp_split_to_array(text, '\\s+')) AS u(w)
),
sb AS (
  SELECT source, bucket, CAST(count(*) AS BIGINT) AS o
  FROM bg GROUP BY source, bucket
),
b AS (SELECT bucket, CAST(sum(o) AS BIGINT) AS cb FROM sb GROUP BY bucket),
s AS (SELECT source, CAST(sum(o) AS BIGINT) AS cs FROM sb GROUP BY source),
ct AS (SELECT CAST(sum(cs) AS BIGINT) AS n FROM s),
grid AS (
  SELECT s.source, s.cs, b.bucket, b.cb, COALESCE(sb.o, 0) AS o, ct.n
  FROM s CROSS JOIN b CROSS JOIN ct
  LEFT JOIN sb ON sb.source = s.source AND sb.bucket = b.bucket
)
SELECT source,
       CAST(max(cs) AS BIGINT) AS n_tokens,
       CAST(count(CASE WHEN o > 0 THEN 1 END) AS BIGINT) AS buckets_hit,
       CAST(sum(CAST(round(1000000.0
            * (o - CAST(cb AS DOUBLE) * cs / n)
            * (o - CAST(cb AS DOUBLE) * cs / n)
            / (CAST(cb AS DOUBLE) * cs / n)) AS BIGINT)) AS BIGINT)
         AS chi2_x1m
FROM grid GROUP BY source ORDER BY source
"""


@query("text_corpus_divergence", oracle=_DIV_ORACLE)
def text_corpus_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How far each source's hashed-unigram distribution sits from the
    corpus-wide distribution -- the domain-shift report a mixture
    curator reads before reweighting (the chi-square analogue of
    pipeline_dsir_weights' per-document scores; KL needs logs, which
    diverge across engines at the last ulp, while the chi-square
    statistic is a few IEEE double ops over exact integer counts --
    bit-identical on both engines -- rounded per cell to a BIGINT so
    the sum is order-independent).

    100 TB shape: the corpus is touched ONCE (token explode into a
    {_DIV_BUCKETS}-bucket hash aggregate, map-side combinable -- the
    only corpus-sized shuffle is by (source, bucket), whose cardinality
    is sources x {_DIV_BUCKETS} regardless of corpus size).  Everything
    after operates on that tiny table: bucket totals, source totals,
    the dense source x bucket grid (so EMPTY cells contribute their
    expected mass, the part of chi-square naive per-pair scoring
    misses), and the final per-source fold are all broadcast-side
    algebra.  Reference scope: corpus analytics beyond the fork
    (SURVEY.md section 0); built Spark-first.
    """
    from ushas_spark.operators.dedup import hash60

    d = load_table(spark, sf_dir, "documents")
    bg = d.select(
        "source", F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
    ).select("source", (hash60(F.col("tok")) % _DIV_BUCKETS).alias("bucket"))
    sb = bg.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    b = sb.groupBy("bucket").agg(F.sum("o").cast("long").alias("cb"))
    s = sb.groupBy("source").agg(F.sum("o").cast("long").alias("cs"))
    ct = s.agg(F.sum("cs").cast("long").alias("n"))
    grid = (
        s.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(ct))
        .join(F.broadcast(sb), ["source", "bucket"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0).cast("long")))
    )
    e = F.col("cb").cast("double") * F.col("cs") / F.col("n")
    cell = F.round(1_000_000.0 * (F.col("o") - e) * (F.col("o") - e) / e).cast(
        "long"
    )
    return (
        grid.groupBy("source")
        .agg(
            F.max("cs").cast("long").alias("n_tokens"),
            F.count(F.when(F.col("o") > 0, 1)).cast("long").alias("buckets_hit"),
            F.sum(cell).cast("long").alias("chi2_x1m"),
        )
        .orderBy("source")
    )


# ------------------------------------------ cross-document boilerplate grams

BOILER_N = 3          # token n-gram width
BOILER_MIN_DOCS = 5   # grams present in >= this many docs are boilerplate

_BOILER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(text, ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - {BOILER_N - 2}),
                i -> array_to_string(toks[i:i + {BOILER_N - 1}], ' '))) AS gram
  FROM t
),
df AS (
  SELECT gram, COUNT(DISTINCT doc_id) AS n_docs FROM g GROUP BY gram
),
boiler AS (SELECT gram FROM df WHERE n_docs >= {BOILER_MIN_DOCS}),
per_doc AS (
  SELECT g.doc_id,
         COUNT(*) AS n_grams,
         SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
  FROM g LEFT JOIN boiler b ON g.gram = b.gram
  GROUP BY g.doc_id
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_boiler AS BIGINT) AS n_boiler,
       CAST(1000 * n_boiler // n_grams AS BIGINT) AS boiler_x1000
FROM per_doc ORDER BY doc_id
"""


@query("text_boilerplate_ngrams", oracle=_BOILER_ORACLE)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate measurement: token {BOILER_N}-grams
    that recur in >= {BOILER_MIN_DOCS} distinct documents (navigation
    chrome, cookie banners, license footers in a web corpus) and each
    document's fraction of such grams -- the structural complement to
    the per-document Gopher/repetition rules, and the signal CC-style
    pipelines use to strip template text before dedup.

    Scale shape (two corpus passes, both shuffle-bounded):
    1. doc-frequency: explode PER-DOC-DISTINCT grams -> count per gram.
       A (gram, doc) duplicate can only arise inside one document (each
       doc is a single row before the explode), so array_distinct on
       the gram array makes the pair stream globally distinct BY
       CONSTRUCTION -- the old separate distinct() exchange on full
       gram strings is provably redundant (OPTIMIZATION_r12.md
       item 8: 4 -> 3 planned shuffles, won all
       three interleaved isolated sf0.1 pairings 3.52/3.49/3.47 vs
       4.11/3.69/3.80 s, hash-identical). The groupBy shuffles only
       (gram, partial count) with map-side aggregation.
    2. scoring: the boilerplate set is the HIGH-doc-frequency tail --
       by construction orders of magnitude smaller than the gram
       universe -- so the join back to per-doc grams is a broadcast
       LEFT SEMI-shaped probe, then one groupBy(doc_id) rollup.
    A corpus where the boilerplate set outgrows broadcast range (a
    pathologically templated crawl) raises BOILER_MIN_DOCS -- the knob
    IS the size bound."""
    d = load_table(spark, sf_dir, "documents")
    # Docs shorter than BOILER_N tokens emit NO grams: without the guard,
    # sequence(1, size-2) on a short doc is DESCENDING (sequence(1,0) =
    # [1,0]) and slice() then throws / fabricates grams, while the DuckDB
    # oracle's range(1, 0) is simply empty.
    gram_array = F.expr(
        f"CASE WHEN size(split(text, ' ')) >= {BOILER_N} THEN"
        f" transform(sequence(1, size(split(text, ' ')) - {BOILER_N - 1}),"
        f" k -> concat_ws(' ', slice(split(text, ' '), k, {BOILER_N})))"
        f" ELSE CAST(array() AS array<string>) END"
    )
    grams = d.select("doc_id", F.explode(gram_array).alias("gram"))
    df_counts = (
        d.select(F.explode(F.array_distinct(gram_array)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    boiler = df_counts.filter(F.col("n_docs") >= BOILER_MIN_DOCS).select("gram")
    scored = grams.join(
        F.broadcast(boiler.withColumn("is_boiler", F.lit(1))), "gram", "left"
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0))).alias("n_boiler"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("long"),
            F.col("n_boiler").cast("long"),
            F.expr("1000 * n_boiler div n_grams").alias("boiler_x1000"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------- CCNet head/middle/tail

_CCNET_ORACLE = f"""
WITH {_FLUENCY_SCORED_SQL}, perdoc AS MATERIALIZED (
  SELECT d.doc_id,
         SUM(d.n_in_doc * s.p_x1m) // SUM(d.n_in_doc) AS fluency_x1m
  FROM docbg d JOIN scored s ON d.bigram = s.bigram
  GROUP BY d.doc_id
), langed AS MATERIALIZED (
  SELECT p.doc_id, doc.lang, p.fluency_x1m
  FROM perdoc p JOIN documents doc ON p.doc_id = doc.doc_id
), vr AS (
  SELECT lang, fluency_x1m AS s, CAST(COUNT(*) AS BIGINT) AS c
  FROM langed GROUP BY lang, fluency_x1m
), cum AS (
  SELECT lang, s,
         CAST(SUM(c) OVER (PARTITION BY lang ORDER BY s) AS BIGINT) AS cm
  FROM vr
), tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM vr GROUP BY lang),
thr AS (
  SELECT cum.lang,
         MIN(CASE WHEN 3 * cm >= n THEN s END) AS t1,
         MIN(CASE WHEN 3 * cm >= 2 * n THEN s END) AS t2
  FROM cum JOIN tot ON cum.lang = tot.lang
  GROUP BY cum.lang
)
SELECT l.doc_id, l.lang,
       CAST(l.fluency_x1m AS BIGINT) AS fluency_x1m,
       CASE WHEN l.fluency_x1m > thr.t2 THEN 'head'
            WHEN l.fluency_x1m > thr.t1 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM langed l JOIN thr ON l.lang = thr.lang
ORDER BY l.doc_id
"""


@query("text_ccnet_lm_buckets", oracle=_CCNET_ORACLE)
def text_ccnet_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): per
    LANGUAGE, rank every document's corpus-LM fluency score and assign
    the best tercile to 'head', the next to 'middle', the rest to
    'tail' -- the bucketing CCNet publishes its Common Crawl releases
    under, and the knob LLaMA-style pipelines use (keep head+middle,
    drop tail).

    Scale shape: the tercile boundaries do NOT come from a window over
    the corpus -- scores collapse to a per-(lang, value) frequency
    rollup first (map-side combinable; the rollup is |langs| x
    |distinct x1m scores|, corpus-size-independent), the cumulative
    walk runs over that bounded rollup partitioned by lang, and the two
    thresholds per language come from conditional MINs. Documents then
    bucket via one broadcast join against the |langs|-row threshold
    table. Banding compares INTEGER score vs integer threshold, so both
    engines cut the terciles identically (ties fall to the lower
    bucket by the strict > comparisons)."""
    from pyspark.sql import Window as W

    from ushas_spark.durability import materialize

    d = load_table(spark, sf_dir, "documents")
    # Materialized: the (doc, lang, score) frame feeds BOTH the
    # threshold derivation and the final bucket join -- without the
    # truncation each branch re-runs the whole corpus-scale fluency
    # pipeline (measured: 29-shuffle duplicated plan -> 12 across two
    # segments, and one corpus pass instead of two at scale).
    langed = materialize(
        fluency_per_doc(spark, sf_dir).join(d.select("doc_id", "lang"), "doc_id")
    )
    vr = langed.groupBy("lang", F.col("fluency_x1m").alias("s")).agg(
        F.count(F.lit(1)).alias("c")
    )
    w = W.partitionBy("lang").orderBy("s").rowsBetween(W.unboundedPreceding, 0)
    cum = vr.select("lang", "s", F.sum("c").over(w).alias("cm"))
    tot = vr.groupBy("lang").agg(F.sum("c").alias("n"))
    thr = (
        cum.join(tot, "lang")
        .groupBy("lang")
        .agg(
            F.min(F.when(3 * F.col("cm") >= F.col("n"), F.col("s"))).alias("t1"),
            F.min(F.when(3 * F.col("cm") >= 2 * F.col("n"), F.col("s"))).alias(
                "t2"
            ),
        )
    )
    return (
        langed.join(F.broadcast(thr), "lang")
        .select(
            "doc_id",
            "lang",
            F.col("fluency_x1m").cast("long"),
            F.when(F.col("fluency_x1m") > F.col("t2"), "head")
            .when(F.col("fluency_x1m") > F.col("t1"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


# --- cross-corpus duplicate-span REMOVAL (first occurrence wins) ----------

_REBUILD_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
chunks AS (
  SELECT doc_id,
         g.i AS pos,
         array_to_string(
             tk[(g.i * {CHUNK_TOKENS} + 1):((g.i + 1) * {CHUNK_TOKENS})], ' ')
           AS chunk
  FROM toks, LATERAL (
    SELECT unnest(generate_series(
        0, CAST(CEIL(len(tk) / {CHUNK_TOKENS}.0) AS INT) - 1)) AS i) g),
firsts AS (
  SELECT md5(chunk) AS ch,
         MIN(struct_pack(d := doc_id, p := pos)) AS first
  FROM chunks GROUP BY md5(chunk)),
kept AS (
  SELECT c.doc_id, c.pos, c.chunk,
         (c.doc_id = f.first.d AND c.pos = f.first.p) AS keep
  FROM chunks c JOIN firsts f ON md5(c.chunk) = f.ch)
SELECT doc_id,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       CAST(COALESCE(LENGTH(STRING_AGG(chunk, ' ' ORDER BY pos)
                            FILTER (WHERE keep)), 0) AS BIGINT)
         AS clean_chars,
       md5(COALESCE(STRING_AGG(chunk, ' ' ORDER BY pos)
                    FILTER (WHERE keep), '')) AS clean_md5
FROM kept GROUP BY doc_id ORDER BY doc_id
"""


@query("text_dedup_rebuild", oracle=_REBUILD_SQL)
def text_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of cross-corpus span dedup (text_chunk_dedup is
    the accounting half): every {CHUNK_TOKENS}-token chunk keeps only
    its globally FIRST occurrence -- ordered by (doc_id, position), the
    C4/RefinedWeb "remove duplicated spans, first writer wins" rule --
    and each document's surviving text is reassembled in position
    order. Output is the per-doc rebuild accounting plus an md5 of the
    cleaned text (the cleaned corpus itself in a real run; hashed here
    so the gate compares content without shipping it).

    Scale shape (100 TB): first-occurrence resolution is ONE map-side-
    combinable groupBy(fingerprint) computing min(struct(doc_id, pos))
    -- lexicographic struct ordering needs no packed-integer range
    assumption (valid for any doc_id / chunk count, unlike a
    doc_id*2^20+pos key), no sort and no window; the join
    back is co-partitioned on the same fingerprint key (exchange
    reused), and the rebuild is a groupBy(doc_id) whose in-group
    sort_array is bounded by document length. Zero windows, zero
    driver state; same plan family as text_chunk_dedup so the two
    passes share scan + explode work in a fused curation pipeline.

    Reference surface: complements the reference's dedup operators
    (SURVEY.md section 2 LLM-pipeline tier); no equivalent exists
    there -- this is the Spark-first design the tier calls for."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    n_chunks = (F.ceil(F.size("tk") / F.lit(float(CHUNK_TOKENS)))).cast("int")
    chunks = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("pos"),
        "tk",
    ).select(
        "doc_id",
        "pos",
        F.array_join(
            F.slice(F.col("tk"), F.col("pos") * CHUNK_TOKENS + 1, CHUNK_TOKENS),
            " ",
        ).alias("chunk"),
    )
    chunks = chunks.withColumn("ch", F.md5("chunk"))
    # First-occurrence = lexicographic MIN over struct(doc_id, pos) -- a
    # map-side-combinable agg with NO range assumption (the previous
    # doc_id*2^20+pos packed key silently corrupted ordering for docs
    # with >=2^20 chunks or doc_id >= 2^43, at odds with the 100 TB
    # framing; the oracle mirrors the struct min).
    firsts = chunks.groupBy("ch").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    kept = chunks.join(firsts, "ch").withColumn(
        "keep",
        (F.col("doc_id") == F.col("first.doc_id"))
        & (F.col("pos") == F.col("first.pos")),
    )
    rebuilt = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("keep"), F.struct("pos", "chunk"))
                )
            ),
            lambda s: s["chunk"],
        ),
        " ",
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_removed"),
            F.length(rebuilt).cast("long").alias("clean_chars"),
            F.md5(rebuilt).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


# --- reciprocal-rank fusion of quality signals -----------------------------

RRF_K = 60  # the standard RRF damping constant


_RRF_SQL = f"""
WITH sig AS (
  SELECT doc_id,
         LENGTH(text) AS s_len,
         1000000 * len(list_distinct(string_split(text, ' ')))
             // len(string_split(text, ' ')) AS s_ttr,
         100 * LENGTH(REPLACE(text, ' ', ''))
             // len(string_split(text, ' ')) AS s_tok
  FROM documents),
r AS (
  SELECT doc_id,
         RANK() OVER (ORDER BY s_len DESC) AS r_len,
         RANK() OVER (ORDER BY s_ttr DESC) AS r_ttr,
         RANK() OVER (ORDER BY s_tok DESC) AS r_tok
  FROM sig)
SELECT doc_id,
       CAST(r_len AS BIGINT) AS r_len,
       CAST(r_ttr AS BIGINT) AS r_ttr,
       CAST(r_tok AS BIGINT) AS r_tok,
       CAST(1000000 // ({RRF_K} + r_len) + 1000000 // ({RRF_K} + r_ttr)
            + 1000000 // ({RRF_K} + r_tok) AS BIGINT) AS rrf_x1m
FROM r ORDER BY doc_id
"""


@query("text_rank_fusion", oracle=_RRF_SQL)
def text_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of three independent quality signals
    (document length, type-token ratio, mean token length) into one
    curation ordering -- the standard way to combine heterogeneous
    quality scores without calibrating their scales, integer-exact at
    x1e6 so both engines agree bit-for-bit.

    Scale shape (100 TB): corpus-wide RANK() is NOT computed with a
    global window (the oracle may; we must not). rank(v) = 1 + #{rows
    with a strictly better value}, so each signal builds its per-value
    frequency histogram (map-side-combinable groupBy, output bounded
    by the signal's value domain, NOT the corpus), takes an exclusive
    running sum over that small rollup, and broadcast-joins ranks back
    to the corpus. Ties share a rank exactly like RANK(), so no
    corpus-wide sort, no tie-break column, and full determinism. The
    three windows the plan lint sees run over |distinct signal values|
    rows each (reviewed in tests/test_plan_lint.py)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # Integer division on BOTH engines: DuckDB CAST(double AS BIGINT)
    # rounds while Spark truncates, so float ratios must never reach a
    # cast (div here, // in the oracle).
    sig = d.select(
        "doc_id",
        F.length("text").alias("s_len"),
        F.expr(
            "(1000000 * cast(size(array_distinct(split(text, ' '))) as bigint))"
            " div size(split(text, ' '))"
        ).alias("s_ttr"),
        F.expr(
            "(100 * cast(length(replace(text, ' ', '')) as bigint))"
            " div size(split(text, ' '))"
        ).alias("s_tok"),
    )

    from pyspark.sql import Window as W

    out = sig
    for col in ("s_len", "s_ttr", "s_tok"):
        hist = sig.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
        ranks = hist.select(
            col,
            (
                1
                + F.coalesce(
                    F.sum("n").over(
                        W.orderBy(F.col(col).desc()).rowsBetween(
                            W.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0),
                )
            ).alias("r" + col[1:]),
        )
        out = out.join(F.broadcast(ranks), col)
    return out.select(
        "doc_id",
        F.col("r_len").cast("long"),
        F.col("r_ttr").cast("long"),
        F.col("r_tok").cast("long"),
        (
            F.expr(f"1000000 div ({RRF_K} + r_len)")
            + F.expr(f"1000000 div ({RRF_K} + r_ttr)")
            + F.expr(f"1000000 div ({RRF_K} + r_tok)")
        )
        .cast("long")
        .alias("rrf_x1m"),
    ).orderBy("doc_id")
