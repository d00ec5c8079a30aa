"""BPE (byte-pair-encoding) tokenizer TRAINING as a pure DataFrame loop.

``text.py`` estimates token counts with a fixed BPE-ish regex; this
module learns actual merges from the corpus -- the Sennrich et al.
algorithm (arXiv:1508.07909): represent each distinct word as a
character-symbol sequence weighted by corpus frequency, then repeat
{ count adjacent symbol pairs -> pick the most frequent -> merge it
corpus-wide }.

Every step is a DataFrame op, and the classic driver-side bottleneck --
"fetch the argmax pair, splice it into the next iteration" -- is done
WITHOUT collect(): the winning pair is a 1-row DataFrame
(orderBy + limit 1) broadcast-crossJoined into the merge projection, so
the loop stays lazily composable and cluster-side end to end.

Scale shape: the corpus is touched exactly once (word histogram,
map-side combinable, then :func:`materialize` d); all iterations run on
the VOCABULARY-sized symbol table, which is what makes BPE training
feasible at 100 TB -- pair counting shuffles |vocab| x |word_len| cells,
not corpus tokens.

Determinism: integer pair counts, ties broken lexicographically on the
pair; the greedy left-to-right non-overlapping merge is a string-encoded
fold (done-part + pending symbol, unit-separator-delimited) evaluated
identically by Spark's ``aggregate`` and DuckDB's ``list_reduce`` -- the
oracle replays all rounds as a generated CTE chain. End-of-word markers
are omitted (documented divergence from the paper; merges across word
boundaries never happen either way because folding is per-word).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ushas_spark.durability import materialize
from ushas_spark.io import load_table
from ushas_spark.registry import query

N_MERGES = 3
US = "\x1f"  # unit separator: fold-state delimiter, never appears in text


def _word_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _char_symbols(words: DataFrame) -> DataFrame:
    s = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    return words.select("word", "n", s.alias("s"))


def _pair_counts(syms: DataFrame) -> DataFrame:
    idx = F.when(
        F.size("s") >= 2, F.sequence(F.lit(1), F.size("s") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = syms.select("n", F.explode(idx).alias("i"), "s").select(
        F.element_at("s", F.col("i")).alias("a"),
        F.element_at("s", F.col("i") + 1).alias("b"),
        "n",
    )
    return pairs.groupBy("a", "b").agg(F.sum("n").alias("cnt"))


def _best_pair(counts: DataFrame) -> DataFrame:
    return (
        counts.orderBy(F.col("cnt").desc(), "a", "b")
        .limit(1)
        .select(
            F.col("a").alias("ba"), F.col("b").alias("bb"), F.col("cnt").alias("bcnt")
        )
    )


def _merge_step(acc: Column, x: Column) -> Column:
    done = F.substring_index(acc, US, 1)
    pend = F.substring_index(acc, US, -1)
    return (
        F.when(pend == "", F.concat(done, F.lit(US), x))
        .when(
            (pend == F.col("ba")) & (x == F.col("bb")),
            F.concat(done, F.lit(" "), pend, x, F.lit(US)),
        )
        .otherwise(F.concat(done, F.lit(" "), pend, F.lit(US), x))
    )


def _apply_merge(syms: DataFrame, best: DataFrame) -> DataFrame:
    folded = F.aggregate(F.col("s"), F.lit(US), _merge_step)
    new_s = F.split(F.trim(F.regexp_replace(folded, US, " ")), " ")
    return syms.crossJoin(F.broadcast(best)).select("word", "n", new_s.alias("s"))


def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned merge table: (step, left_sym, right_sym, pair_cnt)."""
    syms = _char_symbols(materialize(_word_histogram(spark, sf_dir)))
    merges = []
    for step in range(N_MERGES):
        best = _best_pair(_pair_counts(syms))
        merges.append(
            best.select(
                F.lit(step).alias("step"),
                F.col("ba").alias("left_sym"),
                F.col("bb").alias("right_sym"),
                F.col("bcnt").alias("pair_cnt"),
            )
        )
        syms = _apply_merge(syms, best)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.orderBy("step")


def _sql_fold(s: str, ba: str, bb: str) -> str:
    u = "chr(31)"
    done = f"split_part(acc, {u}, 1)"
    pend = f"split_part(acc, {u}, 2)"
    return (
        f"string_split(trim(replace(list_reduce(list_prepend({u}, {s}),"
        f" (acc, x) -> CASE"
        f"   WHEN {pend} = '' THEN {done} || {u} || x"
        f"   WHEN {pend} = {ba} AND x = {bb}"
        f"     THEN {done} || ' ' || {pend} || x || {u}"
        f"   ELSE {done} || ' ' || {pend} || {u} || x END),"
        f" {u}, ' ')), ' ')"
    )


def _oracle_parts() -> list[str]:
    """The shared CTE chain: word histogram -> char symbols -> N_MERGES
    rounds of (pair counts, argmax, corpus-wide merge)."""
    parts = [
        "w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM ("
        "  SELECT unnest(string_split(text, ' ')) AS word FROM documents)"
        "  WHERE word <> '' GROUP BY word)",
        "s0 AS (SELECT word, n, list_transform("
        "  generate_series(1, length(word)), i -> substr(word, i, 1)) AS s"
        "  FROM w)",
    ]
    for t in range(N_MERGES):
        parts.append(
            f"p{t} AS (SELECT a, b, CAST(SUM(n) AS BIGINT) AS cnt FROM ("
            f"  SELECT s[u.i] AS a, s[u.i + 1] AS b, n"
            f"  FROM s{t}, LATERAL (SELECT unnest(CASE WHEN len(s) >= 2"
            f"    THEN generate_series(1, len(s) - 1) ELSE [] END) AS i) u)"
            f"  GROUP BY a, b)"
        )
        parts.append(
            f"b{t} AS (SELECT a AS ba, b AS bb, cnt AS bcnt FROM p{t}"
            f"  ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        parts.append(
            f"s{t + 1} AS (SELECT word, n, {_sql_fold('s', 'ba', 'bb')} AS s"
            f"  FROM s{t} CROSS JOIN b{t})"
        )
    return parts


def _bpe_oracle() -> str:
    parts = _oracle_parts()
    sel = "\nUNION ALL\n".join(
        f"SELECT {t} AS step, ba AS left_sym, bb AS right_sym,"
        f" bcnt AS pair_cnt FROM b{t}"
        for t in range(N_MERGES)
    )
    return "WITH " + ",\n".join(parts) + "\nSELECT * FROM (" + sel + ") ORDER BY step"


@query("text_bpe_train_merges", oracle=_bpe_oracle())
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First {N_MERGES} learned BPE merges over the documents corpus."""
    return bpe_train(spark, sf_dir)


# ------------------------------------------------------- BPE APPLY stage
def _bpe_encode_oracle() -> str:
    parts = _oracle_parts()
    parts.append(
        "dw AS (SELECT source, w2.w AS word"
        "  FROM documents, LATERAL (SELECT unnest(string_split(text, ' ')) AS w) w2"
        "  WHERE w2.w <> '')"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT dw.source,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(v.s)) AS BIGINT) AS n_tokens,
       CAST(100 * SUM(len(v.s)) // COUNT(*) AS BIGINT)
         AS avg_tokens_per_word_x100
FROM dw JOIN s{N_MERGES} v ON dw.word = v.word
GROUP BY dw.source
ORDER BY dw.source
"""
    )


def bpe_vocab_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final per-word symbol segmentation after ``N_MERGES`` learned
    merges: (word, n, s) -- the tokenizer's vocabulary table. Identical
    loop to :func:`bpe_train`, keeping the evolving symbol table rather
    than the merge log."""
    syms = _char_symbols(materialize(_word_histogram(spark, sf_dir)))
    for _ in range(N_MERGES):
        best = _best_pair(_pair_counts(syms))
        syms = _apply_merge(syms, best)
    return syms


@query("text_bpe_encode", oracle=_bpe_encode_oracle())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer's ENCODE stage: apply the {N_MERGES} learned merges
    to the corpus and account tokens per source -- the
    train-then-tokenize round trip every data pipeline runs before
    packing sequences.

    Scale shape: encoding never re-folds per occurrence. The merge loop
    runs on the DISTINCT-word symbol table (|vocab| rows); each corpus
    word occurrence then hash-joins to its finished segmentation by
    word. At 100 TB the join shuffles by word with a vocab-sized build
    side (millions of rows -- AQE picks broadcast vs shuffled-hash);
    the corpus is touched once to explode words and once to join.
    Exact integer outputs (counts + integer-div average) gate
    bit-for-bit against the CTE-chain oracle replaying every round.
    """
    vocab = bpe_vocab_segmentation(spark, sf_dir).select(
        "word", F.size("s").alias("n_tok")
    )
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    return (
        words.join(vocab, "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .select(
            "source",
            "n_words",
            "n_tokens",
            F.expr("100 * n_tokens div n_words").alias(
                "avg_tokens_per_word_x100"
            ),
        )
        .orderBy("source")
    )
