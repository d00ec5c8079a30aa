"""Complex-type coverage: arrays, maps, lambdas, generators, JSON
(SURVEY.md section 2.8 collection rows).

Reference: collectionOperations.scala (3959 LoC: Size:92, array_sort/min/
max/position/distinct/union, slice, sequence, flatten, element_at, ...),
higherOrderFunctions.scala (ArrayTransform:217 ArrayFilter:274
ArrayExists:319 ArrayAggregate:371), complexTypeCreator/Extractors,
generators.scala (Explode:362 PosExplode Stack:137; logical Generate
basicLogicalOperators.scala:90), jsonExpressions.scala (GetJsonObject:121
JsonToStructs:513).

Ordering discipline: any function whose output order is engine-arbitrary
(array_distinct, array_union, collect_set, map_keys...) is wrapped in
array_sort/list_sort before comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ushas_spark.io import load_table
from ushas_spark.registry import query


@query(
    "array_battery",
    oracle="""
WITH t AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS words FROM documents)
SELECT doc_id,
       len(words) AS n_words,
       words[1] AS first_word,
       words[-1] AS last_word,
       list_sort(words)[1] AS min_word,
       list_contains(words, 'data') AS has_data,
       CAST(COALESCE(list_position(words, 'data'), 0) AS BIGINT) AS data_pos,
       to_json(list_sort(list_distinct(words))) AS vocab,
       to_json(list_slice(words, 1, 3)) AS first3,
       to_json(list_reverse(words)) AS rev_words,
       array_to_string(list_slice(words, 1, 3), '|') AS joined3
FROM t
ORDER BY doc_id
""",
)
def array_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction + access + set ops. Spark array_position and
    element_at(-1) are 1-based / negative-from-end, matching DuckDB list
    indexing. Missing-element position is pinned to 0 on both sides
    (Spark returns 0 natively; a nullable int column would round-trip
    through pandas as NaN floats and break the comparison layer)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r" +")
    return (
        d.select("doc_id", words.alias("words"))
        .select(
            "doc_id",
            F.size("words").cast("long").alias("n_words"),
            F.element_at("words", 1).alias("first_word"),
            F.element_at("words", -1).alias("last_word"),
            F.element_at(F.array_sort("words"), 1).alias("min_word"),
            F.array_contains("words", "data").alias("has_data"),
            F.array_position("words", "data").alias("data_pos"),
            F.to_json(F.array_sort(F.array_distinct("words"))).alias("vocab"),
            F.to_json(F.slice("words", 1, 3)).alias("first3"),
            F.to_json(F.reverse("words")).alias("rev_words"),
            F.array_join(F.slice("words", 1, 3), "|").alias("joined3"),
        )
        .orderBy("doc_id")
    )


@query(
    "array_construct_battery",
    oracle="""
SELECT p_partkey,
       to_json([p_size, p_size * 2, 7]) AS built,
       to_json(generate_series(1, 5)) AS seq5,
       to_json(generate_series(0, 10, 2)) AS evens,
       to_json(flatten([[p_size], [1, 2]])) AS flat,
       to_json(list_sort(list_intersect([p_size, 1, 2], [2, 1]))) AS inter,
       to_json(list_sort(list_concat([p_size], [p_size + 1]))) AS cc,
       to_json([r % 3 = 0 FOR r IN generate_series(1, 6)]) AS mod_flags
FROM part
ORDER BY p_partkey
""",
)
def array_construct_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction: literal arrays, sequence (distributed-safe:
    per-row generation, no driver materialisation), flatten, intersect,
    concat, comprehension-equivalent transform."""
    p = load_table(spark, sf_dir, "part")
    size = F.col("p_size")
    return p.select(
        "p_partkey",
        F.to_json(F.array(size, size * 2, F.lit(7))).alias("built"),
        F.to_json(F.sequence(F.lit(1), F.lit(5))).alias("seq5"),
        F.to_json(F.sequence(F.lit(0), F.lit(10), F.lit(2))).alias("evens"),
        F.to_json(F.flatten(F.array(F.array(size), F.array(F.lit(1), F.lit(2))))).alias("flat"),
        F.to_json(F.array_sort(
            F.array_intersect(F.array(size, F.lit(1), F.lit(2)), F.array(F.lit(2), F.lit(1)))
        )).alias("inter"),
        F.to_json(F.array_sort(F.concat(F.array(size), F.array(size + 1)))).alias("cc"),
        F.to_json(F.transform(F.sequence(F.lit(1), F.lit(6)), lambda r: r % 3 == 0)).alias("mod_flags"),
    ).orderBy("p_partkey")


@query(
    "hof_lambda_battery",
    oracle="""
WITH t AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS words FROM documents)
SELECT doc_id,
       to_json(list_transform(words, w -> upper(w))) AS upper_words,
       to_json(list_filter(words, w -> length(w) > 4)) AS long_words,
       len(list_filter(words, w -> w = 'data')) > 0 AS any_data,
       len(list_filter(words, w -> length(w) > 1)) = len(words) AS all_long,
       list_reduce(list_prepend(0, list_transform(words, w -> length(w))),
                   (acc, x) -> acc + x) AS total_chars,
       to_json(list_transform(list_zip(words, generate_series(1, len(words))),
                      p -> concat(p[1], ':', CAST(p[2] AS VARCHAR)))) AS indexed
FROM t
ORDER BY doc_id
""",
)
def hof_lambda_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order lambda functions (reference: higherOrderFunctions.scala
    ArrayTransform:217 ArrayFilter:274 ArrayExists:319 ArrayAggregate:371,
    ZipWith). These run as JVM expressions -- the fast path for per-row
    array work at scale (NOT a Python UDF) -- though not compiled: on
    Spark 4.1 ZipWith, ArrayAggregate and ArrayTransform are
    CodegenFallback, so a projection holding them runs interpreted,
    outside whole-stage codegen."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), r" +")
    return (
        d.select("doc_id", words.alias("words"))
        .select(
            "doc_id",
            F.to_json(F.transform("words", lambda w: F.upper(w))).alias("upper_words"),
            F.to_json(F.filter("words", lambda w: F.length(w) > 4)).alias("long_words"),
            F.exists("words", lambda w: w == "data").alias("any_data"),
            F.forall("words", lambda w: F.length(w) > 1).alias("all_long"),
            F.aggregate(
                "words", F.lit(0), lambda acc, w: acc + F.length(w)
            ).cast("long").alias("total_chars"),
            F.to_json(F.zip_with(
                "words",
                F.sequence(F.lit(1), F.size("words")),
                lambda w, i: F.concat(w, F.lit(":"), i.cast("string")),
            )).alias("indexed"),
        )
        .orderBy("doc_id")
    )


@query(
    "map_battery",
    oracle="""
SELECT p_partkey,
       map_extract(map(['brand', 'type'], [p_brand, p_type]), 'brand')[1] AS brand_val,
       to_json(list_sort(map_keys(map(['brand', 'type'], [p_brand, p_type])))) AS mkeys,
       CAST(cardinality(map(['brand', 'type'], [p_brand, p_type])) AS BIGINT) AS msize,
       element_at(map(['sz'], [p_size]), 'sz')[1] AS sz_val
FROM part
ORDER BY p_partkey
""",
)
def map_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map create/extract (reference: complexTypeCreator.scala CreateMap,
    complexTypeExtractors.scala GetMapValue). Map VALUES are compared via
    scalar extraction -- raw map columns serialise differently per engine."""
    p = load_table(spark, sf_dir, "part")
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    return p.select(
        "p_partkey",
        F.element_at(m, "brand").alias("brand_val"),
        F.to_json(F.array_sort(F.map_keys(m))).alias("mkeys"),
        F.size(m).cast("long").alias("msize"),
        F.element_at(F.create_map(F.lit("sz"), F.col("p_size")), "sz").alias("sz_val"),
    ).orderBy("p_partkey")


@query(
    "explode_unnest",
    oracle="""
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(regexp_split_to_array(text, ' +')) AS word FROM documents)
GROUP BY word
HAVING COUNT(*) >= 5
ORDER BY n DESC, word
""",
)
def explode_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode == UNNEST (reference: generators.scala Explode:362; logical
    Generate basicLogicalOperators.scala:90). The word-count shape: explode
    multiplies rows BEFORE the shuffle, so at scale project to the array
    column first (done here) to keep the exploded rows narrow."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), r" +")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 5)
        .orderBy(F.col("n").desc(), "word")
    )


@query(
    "posexplode_with_position",
    oracle="""
SELECT doc_id, CAST(p[2] - 1 AS INT) AS pos, p[1] AS word
FROM (
  SELECT doc_id,
         unnest(list_zip(words, generate_series(1, len(words)))) AS p
  FROM (SELECT doc_id, regexp_split_to_array(text, ' +') AS words
        FROM documents WHERE doc_id < 10)
)
ORDER BY doc_id, pos
""",
)
def posexplode_with_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: position-tagged explode (reference: generators.scala
    PosExplode). Oracle emulates via generate_series indexing."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    return (
        d.select("doc_id", F.posexplode(F.split(F.col("text"), r" +")).alias("pos", "word"))
        .orderBy("doc_id", "pos")
    )


@query(
    "json_battery",
    oracle="""
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
       CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 AS k_doubled,
       json_extract_string(props, '$.missing') AS missing_field,
       json_valid(props) AS is_valid
FROM events
ORDER BY event_id
""",
)
def json_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON functions (reference: jsonExpressions.scala GetJsonObject:121,
    JsonToStructs:513 from_json). k_num goes through a typed from_json
    schema -- the Spark-idiomatic path; get_json_object covers ad-hoc
    extraction."""
    e = load_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k BIGINT")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        parsed.getField("k").alias("k_num"),
        (parsed.getField("k") * 2).alias("k_doubled"),
        F.get_json_object("props", "$.missing").alias("missing_field"),
        F.expr("from_json(props, 'k BIGINT') IS NOT NULL").alias("is_valid"),
    ).orderBy("event_id")


@query(
    "stack_unpivot",
    oracle="""
SELECT p_partkey, metric, val
FROM (
  SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
  UNION ALL
  SELECT p_partkey, 'price' AS metric, p_retailprice AS val FROM part
)
ORDER BY p_partkey, metric
""",
)
def stack_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via stack (reference: generators.scala Stack:137) -- the
    inverse of pivot; one Generate, no shuffle."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.expr(
                "stack(2, 'size', CAST(p_size AS DOUBLE), 'price', p_retailprice)"
            ).alias("metric", "val"),
        )
        .orderBy("p_partkey", "metric")
    )


@query(
    "melt_unpivot_api",
    oracle="""
SELECT p_partkey, metric, val
FROM (
  SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
  UNION ALL
  SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
)
ORDER BY p_partkey, metric
""",
)
def melt_unpivot_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame unpivot/melt API (Spark 3.4+) -- same Expand-based plan
    as stack() but typed through the DataFrame API; value columns are
    cast to a common type first (unpivot requires it)."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").alias("p_retailprice"),
    )
    return p.unpivot(
        "p_partkey", ["p_size", "p_retailprice"], "metric", "val"
    ).orderBy("p_partkey", "metric")


_VARIANT_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
       json_extract_string(props, '$.k') AS k_str
FROM events
WHERE event_id < 3000
ORDER BY event_id
"""


@query("expr_variant_get", oracle=_VARIANT_ORACLE)
def expr_variant_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType: parse_json into an open-schema variant, then
    typed path extraction with variant_get -- the modern replacement for
    stringly-typed get_json_object on semi-structured columns (binary
    encoding, no per-access reparse; at 100 TB the parse happens once at
    ingest and shredded access stays columnar)."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return (
        e.filter(F.col("event_id") < 3000)
        .select(
            "event_id",
            F.variant_get(v, "$.k", "bigint").alias("k_num"),
            F.variant_get(v, "$.k", "string").alias("k_str"),
        )
        .orderBy("event_id")
    )
