"""Streaming queries for the correctness gate.

Each runs a genuine Structured Streaming job (file source -> stateful
operators -> memory sink, driven to completion) and compares against the
equivalent BATCH semantics in DuckDB -- valid because a finite, fully
processed stream must agree with the batch answer (the reference's
StreamTest methodology, collapsed to one scripted action)."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession

from ushas_spark.registry import query
from ushas_spark.streaming import ops

_TUMBLING_ORACLE = """
SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS w_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY w_start, event_type
"""


@query("streaming_tumbling_window_counts", oracle=_TUMBLING_ORACLE)
def streaming_tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + 1h tumbling windows, complete-mode memory sink."""
    events = ops.read_events_stream(spark, sf_dir)
    out = ops.run_to_memory(
        ops.tumbling_counts(events), "t_tumbling", output_mode="complete"
    )
    return out.orderBy("w_start", "event_type")


_SLIDING_ORACLE = """
WITH slots AS (
  SELECT to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 1800) AS BIGINT) * 1800) AS s0
  FROM events
),
assigned AS (
  SELECT s0 AS w FROM slots
  UNION ALL
  SELECT s0 - INTERVAL 30 MINUTE AS w FROM slots
)
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS w_start, COUNT(*) AS n
FROM assigned
GROUP BY 1
ORDER BY w_start
"""


@query("streaming_sliding_window_counts", oracle=_SLIDING_ORACLE)
def streaming_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h windows sliding by 30min: every event belongs to exactly two
    windows; the oracle assigns both slots arithmetically."""
    events = ops.read_events_stream(spark, sf_dir)
    out = ops.run_to_memory(
        ops.sliding_counts(events), "t_sliding", output_mode="complete"
    )
    return out.orderBy("w_start")


_SESSION_ORACLE = """
WITH t AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN epoch(CAST(ts AS TIMESTAMP))
                   - epoch(lag(CAST(ts AS TIMESTAMP))
                           OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                   OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM t
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
       strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS s_end,
       COUNT(*) AS n_events
FROM s
GROUP BY user_id, sid
ORDER BY user_id, s_start
"""


@query("streaming_session_window", oracle=_SESSION_ORACLE)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (30min gap): session end = last event + gap;
    oracle reproduces the gap-merge with lag/cumsum."""
    events = ops.read_events_stream(spark, sf_dir)
    out = ops.run_to_memory(
        ops.session_window_counts(events), "t_session", output_mode="complete"
    )
    return out.orderBy("user_id", "s_start")


_DEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
ORDER BY user_id, event_type
"""


@query("streaming_dedup", oracle=_DEDUP_ORACLE)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates (state-backed first-seen emit)."""
    events = ops.read_events_stream(spark, sf_dir)
    out = ops.run_to_memory(
        ops.streaming_dedup_keys(events), "t_dedup", output_mode="append"
    )
    return out.orderBy("user_id", "event_type")


_JOIN_ORACLE = """
SELECT v.user_id,
       v.event_id AS v_id,
       p.event_id AS p_id,
       strftime(CAST(v.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS view_ts,
       strftime(CAST(p.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'view') v
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
 AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR
ORDER BY v_id, p_id
"""


@query("streaming_stream_stream_join", oracle=_JOIN_ORACLE)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with a time-interval condition: a fully
    processed finite stream must equal the batch join."""
    events = ops.read_events_stream(spark, sf_dir)
    out = ops.run_to_memory(
        ops.stream_stream_join(events), "t_ssjoin", output_mode="append"
    )
    return out.orderBy("v_id", "p_id")


_LIMIT_N = 500

_LIMIT_ORACLE = f"""
SELECT LEAST({_LIMIT_N}, COUNT(*)) AS n_rows FROM events
"""


@query("streaming_limit", oracle=_LIMIT_ORACLE)
def streaming_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming global limit (StreamingGlobalLimitExec): a finite replay
    through .limit(n) must emit exactly min(n, |stream|) rows. Row
    IDENTITY is batch-order-dependent, so the oracle checks the one
    deterministic property -- the emitted count."""
    from pyspark.sql import functions as F

    events = ops.read_events_stream(spark, sf_dir)
    out = ops.run_to_memory(
        ops.streaming_limit(events, _LIMIT_N), "t_limit", output_mode="append"
    )
    return out.agg(F.count("*").alias("n_rows"))


_SESSIONIZE_STATE_ORACLE = """
WITH t AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN epoch(CAST(ts AS TIMESTAMP))
                   - epoch(lag(CAST(ts AS TIMESTAMP))
                           OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                   OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM t
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events
FROM s
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@query("streaming_sessionize_state", oracle=_SESSIONIZE_STATE_ORACLE)
def streaming_sessionize_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState sessionization (arbitrary stateful op). In
    general arbitrary state is non-SQL-expressible, but THIS operator's
    finite-replay output is deterministic and equals gap sessionization
    (session_end = last event, no gap padding -- unlike the native
    session_window query), so it gets a full oracle rather than the
    weaker rows-only check."""
    events = ops.read_events_stream(spark, sf_dir)
    out = ops.run_to_memory(
        ops.sessionize_with_state(events), "t_sessstate", output_mode="append"
    )
    return out.orderBy("user_id", "session_start")


_QUALITY_FILTER_ORACLE = """
WITH f AS (
  SELECT source,
         len(regexp_split_to_array(text, '\\s+')) AS n_tok,
         length(text) AS n_chr
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_tok BETWEEN 20 AND 1000 AND n_chr >= 100
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM f GROUP BY source ORDER BY source
"""


@query("streaming_quality_filter", oracle=_QUALITY_FILTER_ORACLE)
def streaming_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus quality gate as a STREAMING job: documents arrive as a
    file stream, the stateless length/token gates evaluate per batch
    (pure projection -- no state store), and per-source keep-rates
    aggregate in complete mode. The shape of continuous ingest curation:
    the same JVM expressions as the batch `text_quality_score`, applied
    incrementally."""
    from pyspark.sql import functions as F

    docs = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    n_tok = F.size(F.split("text", r"\s+"))
    kept = (
        (n_tok >= 20) & (n_tok <= 1000) & (F.length("text") >= 100)
    ).cast("int")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept).cast("long").alias("n_kept"),
    )
    out = ops.run_to_memory(agg, "t_quality_filter", output_mode="complete")
    return out.orderBy("source")


_STATIC_ENRICH_ORACLE = """
SELECT c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(e.value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0
         AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1 ORDER BY 1
"""


@query("streaming_static_enrich", oracle=_STATIC_ENRICH_ORACLE)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a STATIC
    dimension (customer) per micro-batch -- stateless, no watermark, the
    standard broadcast-enrichment shape (the static side re-plans each
    batch; at 100 TB you broadcast or bucket it) -- then aggregates per
    segment in complete mode with the exact scaled-int value sum.
    (Exact COUNT(DISTINCT) is unsupported on streams -- the engine
    offers approx_count_distinct instead, covered rows-only elsewhere.)
    """
    from pyspark.sql import functions as F

    from ushas_spark.io import load_table

    events = ops.read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    joined = events.join(F.broadcast(dim), events.user_id == dim.c_custkey)
    agg = joined.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.round(F.col("value") * 10000).cast("long")).cast("double")
            / 10000.0
        ).alias("sum_value"),
    )
    out = ops.run_to_memory(agg, "t_static_enrich", output_mode="complete")
    return out.orderBy("segment")


_STREAM_OHLC_ORACLE = """
WITH e AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar_hour, event_type,
         printf('%020d|%010d', epoch_us(CAST(ts AS TIMESTAMP)), event_id)
           AS ord,
         CAST(ROUND(value * 1000000) AS BIGINT) AS v_x1m
  FROM events
)
SELECT strftime(bar_hour, '%Y-%m-%d %H:%M:%S') AS w_start, event_type,
       arg_min(v_x1m, ord) AS open_x1m,
       MAX(v_x1m) AS high_x1m,
       MIN(v_x1m) AS low_x1m,
       arg_max(v_x1m, ord) AS close_x1m,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM e
GROUP BY bar_hour, event_type
ORDER BY w_start, event_type
"""


@query("streaming_ohlc_bars", oracle=_STREAM_OHLC_ORACLE)
def streaming_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars computed INSIDE Structured Streaming: the batch
    events_ohlc_hourly aggregate (min_by/max_by over a fixed-width
    (epoch_us, event_id) ordering string) runs as a watermarked
    tumbling-window stateful aggregation -- open/close update
    incrementally per micro-batch exactly like min/max, because min_by
    carries its ordering key in the aggregation buffer. A fully drained
    finite stream must equal the batch answer, which is what the DuckDB
    oracle states."""
    from pyspark.sql import functions as F

    events = ops.read_events_stream(spark, sf_dir)
    bars = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.min_by(
                F.round(F.col("value") * 1_000_000).cast("long"),
                F.format_string(
                    "%020d|%010d", F.unix_micros("ts"), F.col("event_id")
                ),
            ).alias("open_x1m"),
            F.max(F.round(F.col("value") * 1_000_000).cast("long")).alias(
                "high_x1m"
            ),
            F.min(F.round(F.col("value") * 1_000_000).cast("long")).alias(
                "low_x1m"
            ),
            F.max_by(
                F.round(F.col("value") * 1_000_000).cast("long"),
                F.format_string(
                    "%020d|%010d", F.unix_micros("ts"), F.col("event_id")
                ),
            ).alias("close_x1m"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "w_start"
            ),
            "event_type",
            "open_x1m",
            "high_x1m",
            "low_x1m",
            "close_x1m",
            "n_events",
        )
    )
    out = ops.run_to_memory(bars, "t_ohlc", output_mode="complete")
    return out.orderBy("w_start", "event_type")


_STREAM_CDC_ORACLE = """
WITH log AS (
  SELECT user_id AS key,
         event_id AS seq,
         CASE event_id % 10
           WHEN 0 THEN 'D' WHEN 1 THEN 'I' ELSE 'U' END AS op,
         CAST(ROUND(value * 10000) AS BIGINT) AS val_x10000
  FROM events
), latest AS (
  SELECT key, seq, op, val_x10000 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
    FROM log) WHERE rn = 1
)
SELECT key, CAST(seq AS BIGINT) AS last_seq, val_x10000
FROM latest WHERE op <> 'D'
ORDER BY key
"""


def _replay(spark: SparkSession, df: DataFrame, schema: str, merge) -> None:
    """Stream ``df`` through ``merge`` as a finite replay: four parquet
    files in a temp dir, read one per micro-batch (maxFilesPerTrigger=1),
    so the merge genuinely runs incrementally.

    The file stream source orders files by modification time, and files
    written by four concurrent tasks tie or race on it, so the batch
    order (and with it the number of rounds an incremental query runs)
    changed from run to run. The row split is stable (a round-robin
    repartition sorts each input partition first), so the files get
    modification times one second apart in part-file order. ``merge``
    materializes its state, so the feed is dead weight once the stream
    stops; it is deleted even when ``stop()`` itself raises."""
    feed = tempfile.mkdtemp(prefix="ushas_feed_")
    df.repartition(4).write.mode("overwrite").parquet(feed)
    now = time.time()
    for i, path in enumerate(sorted(glob.glob(os.path.join(feed, "part-*")))):
        os.utime(path, (now, now + i))
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(feed)
    )
    q = stream.writeStream.outputMode("update").foreachBatch(merge).start()
    try:
        q.processAllAvailable()
    finally:
        try:
            q.stop()
        finally:
            shutil.rmtree(feed, ignore_errors=True)


@query("streaming_cdc_upsert", oracle=_STREAM_CDC_ORACLE)
def streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC upsert via foreachBatch merge -- the
    Hudi/Delta-style pattern of maintaining a latest-wins snapshot
    table from a change stream (companion to the batch
    merge_cdc_apply). The event feed is re-laid as FOUR files streamed
    one per micro-batch (maxFilesPerTrigger=1), so the merge genuinely
    runs incrementally; each batch unions into the running state and
    re-derives latest-wins per key, with DELETE TOMBSTONES RETAINED in
    state -- retention is what makes the merge associative and
    commutative, so the final snapshot is independent of how rows
    split across batches (a dropped tombstone would let a
    smaller-sequence update in a later batch resurrect the key).
    State is materialized per batch (plan truncation, exactly the
    iterative-operator policy in durability.py).

    A finite replay of this stream must equal the batch answer -- the
    oracle is the plain latest-wins SQL over the whole log."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from ushas_spark.durability import materialize
    from ushas_spark.io import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )

    state = {
        "df": spark.createDataFrame(
            [], "key bigint, seq bigint, op string, val_x10000 bigint"
        )
    }
    w = W.partitionBy("key").orderBy(F.col("seq").desc())

    def merge(batch: DataFrame, batch_id: int) -> None:
        log = batch.select(
            F.col("user_id").alias("key"),
            F.col("event_id").alias("seq"),
            F.when(F.col("event_id") % 10 == 0, "D")
            .when(F.col("event_id") % 10 == 1, "I")
            .otherwise("U")
            .alias("op"),
            F.round(F.col("value") * 10000).cast("long").alias("val_x10000"),
        )
        merged = (
            state["df"]
            .unionByName(log)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        state["df"] = materialize(merged)

    _replay(spark, events, "event_id bigint, user_id bigint, value double", merge)

    return (
        state["df"]
        .where(F.col("op") != "D")
        .select("key", F.col("seq").alias("last_seq"), "val_x10000")
        .orderBy("key")
    )


_DEDUP_WM_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
ORDER BY user_id, event_type
"""


@query("streaming_dedup_within_watermark", oracle=_DEDUP_WM_ORACLE)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark conformance (Spark 3.5+ surface the
    reference predates): duplicates arriving within the watermark delay
    are dropped and the key's state is then evicted. The finite replay
    arrives as one microbatch (watermark only advances between batches),
    so every duplicate lands inside the delay and the output equals
    batch DISTINCT -- which is what the oracle pins; the query's value
    is exercising the eviction-capable physical operator
    (StreamingDeduplicateWithinWatermarkExec) end-to-end."""
    events = ops.read_events_stream(spark, sf_dir)
    out = ops.run_to_memory(
        ops.streaming_dedup_within_watermark(events),
        "t_dedup_wm",
        output_mode="append",
    )
    return out.orderBy("user_id", "event_type")


_STREAM_CC_ORACLE = """
WITH RECURSIVE raw AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderkey % 8 = 0
),
edges AS (
  SELECT cust AS s, supp + 1000000000 AS d FROM raw
  UNION ALL SELECT supp + 1000000000, cust FROM raw
),
nodes AS (SELECT DISTINCT s AS id FROM edges),
reach(id, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.id
)
SELECT id AS node, CAST(MIN(label) AS BIGINT) AS cluster_id
FROM reach GROUP BY id ORDER BY node
"""


@query("streaming_incremental_components", oracle=_STREAM_CC_ORACLE)
def streaming_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING graph maintenance: connected-component labels kept
    current across edge micro-batches via foreachBatch, each batch
    RESUMING label propagation from the previous batch's converged
    labels (connected_components' init_labels seed) -- the streaming
    composition of graph_components_incremental, and the shape of a
    production identity/dedup graph fed by a change stream.

    The sparse customer-supplier edges arrive as FOUR files streamed
    one per micro-batch (maxFilesPerTrigger=1), so propagation really
    runs four times on growing state; each round's work is bounded by
    the regions the batch's edges merge, not the accumulated graph's
    diameter. Accumulated edges and labels are materialized per batch
    (the durability.py iterative policy; on a cluster the reliable-
    checkpoint switch makes state survive executor loss).

    A finite replay must equal the batch recompute: the oracle is the
    from-scratch recursive-CTE closure over the full edge log, compared
    PER NODE -- the same incremental == batch gate as the batch
    operator, now across micro-batch boundaries."""
    from pyspark.sql import functions as F

    from ushas_spark.durability import materialize
    from ushas_spark.io import load_table
    from ushas_spark.operators.dedup import connected_components

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.filter(F.col("o_orderkey") % 8 == 0)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("a"),
            (F.col("l_suppkey") + 1_000_000_000).alias("b"),
        )
        .distinct()
    )

    state: dict = {
        "edges": spark.createDataFrame([], "a bigint, b bigint"),
        "labels": None,
    }

    def merge(batch: DataFrame, batch_id: int) -> None:
        edges_all = materialize(
            state["edges"].unionByName(batch.select("a", "b")).distinct()
        )
        nodes = (
            edges_all.select(F.col("a").alias("id"))
            .unionAll(edges_all.select(F.col("b").alias("id")))
            .distinct()
        )
        labels = connected_components(
            nodes,
            edges_all,
            id_col="id",
            src="a",
            dst="b",
            init_labels=state["labels"],
        )
        state["edges"] = edges_all
        state["labels"] = materialize(labels)

    _replay(spark, pairs, "a bigint, b bigint", merge)

    return state["labels"].select(
        F.col("id").alias("node"), F.col("label").cast("long").alias("cluster_id")
    ).orderBy("node")
