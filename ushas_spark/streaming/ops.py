"""Structured Streaming operators (SURVEY.md section 2.9).

Reference surface: micro-batch engine (execution/streaming/
MicroBatchExecution.scala:37), event-time watermark (EventTimeWatermark
Exec.scala:79), TimeWindow expansion (analysis/Analyzer.scala:2732
TimeWindowing), streaming aggregation state (statefulOperators.scala:
223,277), streaming dedup (:428), stream-stream join (StreamingSymmetric
HashJoinExec.scala:126), arbitrary state (FlatMapGroupsWithStateExec.scala
:44 -> PySpark applyInPandasWithState). Session windows are Spark 3.2+
(absent in the reference's 2.4 -- a free upgrade, SURVEY.md section 2.9).

The test harness replays the finite `events` table through the file
source and a memory sink (`run_to_memory`), mirroring the reference's
StreamTest scripted-action pattern (StreamTest.scala:76): deterministic,
synchronous (processAllAvailable), no timing races.

Scale notes: streaming aggregation state partitions by group key across
executors; watermarks bound state size -- always set one in production
jobs (the finite-replay harness uses complete/append modes as each query
documents).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
    "value double, props string"
)
WINDOW = "1 hour"  # tumbling and sliding window width
SLIDE = "30 minutes"  # sliding window step
SESSION_GAP_MINUTES = 30  # inactivity that closes a session


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream. ts is parquet
    TIMESTAMP(NANOS), which this Spark 4 build reads as TIMESTAMP_NTZ;
    cast to a session-TZ timestamp so the streaming side matches
    ushas_spark.io.load_table exactly (UTC session TZ -> value-exact)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The file stream source requires a DIRECTORY; point it at the sf dir
    # and glob-filter to the events table.
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drive a finite streaming query to completion through the memory
    sink; returns the sink table. Synchronous and deterministic."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window aggregation (EventTimeWatermark +
    TimeWindow -> StateStoreSave plan)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", WINDOW), "event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.round(F.col("value") * 10000).cast("long")).cast("double") / 10000.0).alias("sum_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Sliding windows: each event lands in WINDOW/SLIDE overlapping
    buckets (TimeWindowing expands to Expand + filter)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", WINDOW, SLIDE))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "n",
        )
    )


def session_window_counts(events: DataFrame) -> DataFrame:
    """Native session windows (Spark 3.2+; the reference could only do
    this via flatMapGroupsWithState)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("s_start"),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias("s_end"),
            "n_events",
        )
    )


def streaming_limit(events: DataFrame, n: int) -> DataFrame:
    """Streaming global limit (reference: execution/streaming/
    StreamingGlobalLimitExec.scala:39, planned by SparkStrategies for
    append-mode streams): emit at most ``n`` rows across ALL micro-
    batches, tracked in a single-partition state store. WHICH rows pass
    is batch-order-dependent, so downstream checks must be on the count,
    not the contents."""
    return events.limit(n)


def streaming_dedup_keys(events: DataFrame) -> DataFrame:
    """Streaming dropDuplicates (StreamingDeduplicateExec): emit each
    (user_id, event_type) key once. Only key columns are projected so
    the output is deterministic regardless of which duplicate arrives
    first (state keeps first-seen; row order within a batch is
    partition-parallel)."""
    return events.select("user_id", "event_type").dropDuplicates()


def stream_stream_join(events: DataFrame) -> DataFrame:
    """Stream-stream inner self-join: purchases joined to the same user's
    views within the preceding hour (time-interval join condition -- the
    StreamingSymmetricHashJoin shape with state pruned by the bounds)."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("v_id"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    return views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("p_user").alias("user_id"),
        "v_id",
        "p_id",
        F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )


SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start string, session_end string, n_events bigint"
)
SESSION_STATE_SCHEMA = "last_ts double, start_ts double, n bigint"


def sessionize_with_state(events: DataFrame) -> DataFrame:
    """Custom stateful sessionization via applyInPandasWithState (the
    PySpark successor of the reference's FlatMapGroupsWithState,
    plans/logical/object.scala:365-409).

    Emits CLOSED sessions; the final open session per user is flushed on
    state timeout. For the finite-replay harness (single batch, no
    timeout firing) the closed sessions of each batch are emitted eagerly
    and the trailing session is emitted by the batch itself -- keeping
    the output deterministic without wall-clock coupling."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_s = SESSION_GAP_MINUTES * 60

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        ts_list: list[float] = []
        for pdf in pdfs:
            ts_list.extend(float(t.timestamp()) for t in pdf["ts"])
        ts_list.sort()
        if state.exists:
            last_ts, start_ts, n = state.get
            sessions = [[start_ts, last_ts, int(n)]]
        else:
            sessions = []
        for t in ts_list:
            if sessions and t - sessions[-1][1] <= gap_s:
                sessions[-1][1] = t
                sessions[-1][2] += 1
            else:
                sessions.append([t, t, 1])
        *closed, current = sessions
        state.update((current[1], current[0], current[2]))
        # Finite-replay determinism: emit the still-open session too (a
        # production job would instead set a timeout and emit on expiry).
        out = closed + [current]
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out),
                "session_start": [
                    pd.Timestamp(s, unit="s").strftime("%Y-%m-%d %H:%M:%S") for s, _, _ in out
                ],
                "session_end": [
                    pd.Timestamp(e_, unit="s").strftime("%Y-%m-%d %H:%M:%S") for _, e_, _ in out
                ],
                "n_events": [n for _, _, n in out],
            }
        )

    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def supports_transform_with_state() -> bool:
    """transformWithStateInPandas needs `google.protobuf` for its state
    server protocol; absent in this container (environment gate, like
    JDBC). The operator below is the real cluster formulation."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_count_with_state(events: DataFrame) -> DataFrame:
    """Per-user running event count via transformWithStateInPandas (the
    Spark 4 successor of applyInPandasWithState / the reference's
    FlatMapGroupsWithState, plans/logical/object.scala:365-409):
    typed ValueState per key, RocksDB-backed, schema-validated state.
    Emits the cumulative count per key per micro-batch (Update mode)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.count = handle.getValueState("count", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            total = sum(len(pdf) for pdf in rows)
            prev = self.count.get()
            n = (prev[0] if prev else 0) + total
            self.count.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    spark = events.sparkSession
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    return events.select("user_id").groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningCount(),
        outputStructType="user_id BIGINT, n_events BIGINT",
        outputMode="Update",
        timeMode="None",
    )


def streaming_dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Streaming dropDuplicatesWithinWatermark (Spark 3.5+,
    StreamingDeduplicateWithinWatermarkExec): like dropDuplicates, but
    per-key state is EVICTED once the watermark passes the key's event
    time -- the production shape for unbounded key domains, where plain
    streaming dedup state grows forever. Keys are projected after the
    dedup (the operator requires the event-time column to be present;
    which duplicate's ts survives is arrival-order-dependent, the keys
    are not)."""
    return (
        events.select("user_id", "event_type", "ts")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
