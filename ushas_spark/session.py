"""SparkSession construction with scale-conscious defaults.

The reference engine's session entry points are ``SparkSession.builder`` /
``sessionState`` (reference: sql/core/src/main/scala/org/apache/spark/sql/
SparkSession.scala). We wrap the stock builder and pin configs that matter
for both the local test harness (local[N], single JVM) and a real cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) --
  supersedes the reference's primitive ``ExchangeCoordinator``
  (reference: execution/exchange/ExchangeCoordinator.scala:85).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a 1000-executor
  cluster this should be ~2-3x total cores and AQE coalesces down.
- Session timezone pinned to UTC so timestamp semantics are stable and match
  the DuckDB oracle (naive/UTC timestamps).
- Arrow enabled for every Python<->JVM data path (pandas UDFs, toPandas).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ushas_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with ushas_spark defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. On a real
    cluster the caller passes master/resource configs via ``extra_conf``
    or spark-submit; everything here is master-agnostic except the
    local[] fallback.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    n_shuffle = shuffle_partitions or int(os.environ.get("USHAS_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle sizing: ~cores in local mode. AQE coalesces small outputs.
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Stable timestamp semantics; matches the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow everywhere Python touches data.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode = driver-only JVM; this is the one memory knob.
        .config("spark.driver.memory", os.environ.get("USHAS_DRIVER_MEM", "64g"))
        .config("spark.ui.enabled", "false")
        # Parquet TIMESTAMP(NANOS) (events.ts) is unreadable by Spark
        # natively; surface it as long nanos and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Keep managed tables (bucketing tests etc.) inside the repo.
        .config("spark.sql.warehouse.dir", os.environ.get(
            "USHAS_WAREHOUSE", "/root/repo/.spark-warehouse"))
        # Broadcast threshold: keep default 10MB; dimension tables in the
        # star schema are far below it, and we also hint explicitly.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Unpartitioned windows (global ranks, top-k) are deliberate here;
    # their "No Partition Defined" warnings only flood stdout.
    log4j = spark._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(WINDOW_LOGGER, log4j.Level.ERROR)
    py4j_nodelay(spark)
    return spark


WINDOW_LOGGER = "org.apache.spark.sql.execution.window.WindowExec"

# The gateway whose connections this Python thread has already switched to
# TCP_NODELAY (py4j pins one connection per Python thread).
_nodelay_done = threading.local()


def py4j_nodelay(spark: SparkSession) -> None:
    """Set ``TCP_NODELAY`` on the JVM end of every open py4j connection.

    py4j's JVM end writes replies through an 8 KB ``BufferedWriter`` and
    leaves Nagle's algorithm on, so the tail of any reply of 8,190+
    characters (a plan's ``toJSON``) waits for the Python side's delayed
    ACK: a flat ~44 ms instead of under 1 ms. Memoized per gateway and
    Python thread; the first py4j call below opens this thread's
    connection if it had none, so the loop covers it.
    """
    gateway = spark.sparkContext._gateway
    if getattr(_nodelay_done, "gateway", None) is gateway:
        return
    for sock in gateway_sockets(spark):
        sock.setTcpNoDelay(True)
    _nodelay_done.gateway = gateway


def gateway_sockets(spark: SparkSession) -> list:
    """The JVM-side ``java.net.Socket`` of every open py4j connection.

    They live in the private ``py4j.GatewayServer.connections`` field;
    py4j sits in the unnamed module, so reflection needs no
    ``--add-opens``.
    """
    gateway = spark.sparkContext._gateway
    field = gateway.jvm.java.lang.Class.forName("py4j.GatewayServer").getDeclaredField(
        "connections"
    )
    field.setAccessible(True)
    conns = field.get(gateway.java_gateway_server).toArray()
    # An unsynchronized ArrayList: a connection closing concurrently can
    # leave a null slot in the copy.
    return [c.getSocket() for c in conns if c is not None]
