"""Session defaults and the py4j gateway transport: ``get_spark`` and
``lineage`` both apply ``session.py4j_nodelay``."""

from __future__ import annotations

import statistics
import threading
import time

from pyspark.sql import functions as F

from ushas_spark import session
from ushas_spark.lineage import lineage

# A 64 KB reply spans eight py4j write buffers; with Nagle on it takes
# ~44 ms, with TCP_NODELAY about 1 ms.
REPLY_CHARS = 65536
REPLY_BUDGET_MS = 10


def _reply_ms(spark) -> float:
    """Median wall time of 10 py4j calls that each return REPLY_CHARS."""
    repeat = spark._jvm.org.apache.commons.lang3.StringUtils.repeat
    times = []
    for _ in range(10):
        t0 = time.perf_counter()
        repeat("x", REPLY_CHARS)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3


def test_get_spark_sets_nodelay(spark):
    ms = _reply_ms(spark)
    assert ms < REPLY_BUDGET_MS, f"64 KB py4j reply took {ms:.1f} ms"


def test_lineage_sets_nodelay_on_plain_session(spark, monkeypatch):
    """A plain SparkSession handed to ``__spark_entry__`` never went
    through get_spark: with Nagle back on and the memo cleared, one
    lineage() call restores the fast transport."""
    monkeypatch.setattr(session, "_nodelay_done", threading.local())
    try:
        for s in session.gateway_sockets(spark):
            s.setTcpNoDelay(False)
        assert not any(s.getTcpNoDelay() for s in session.gateway_sockets(spark))
        lineage(spark.range(3).select((F.col("id") + 1).alias("x")))
        assert all(s.getTcpNoDelay() for s in session.gateway_sockets(spark))
        ms = _reply_ms(spark)
        assert ms < REPLY_BUDGET_MS, f"64 KB py4j reply took {ms:.1f} ms"
    finally:
        for s in session.gateway_sockets(spark):
            s.setTcpNoDelay(True)


def test_lineage_sets_nodelay_on_new_thread(spark):
    """py4j pins a fresh connection to each Python thread; lineage() called
    from that thread covers it."""
    out: dict[str, float] = {}

    def work() -> None:
        lineage(spark.range(3).select((F.col("id") + 1).alias("x")))
        out["ms"] = _reply_ms(spark)

    t = threading.Thread(target=work)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive()
    assert out["ms"] < REPLY_BUDGET_MS, f"64 KB py4j reply took {out['ms']:.1f} ms"


def test_window_exec_warnings_quiet(spark):
    log4j = spark._jvm.org.apache.logging.log4j
    level = log4j.LogManager.getLogger(session.WINDOW_LOGGER).getLevel()
    assert level.toString() == "ERROR"
