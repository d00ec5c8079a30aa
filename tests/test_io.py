"""``io.load_table``'s parquet schema memo: a repeated read of unchanged
files reuses the inferred schema and launches no Spark job; a rewrite or
an inference conf change infers again. ``io.row_count`` memoizes a
table's row count the same way."""

from __future__ import annotations

import itertools
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from ushas_spark import io

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

_groups = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"test_io_{next(_groups)}"
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", ["nation", "orders", "lineitem"])
def test_hit_launches_no_job(spark, sf_dir, name):
    io.load_table(spark, sf_dir, name)
    df, jobs = _jobs(spark, lambda: io.load_table(spark, sf_dir, name))
    assert jobs == 0
    assert df.schema == spark.read.parquet(f"{sf_dir}/{name}.parquet").schema


def test_miss_infers_once(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    _, first = _jobs(spark, lambda: io.load_table(spark, str(tmp_path), "t"))
    _, second = _jobs(spark, lambda: io.load_table(spark, str(tmp_path), "t"))
    assert (first, second) == (1, 0)


def test_pyarrow_rewrite_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert io.load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"bb": ["x", "y"], "cc": [0.5, 1.5]}), path)
    df = io.load_table(spark, str(tmp_path), "t")
    assert df.schema == spark.read.parquet(str(path)).schema
    assert [tuple(r) for r in df.collect()] == [("x", 0.5), ("y", 1.5)]


def test_spark_directory_rewrite_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).select(F.col("id").alias("a")).write.parquet(path)
    assert io.load_table(spark, str(tmp_path), "t").columns == ["a"]
    spark.range(2).select(
        F.col("id").cast("string").alias("bb"), (F.col("id") * 2).alias("cc")
    ).write.mode("overwrite").parquet(path)
    df = io.load_table(spark, str(tmp_path), "t")
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(tuple(r) for r in df.collect()) == [("0", 0), ("1", 2)]


def test_nanos_conf_toggle_matches_fresh_inference(spark, tmp_path):
    """TIMESTAMP(NANOS) is a bigint under nanosAsLong and illegal without
    it; a memo that ignored the conf would return bigint for both."""
    path = str(tmp_path / "t.parquet")
    ts = pa.array([1, 2_000_000_123], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path)

    def ts_type():
        got = io.load_table(spark, str(tmp_path), "t").schema["ts"].dataType
        assert got == spark.read.parquet(path).schema["ts"].dataType
        return got.typeName()

    before = spark.conf.get(NANOS_CONF)
    try:
        spark.conf.set(NANOS_CONF, "true")
        assert ts_type() == "long"
        spark.conf.set(NANOS_CONF, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            spark.read.parquet(path)
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            io.load_table(spark, str(tmp_path), "t")
        spark.conf.set(NANOS_CONF, "true")
        assert ts_type() == "long"
    finally:
        spark.conf.set(NANOS_CONF, before)


def _expr_ids(df) -> set[str]:
    output = df._jdf.queryExecution().analyzed().output().toString()
    return set(re.findall(r"#(\d+)", output))


def test_two_loads_self_join(spark, sf_dir):
    """Queries load one table twice and self-join it: the memoized read
    must still build a fresh relation with fresh exprIds."""
    io.load_table(spark, sf_dir, "orders")
    a, b = (io.load_table(spark, sf_dir, "orders") for _ in range(2))
    assert not _expr_ids(a) & _expr_ids(b)

    def pairs(x, y):
        return (
            x.join(
                y,
                (x["o_custkey"] == y["o_custkey"])
                & (x["o_orderkey"] < y["o_orderkey"]),
            )
            .select(x["o_orderkey"], y["o_orderkey"])
            .collect()
        )

    path = os.path.join(sf_dir, "orders.parquet")
    fresh = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert fresh
    assert sorted(pairs(a, b)) == sorted(fresh)


def test_row_count_repeat_launches_no_job(spark, sf_dir):
    first = io.row_count(spark, sf_dir, "customer")
    again, jobs = _jobs(spark, lambda: io.row_count(spark, sf_dir, "customer"))
    assert (again, jobs) == (first, 0)
    assert first == spark.read.parquet(f"{sf_dir}/customer.parquet").count()


def test_row_count_rewrite_counts_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert io.row_count(spark, str(tmp_path), "t") == 3
    pq.write_table(pa.table({"a": [1, 2, 3, 4, 5]}), path)
    n, jobs = _jobs(spark, lambda: io.row_count(spark, str(tmp_path), "t"))
    assert n == 5 and jobs > 0
