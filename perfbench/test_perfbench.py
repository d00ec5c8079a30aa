"""Self-tests of the benchmark's own rules and input generator.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import filecmp
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100; input order does not matter
    value, pct, beyond = stats.tail(list(reversed(values)))
    assert (value, pct, beyond) == (90.0, 90.0, 10)
    assert sum(v > value for v in values) == 10

    value, pct, beyond = stats.tail([float(i) for i in range(20)])
    assert (value, pct, beyond) == (9.0, 50.0, 10)


def test_tail_with_too_few_samples_reports_the_upper_quartile():
    assert stats.tail([3.0, 1.0, 2.0, 4.0]) == (3.0, 75.0, 1)
    assert stats.tail([1.0]) == (1.0, 100.0, 0)
    value, pct, beyond = stats.tail([float(i) for i in range(19)])
    assert (value, beyond) == (14.0, 4)
    assert pct == pytest.approx(1500.0 / 19)
    with pytest.raises(ValueError):
        stats.tail([])


def test_op_p50_is_the_middle_operations_own_median():
    samples = {"fast": [1.0, 1.2], "mid": [2.0, 3.0], "slow": [9.0, 7.0]}
    assert stats.median_of_medians(samples) == 2.5
    assert stats.median_of_medians({"a": [4.0, 1.0, 2.0]}) == 2.0


def test_fail_count_counts_attempts_and_keeps_first_problem_per_name():
    f = stats.FailCount()
    assert f.ratio == 0.0
    assert f.record("q1", None)
    assert not f.record("q2", "oracle mismatch")
    assert not f.record("q2", "lineage edges differ")
    assert f.record("q3", None)
    assert (f.attempted, f.n_failed) == (4, 2)
    assert f.ratio == 0.5
    assert f.failed == {"q2": "oracle mismatch"}


@pytest.fixture(scope="module")
def spark():
    return (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def test_blind_ratio_of_a_local_checkpoint_plan_is_one(spark):
    from pyspark.sql import functions as F

    from ushas_spark.lineage import lineage

    df = spark.range(8).withColumn("y", F.col("id") * 2)
    cut = df.localCheckpoint(eager=True).withColumn("z", F.col("y") + 1)
    g = lineage(cut)
    assert len(g) == 3
    assert stats.blind_columns(g) / len(g) == 1.0
    assert stats.blind_columns(lineage(df)) == 0  # Range leaves keep their source


def test_same_seed_writes_identical_files_and_seeds_only_reorder(tmp_path):
    a = inputs.generate(str(tmp_path / "a"), 7)
    b = inputs.generate(str(tmp_path / "b"), 7)
    c = inputs.generate(str(tmp_path / "c"), 8)
    names = [f"{t}.parquet" for t in inputs.TABLES]
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert (mismatch, errors) == ([], []) and len(match) == len(names)
    for name in names:
        src = pq.ParquetFile(os.path.join(inputs.SRC_DIR, name))
        fa = pq.ParquetFile(os.path.join(a, name))
        ta = fa.read()
        tc = pq.read_table(os.path.join(c, name))
        # The source's parquet and Arrow schemas, row count and row groups.
        assert fa.schema.equals(src.schema)
        assert ta.schema.equals(src.schema_arrow, check_metadata=True)
        assert tc.schema.equals(ta.schema, check_metadata=True)
        assert (fa.metadata.num_rows, fa.metadata.num_row_groups) == (
            src.metadata.num_rows,
            src.metadata.num_row_groups,
        )
        keys = [(f.name, "ascending") for f in ta.schema if not pa.types.is_list(f.type)]
        assert ta.sort_by(keys).equals(tc.sort_by(keys))  # same row multiset
        assert ta.sort_by(keys).equals(src.read().sort_by(keys))  # the source's rows
        if ta.num_rows > 1:
            assert not ta.equals(tc)  # in another order


def fixture_schemas() -> dict[str, list[tuple[str, str]]]:
    """Table -> [(column, Spark type)] from the schema tables in FIXTURES.md."""
    out = {}
    with open(os.path.join(ROOT, "FIXTURES.md")) as f:
        for line in f:
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if len(cells) == 3 and cells[0].strip("`") in inputs.TABLES:
                # "props string (JSON)": the type is the second word.
                out[cells[0].strip("`")] = [
                    tuple(col.split(" ")[:2]) for col in cells[2].split(", ")
                ]
    return out


def test_the_program_reads_the_fixture_schemas_from_generated_inputs(spark, tmp_path):
    from ushas_spark import io

    expected = fixture_schemas()
    assert sorted(expected) == sorted(inputs.TABLES)
    gen = inputs.generate(str(tmp_path / "gen"), 3)
    for name in inputs.TABLES:
        got = io.load_table(spark, gen, name).dtypes
        assert got == io.load_table(spark, inputs.SRC_DIR, name).dtypes
        # FIXTURES.md writes the tz-less parquet timestamps of orders and
        # lineitem, which Spark reads as timestamp_ntz, as ``timestamp``.
        assert [(c, t.replace("timestamp_ntz", "timestamp")) for c, t in got] == expected[name]


def test_self_time_subtracts_child_spans():
    t = tracing.Tracer()
    t.spans = [
        {"name": "registry.build", "start": 0.0, "end": 10.0, "parent": None, "op": "x"},
        {"name": "durability.materialize", "start": 1.0, "end": 4.0, "parent": 0, "op": "x"},
        {"name": "durability.materialize", "start": 5.0, "end": 7.0, "parent": 0, "op": "x"},
        {"name": "exec", "start": 10.0, "end": 12.0, "parent": None, "op": "y"},
    ]
    assert t.self_times({"x"}) == {"registry.build": 5.0, "durability.materialize": 5.0}
    assert t.durations({"y"}) == {"exec": [2.0]}
