"""Local replica of the driver's DuckDB correctness gate.

Runs a registered Spark query and its oracle SQL side by side and compares
row count + column names + cell values order-insensitively, with EXACT
equality (the queries are designed to be bit-reproducible across engines;
see ushas_spark/oracle_exact.py). Anything that fails here would fail the
driver's value-hash, so this is the pre-flight check for every operator.
"""

from __future__ import annotations

import math
from decimal import Decimal

import duckdb
import pandas as pd

from ushas_spark.io import TABLES


# DataFrame cache for bind_views, keyed by parquet path (paths are unique
# tmp_path_factory dirs per test run; the session-scoped SparkSession
# keeps the DataFrames valid for the whole run).
_BIND_CACHE: dict = {}


def bind_views(spark, paths: dict) -> None:
    """(Re)bind a fixture's bare-name temp views immediately before a
    query executes.

    Several execution modules bind OVERLAPPING bare table names onto the
    session-scoped SparkSession (TPC-DS / modified-TPC-DS / decimal-q18
    all bind date_dim, store_sales, ...; TPC-DS, SSB and TPC-H all bind
    `customer`). Binding only at module-fixture setup is therefore
    ordering-dependent: under pytest-xdist or randomized ordering, a
    later module's fixture silently rebinds the names out from under an
    earlier module's still-running tests. Rebinding from the invoking
    fixture's own path map at every execution makes each query see its
    own tables no matter which module fixtures are live. The DataFrame
    objects are cached per path so the per-call cost is a catalog update,
    not a parquet footer re-read."""
    for table, path in paths.items():
        df = _BIND_CACHE.get(path)
        if df is None:
            df = _BIND_CACHE.setdefault(path, spark.read.parquet(path))
        df.createOrReplaceTempView(table)


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm_cell(v):
    """Normalise a cell to a comparison-stable Python value."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, Decimal):
        return v
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if hasattr(v, "isoformat"):  # date / datetime
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    try:
        import numpy as np

        if isinstance(v, np.generic):
            return _norm_cell(v.item())
        if isinstance(v, np.ndarray):
            return tuple(_norm_cell(x) for x in v.tolist())
    except ImportError:
        pass
    return v


def driver_canon_problems(schema) -> list[str]:
    """Flag output schemas the driver's canonicalizer cannot hash.

    The driver gate canonicalizes each result with pandas
    (sort_values + factorize over object columns); a top-level
    array/map/struct column crashes it with ``TypeError: unhashable
    type`` -- the registry's only-ever red row (r09,
    expr_xpath_url_battery, raw ``xpath()`` array<string>). Every
    registered query must therefore return ATOMIC top-level columns:
    serialize containers first (``F.array_join`` / ``F.to_json``).
    ``tests/test_oracle.py`` checks it first, once per registered query
    (streaming ones included), on the analyzed schema of the one build
    that its other checks share, so the crash class cannot recur."""
    import pyspark.sql.types as T

    return [
        f"column '{f.name}' has non-atomic type {f.dataType.simpleString()}"
        " (driver canonicalizer crashes on container columns; serialize "
        "with array_join/to_json)"
        for f in schema.fields
        if not isinstance(f.dataType, (T.AtomicType, T.NullType))
    ]


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [
        tuple(_norm_cell(df.iloc[i][c]) for c in cols) for i in range(len(df))
    ]
    return sorted(rows, key=repr)


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty == pass)."""
    problems: list[str] = []
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        problems.append(f"column mismatch: spark={s_cols} oracle={o_cols}")
        return problems
    # The driver's value-hash renders cells, so an int column on one side vs
    # a float column on the other (DuckDB SUM(int) -> HUGEINT -> float64)
    # hash-mismatches even when every value compares equal (3 == 3.0). Flag
    # dtype-kind disagreement between integer and float columns here so the
    # defect fails locally instead of only at the driver gate.
    for c in s_cols:
        sk, ok = spark_pdf[c].dtype.kind, oracle_pdf[c].dtype.kind
        if {sk, ok} in ({"i", "f"}, {"u", "f"}):
            problems.append(
                f"dtype kind mismatch on '{c}': spark={spark_pdf[c].dtype} "
                f"oracle={oracle_pdf[c].dtype} (driver value-hash would differ; "
                "CAST the oracle output to BIGINT)"
            )
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    s_rows, o_rows = canonical_rows(spark_pdf), canonical_rows(oracle_pdf)
    n_bad = 0
    for i, (a, b) in enumerate(zip(s_rows, o_rows)):
        if a != b:
            n_bad += 1
            if n_bad <= 5:
                problems.append(f"row {i}: spark={a!r} oracle={b!r}")
    if n_bad > 5:
        problems.append(f"... {n_bad} mismatched rows total")
    return problems


def run_pair(spark, sf_dir: str, query_fn, oracle: str) -> list[str]:
    """Compare the rows of ``query_fn(spark, sf_dir)`` with the ``oracle``
    SQL's rows over the same ``sf_dir`` (empty == pass)."""
    spark_pdf = query_fn(spark, sf_dir).toPandas()
    con = duckdb_connect(sf_dir)
    try:
        oracle_pdf = con.execute(oracle).fetchdf()
    finally:
        con.close()
    problems = compare_frames(spark_pdf, oracle_pdf)
    if not problems and len(spark_pdf) == 0:
        # Two empty results "match" vacuously -- that's how a filter
        # window that misses the data range hides a broken query (it
        # happened: TPC-H 1993/94 dates vs a 1995-2001 corpus).
        problems.append("both sides returned 0 rows: vacuous match")
    return problems
