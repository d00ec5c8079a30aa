"""TPC-DS / SSB analyze-and-plan sweep (the reference's benchmark-suite
methodology).

The reference compiles every TPC-DS (v1.4 + v2.7 + modified) and Star
Schema Benchmark query against empty typed tables and asserts the whole
pipeline -- parse, analyze, optimize, physical planning, codegen -- runs
without error (``sql/core/src/test/scala/org/apache/spark/sql/
TPCDSQuerySuite.scala:27``, ``SSBQuerySuite.scala:27``,
``BenchmarkQueryTest.scala:28``). This is plan validation, not execution:
it proves the SQL surface (syntax, name resolution, type coercion,
subquery rewriting, join planning) covers two full public benchmark
dialects beyond the TPC-H set we run end-to-end.

We replay the same methodology on PySpark: the CREATE TABLE DDL embedded
in the reference suites (public TPC-DS/SSB spec schemas) is extracted
from the suite source at test time, the tables are created empty, every
``.sql`` resource is driven through ``spark.sql`` to a physical plan, and
-- beyond the reference -- our lineage extractor must walk every analyzed
plan (103 + 32 + 21 + 13 + 22 TPC-H = 191 plans is the hardest lineage
stress test in the repo: deep CTEs, correlated subqueries, rollups,
windows).
"""

from __future__ import annotations

import os
import re

import pytest

from ushas_spark.lineage import lineage

REF = "/root/reference/sql/core/src/test/scala/org/apache/spark/sql"
RES = "/root/reference/sql/core/src/test/resources"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(RES), reason="reference resources not available"
)


def _ddl_blocks(suite_file: str) -> list[str]:
    """Extract the CREATE TABLE statements a reference suite issues in
    beforeAll (triple-quoted stripMargin blocks)."""
    with open(suite_file, encoding="utf-8") as fh:
        src = fh.read()
    blocks = re.findall(r'"""(.*?)"""', src, flags=re.DOTALL)
    ddl = []
    for b in blocks:
        text = "\n".join(
            line.split("|", 1)[1] if "|" in line else line
            for line in b.splitlines()
        ).strip()
        if text.upper().startswith("CREATE TABLE"):
            ddl.append(text)
    return ddl


def _queries(subdir: str) -> list[str]:
    """Query names of one resource directory; none when the reference
    checkout is absent, so the module's skipif applies."""
    d = os.path.join(RES, subdir)
    if not os.path.isdir(d):
        return []
    return sorted(
        f[:-4] for f in os.listdir(d) if f.endswith(".sql")
    )


@pytest.fixture(scope="module")
def tpcds_db(spark, tmp_path_factory):
    """Empty TPC-DS tables in a scratch database (reference schema DDL)."""
    prev = spark.catalog.currentDatabase()
    spark.sql("CREATE DATABASE IF NOT EXISTS tpcds_lint")
    spark.catalog.setCurrentDatabase("tpcds_lint")
    for ddl in _ddl_blocks(os.path.join(REF, "TPCDSQuerySuite.scala")):
        spark.sql(ddl)
    yield "tpcds_lint"
    spark.catalog.setCurrentDatabase(prev)
    spark.sql("DROP DATABASE tpcds_lint CASCADE")


@pytest.fixture(scope="module")
def ssb_db(spark, tmp_path_factory):
    prev = spark.catalog.currentDatabase()
    spark.sql("CREATE DATABASE IF NOT EXISTS ssb_lint")
    spark.catalog.setCurrentDatabase("ssb_lint")
    for ddl in _ddl_blocks(os.path.join(REF, "SSBQuerySuite.scala")):
        spark.sql(ddl)
    yield "ssb_lint"
    spark.catalog.setCurrentDatabase(prev)
    spark.sql("DROP DATABASE ssb_lint CASCADE")


def _compile_one(spark, subdir: str, name: str) -> None:
    with open(os.path.join(RES, subdir, f"{name}.sql"), encoding="utf-8") as fh:
        text = fh.read()
    # Dialect note: the queries were authored for Spark 2.4 (ANSI off).
    # One resource (tpcds/q32.sql) carries a malformed date literal
    # ('2000-01-27]') that 2.4 constant-folds to null; Spark 4's default
    # ANSI mode correctly rejects it at optimization time. Sweep with
    # ANSI off to validate the same 169-query surface the reference does.
    prev_ansi = spark.conf.get("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        df = spark.sql(text)
        _check_plan(spark, subdir, name, df)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev_ansi)


def _check_plan(spark, subdir: str, name: str, df) -> None:
    # Analysis: resolves names/types or raises.
    assert df.schema.fields, f"{subdir}/{name}: empty schema"
    # Optimizer + physical planning (the reference's "compiled" check).
    qe = df._jdf.queryExecution()
    assert qe.sparkPlan() is not None
    # Beyond the reference: the lineage walker must handle every plan.
    graph = lineage(df)
    assert len(graph.columns) == len(df.schema.fields), (
        f"{subdir}/{name}: lineage produced {len(graph.columns)} roots "
        f"for {len(df.schema.fields)} output columns"
    )


@pytest.mark.parametrize("name", _queries("tpcds"))
def test_tpcds_compiles(spark, tpcds_db, name):
    _compile_one(spark, "tpcds", name)


@pytest.mark.parametrize("name", _queries("tpcds-v2.7.0"))
def test_tpcds_v2_7_compiles(spark, tpcds_db, name):
    _compile_one(spark, "tpcds-v2.7.0", name)


@pytest.mark.parametrize("name", _queries("tpcds-modifiedQueries"))
def test_tpcds_modified_compiles(spark, tpcds_db, name):
    _compile_one(spark, "tpcds-modifiedQueries", name)


@pytest.mark.parametrize("name", _queries("ssb"))
def test_ssb_compiles(spark, ssb_db, name):
    _compile_one(spark, "ssb", name)


@pytest.fixture(scope="module")
def tpch_db(spark, tmp_path_factory):
    """Empty TPC-H tables under the reference's EXACT DDL (DECIMAL(10,0)
    money).  test_tpch_execution runs all 22 texts value-exact on a
    spec-typed fixture; this sweep additionally replays the reference's
    own TPCHQuerySuite.scala:28 compile methodology verbatim, schema
    included, and walks every plan with the lineage extractor."""
    prev = spark.catalog.currentDatabase()
    spark.sql("CREATE DATABASE IF NOT EXISTS tpch_lint")
    spark.catalog.setCurrentDatabase("tpch_lint")
    for ddl in _ddl_blocks(os.path.join(REF, "TPCHQuerySuite.scala")):
        spark.sql(ddl)
    yield "tpch_lint"
    spark.catalog.setCurrentDatabase(prev)
    spark.sql("DROP DATABASE tpch_lint CASCADE")


@pytest.mark.parametrize("name", _queries("tpch"))
def test_tpch_compiles(spark, tpch_db, name):
    _compile_one(spark, "tpch", name)
