"""Session-stable lineage digests, and the fixture that pins them.

``tests/lineage_digests.json`` maps every registered query, plus the
ad-hoc plan shapes of ``adhoc_plans``, to the digest of its lineage
graph. ``tests/test_oracle.py`` checks every registered query against
it, ``tests/test_lineage.py`` the ad-hoc plans.

The digest is the sha256 of a canonical tree that keeps only what
provenance means. Per node it keeps ``kind``, ``name`` and, for a
RelationColumn, the short source (``nation``, not the file path, so the
digest does not depend on the scale factor). Children are sorted by
their canonical JSON. It drops exprIds, which are fresh per analysis,
and expression display strings, which are display-only.

Rewrite the fixture only when a change alters lineage on purpose::

    python -m tests.lineage_digest
"""

from __future__ import annotations

import hashlib
import json
import os

from ushas_spark.lineage.model import LineageColumn, LineageGraph, RelationColumn, _short_source

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "lineage_digests.json")


def canonical(col: LineageColumn) -> dict:
    """One lineage node as an order-free, id-free dict."""
    d: dict = {"kind": col.kind, "name": col.name}
    if isinstance(col, RelationColumn):
        d["source"] = _short_source(col.source)
    kids = [canonical(c) for c in col.children]
    if kids:
        d["children"] = sorted(kids, key=_dumps)
    return d


def digest(graph: LineageGraph) -> str:
    """sha256 over the canonical trees of the output columns, in output order."""
    return hashlib.sha256(_dumps([canonical(c) for c in graph.columns]).encode()).hexdigest()


def load() -> dict[str, str]:
    with open(FIXTURE, encoding="utf-8") as fh:
        return json.load(fh)


def _dumps(obj) -> str:
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))


def adhoc_plans(spark, sf_dir: str) -> dict:
    """Plan shapes outside the registry: multi-join + aggregate, window,
    union, generate, and a CTE referenced twice."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from ushas_spark.io import load_table

    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    o = load_table(spark, sf_dir, "orders")
    return {
        "adhoc_join_aggregate": n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n"), F.max("n_name").alias("top")),
        "adhoc_window": o.select(
            "o_custkey",
            F.row_number().over(W.partitionBy("o_custkey").orderBy("o_orderdate")).alias("rn"),
        ),
        "adhoc_union": n.select(F.col("n_name").alias("x")).union(
            n.select(F.col("n_name").alias("x"))
        ),
        "adhoc_explode": n.select(
            "n_nationkey", F.explode(F.split(F.col("n_name"), " ")).alias("w")
        ),
        "adhoc_cte_self_join": spark.sql(
            "WITH t AS (SELECT n_regionkey, COUNT(*) AS c FROM {n} GROUP BY 1) "
            "SELECT a.c FROM t a JOIN t b ON a.n_regionkey = b.n_regionkey",
            n=n,
        ),
    }


def main() -> None:
    import __spark_entry__ as entrymod
    from ushas_spark.lineage import lineage
    from ushas_spark.session import get_spark
    from tests.conftest import SF_DIR
    from tests.regime_twin import release

    spark = get_spark("lineage-digests", shuffle_partitions=8)
    out: dict[str, str] = {}
    for name, fn in sorted(entrymod.queries().items()):
        out[name] = digest(lineage(fn(spark, SF_DIR)))
        release(spark)
    for name, df in adhoc_plans(spark, SF_DIR).items():
        out[name] = digest(lineage(df))
    with open(FIXTURE, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(out)} digests to {FIXTURE}")
    spark.stop()


if __name__ == "__main__":
    main()
