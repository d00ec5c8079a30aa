"""Column-level lineage engine -- the reference fork's novel feature,
rebuilt in pure Python over PySpark's analyzed logical plan.

Reference implementation (all under /root/reference/):
- lineage node model: sql/catalyst/src/main/scala/org/apache/spark/sql/
  catalyst/lineage/{Column,ExpressionColumn,RelationColumn,UnionColumn}.scala
- resolution rules: sql/catalyst/.../analysis/ResolveLineage.scala:29-136
  (ResolveRelation for leaves, ResolveExpression for Project/Union,
  pass-through concat for everything else)
- plan hook: analysis/Analyzer.scala:211-213 ("LineageTrack" batch)

Our design departs from the fork deliberately (SURVEY.md section 2.11):
instead of injecting Analyzer rules (which the fork itself documents as
unsatisfactory via SparkSessionExtensions -- examples/.../lineage/extension/
Example.scala:46-53), we resolve ``df._jdf.queryExecution().analyzed()``
post hoc from its JSON form (one py4j call, plus leaf identity; see
``extract.py``). Same input (the analyzed plan), no fork, and we extend
coverage to Aggregate / Window / Generate named outputs and n-ary Union --
the exact gaps the reference README invites fixing ("你可以做的事" 1/4).

Usage::

    from ushas_spark.lineage import lineage
    g = lineage(df)
    print(g.tree_string())
    g.to_json()
    g.edges()   # [(output_column, source_relation, source_column), ...]
"""

from ushas_spark.lineage.extract import lineage
from ushas_spark.lineage.model import (
    ExpressionColumn,
    LineageColumn,
    LineageGraph,
    RelationColumn,
    UnionColumn,
)

__all__ = [
    "lineage",
    "LineageGraph",
    "LineageColumn",
    "ExpressionColumn",
    "RelationColumn",
    "UnionColumn",
]
