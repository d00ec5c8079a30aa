"""Bottom-up lineage resolution over the analyzed logical plan.

Re-implements the reference's two Analyzer rules as one post-hoc pass
(reference: analysis/ResolveLineage.scala):

- ``ResolveRelation`` (:120-136): every leaf node's output attributes
  become RelationColumns.
- ``ResolveExpression`` (:29-118): Project builds an ExpressionColumn per
  project-list entry, matching each referenced attribute to the child's
  lineage column with the same exprId via a hash map (``fetchRelation``
  :32-43, ``findAllChildren`` :51-74 -- which flattens intermediate
  expression structure, so ``substr(a+1,0,1) AS c`` yields ``c <- a``);
  Union zips branch lineages into UnionColumns (:96-107); every other
  non-leaf concatenates its children's lineage (:108-116).

Deliberate extensions over the reference (SURVEY.md section 2.11 "fix, not
copy"): Aggregate aggregateExpressions, Window windowExpressions, and
Generate generatorOutput are treated like project lists (the reference
passes them through, losing column-level precision); Union is n-ary; no
debug printlns; literal-only expressions don't crash (the reference's
ExpressionColumn throws MatchError on non-named leaves, :41-53).

Everything here is driver-side plan metadata: cost is O(plan size),
independent of data scale (BASELINE.md target <100ms/query).

One resolver: ONE ``plan.toJSON()`` py4j call supplies the whole tree
(node classes, expression trees, attribute names, exprIds). Only leaf
identity touches JVM handles: ``collectLeaves`` lists the leaves in the
JSON tree's pre-order, ``CTERelationRef`` included, and each JSON leaf
takes the next one after a class check. Any resolution error raises. An
expression column's children follow the expression tree, first reference
first; display strings are rendered from the JSON tree, display-only.
On the heaviest TPC-H plans (q8, q17, q20, q21 at sf0.01; 4-core VM)
a call makes 43-101 py4j round trips and takes 7-16 ms (best of 15),
given ``TCP_NODELAY`` on the gateway (``session.py4j_nodelay``, which
``lineage`` applies): the 17-49 kB JSON reply exceeds py4j's 8 KB write
buffer. Every registered query's lineage is pinned by a digest in
``tests/lineage_digests.json``.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from ushas_spark.lineage.model import (
    ExpressionColumn,
    LineageColumn,
    LineageGraph,
    RelationColumn,
    UnionColumn,
)
from ushas_spark.session import py4j_nodelay


def lineage(df: DataFrame) -> LineageGraph:
    """Compute the per-output-column provenance forest of ``df``.

    The user-facing equivalent of the reference's
    ``df.queryExecution.analyzed.lineageChildren`` (README 效果展示 4).
    """
    py4j_nodelay(df.sparkSession)
    jplan = df._jdf.queryExecution().analyzed()
    cols = _resolve(jplan)
    # The root's lineage list can be wider than the visible output (e.g.
    # Window appends internal duplicates); restrict to df.output order.
    out = jplan.output()
    by_id = _index_by_expr_id(cols)
    result = []
    for i in range(out.size()):
        attr = out.apply(i)
        eid = attr.exprId().id()
        col = by_id.get(eid)
        if col is None:  # unseen: conservatively a free relation column
            col = RelationColumn(attr.name(), eid, source="")
        result.append(col)
    return LineageGraph(result)


# ---------------------------------------------------------------- helpers


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _index_by_expr_id(cols: list[LineageColumn]) -> dict[int, LineageColumn]:
    """exprId -> lineage column; first occurrence wins (stable under the
    duplicated attrs a Window/self-join plan can carry)."""
    by_id: dict[int, LineageColumn] = {}
    for c in cols:
        by_id.setdefault(c.expr_id, c)
    return by_id


def _leaf_source(jnode, cls: str) -> str:
    """Identity of a leaf relation of class ``cls`` (reference attributes
    Hive tables via catalogTable -- ResolveHiveRelation.scala:11-39; we
    also cover file and JDBC relations and streaming sources). Any other
    leaf (Range, LocalRelation, LogicalRDD, OneRowRelation, ...) is
    identified by its class name."""
    if cls == "LogicalRelation":
        ct = jnode.catalogTable()
        if ct.isDefined():
            return str(ct.get().identifier().unquotedString())
        rel = jnode.relation()
        rel_cls = str(rel.getClass().getSimpleName())
        if rel_cls == "HadoopFsRelation":
            return str(rel.location().rootPaths().mkString(","))
        if rel_cls == "JDBCRelation":
            # JDBCRelation(tbl) [numPartitions=N] -- keep the table
            # identity, drop the partitioning suffix.
            return str(rel.toString()).split(" [")[0]
        return rel_cls
    if cls in ("HiveTableRelation", "UnresolvedCatalogRelation"):
        return str(jnode.tableMeta().identifier().unquotedString())
    if cls in ("StreamingRelation", "StreamingRelationV2"):
        return f"Streaming:{jnode.sourceName()}"
    if cls == "DataSourceV2Relation":
        return str(jnode.name())
    return cls


# ------------------------------------------------------------ plan JSON

# TreeNode.toJSON flattens a tree to a pre-order list of node objects,
# each with "num-children"; single-expression fields (condition,
# generator) hold one such flat list, expression-sequence fields
# (projectList, aggregateExpressions, windowExpressions, output,
# generatorOutput) hold a list of flat lists.


def _take_tree(flat: list, i: int):
    """Rebuild one subtree from the flat pre-order encoding."""
    node = flat[i]
    i += 1
    kids = []
    for _ in range(int(node.get("num-children", 0))):
        k, i = _take_tree(flat, i)
        kids.append(k)
    return (node, kids), i


def _cls(node: dict) -> str:
    return str(node.get("class", "")).rsplit(".", 1)[-1]


def _ref_ids(obj) -> list[int]:
    """The exprId of every AttributeReference anywhere inside an
    expression's JSON, in expression-tree order -- the flattened
    ``references`` semantics. May over-collect inside nested subquery
    plans; the by_id lookup at the use site keeps only ids present in
    the child lineage."""
    ids: list[int] = []

    def walk(v) -> None:
        if isinstance(v, dict):
            if str(v.get("class", "")).endswith(".AttributeReference") and "exprId" in v:
                ids.append(int(v["exprId"]["id"]))
            for val in v.values():
                walk(val)
        elif isinstance(v, list):
            for val in v:
                walk(val)

    walk(obj)
    return ids


_INFIX = {
    "Add": "+",
    "Subtract": "-",
    "Multiply": "*",
    "Divide": "/",
    "Remainder": "%",
    "And": "AND",
    "Or": "OR",
    "EqualTo": "=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
}


def _render_expr(node: dict, kids: list) -> str:
    """Display string for an expression JSON tree -- approximates
    Catalyst's ``.sql()`` for the common shapes without a py4j call.
    Display-only: provenance never depends on this string."""
    cls = _cls(node)
    if cls == "AttributeReference":
        return str(node.get("name", "?"))
    if cls == "Literal":
        v = node.get("value")
        if v is None:
            return "NULL"
        return f"'{v}'" if node.get("dataType") == "string" else str(v)
    if cls == "Alias":
        inner = _render_expr(*kids[0]) if kids else "?"
        return f"{inner} AS {node.get('name', '?')}"
    if cls in _INFIX and len(kids) == 2:
        return (
            f"({_render_expr(*kids[0])} {_INFIX[cls]} {_render_expr(*kids[1])})"
        )
    if cls == "Cast" and kids:
        return f"CAST({_render_expr(*kids[0])} AS {node.get('dataType', '?')})"
    args = ", ".join(_render_expr(*k) for k in kids)
    return f"{cls.lower()}({args})"


def _attr_seq(field) -> list[tuple[str, int]]:
    """An attribute-sequence field (leaf output, generatorOutput, CTE ref
    output) -> [(name, exprId)] in order."""
    return [(flat[0]["name"], int(flat[0]["exprId"]["id"])) for flat in field or []]


def _linked(expr, by_id: dict[int, LineageColumn]) -> list[LineageColumn]:
    """The child lineage columns an expression references, deduplicated,
    in expression-tree order."""
    children: dict[int, LineageColumn] = {}
    for ref_id in _ref_ids(expr):
        if ref_id in by_id:
            children.setdefault(ref_id, by_id[ref_id])
    return list(children.values())


def _named_column(flat: list, by_id: dict[int, LineageColumn]) -> ExpressionColumn:
    """One named-expression flat list -> ExpressionColumn linked to the
    child lineage columns it references (reference
    ResolveLineage.scala:76-94)."""
    top = flat[0]
    name = top.get("name", "?")
    eid = int(top["exprId"]["id"])
    children = _linked(flat, by_id)
    if _cls(top) == "AttributeReference":
        expression = ""
    else:
        (tree, _) = _take_tree(flat, 0)
        expression = _render_expr(*tree)
    return ExpressionColumn(name, eid, children, expression=expression)


# ---------------------------------------------------------------- resolver


def _resolve(jplan) -> list[LineageColumn]:
    """Lineage of the plan's root, aligned with its attribute surface and
    keyed by exprId. Structure comes from ONE ``toJSON`` round trip; JVM
    handles are touched only for leaf identity."""
    flat = json.loads(jplan.toJSON())
    (tree, end) = _take_tree(flat, 0)
    if end != len(flat):
        raise ValueError("unconsumed plan nodes")
    jleaves = iter(_seq(jplan.collectLeaves()))

    def take_leaf(node: dict):
        """The JVM leaf paired with this JSON leaf; both walks are pre-order."""
        jleaf = next(jleaves, None)
        if jleaf is None:
            raise ValueError(f"plan JSON has more leaves than the plan ({_cls(node)})")
        jcls = str(jleaf.getClass().getName())
        if jcls != node["class"]:
            raise ValueError(f"leaf class mismatch: JSON {node['class']}, plan {jcls}")
        return jleaf

    def resolve(node: dict, kids: list, cte_env: dict[int, list[LineageColumn]]):
        cls = _cls(node)

        if cls == "WithCTE":
            # Spark 3.2+ analyzes CTEs to WithCTE(CTERelationDef*, plan)
            # rather than inlining them -- a plan shape the reference, on
            # 2.4, never sees. Defs can reference earlier defs, so extend
            # the env left to right.
            env = dict(cte_env)
            for knode, kkids in kids[:-1]:
                env[int(knode["id"])] = resolve(knode, kkids, env)
            return resolve(*kids[-1], env)

        if cls == "CTERelationRef":
            take_leaf(node)
            defs = cte_env.get(int(node["cteId"]), [])
            cols: list[LineageColumn] = []
            for i, (nm, eid) in enumerate(_attr_seq(node.get("output"))):
                # ref attrs align positionally with the def's output (fresh
                # exprIds when the CTE is referenced more than once).
                if i >= len(defs):
                    cols.append(RelationColumn(nm, eid, source="CTERelationRef"))
                elif defs[i].expr_id == eid:
                    cols.append(defs[i])
                else:
                    cols.append(ExpressionColumn(nm, eid, [defs[i]]))
            return cols

        if not kids:  # ResolveRelation (reference :120-136)
            source = _leaf_source(take_leaf(node), cls)
            return [
                RelationColumn(nm, eid, source=source)
                for nm, eid in _attr_seq(node.get("output"))
            ]

        child_lists = [resolve(kn, kk, cte_env) for kn, kk in kids]
        child_lineage = [c for lst in child_lists for c in lst]
        by_id = _index_by_expr_id(child_lineage)

        if cls == "Project":
            return [_named_column(fl, by_id) for fl in node["projectList"]]

        if cls == "Aggregate":
            # Extension: reference passes Aggregate through (README 你可以做的事 1).
            return [_named_column(fl, by_id) for fl in node["aggregateExpressions"]]

        if cls == "Window":
            # Window output = child output ++ window expressions.
            return child_lineage + [_named_column(fl, by_id) for fl in node["windowExpressions"]]

        if cls == "Generate":
            # Generated attrs derive from the generator's references; the
            # child's columns pass through alongside.
            gen = node["generator"]
            refs = _linked(gen, by_id)
            expression = _render_expr(*_take_tree(gen, 0)[0])
            return child_lineage + [
                ExpressionColumn(nm, eid, list(refs), expression=expression)
                for nm, eid in _attr_seq(node["generatorOutput"])
            ]

        if cls == "Union":
            # n-ary zip (reference :96-107 handles exactly 2 branches).
            return [UnionColumn(c[0].name, c[0].expr_id, list(c)) for c in zip(*child_lists)]

        # Everything else (Filter, Join, Sort, Limit, SubqueryAlias, Distinct,
        # Repartition, EventTimeWatermark, ...) passes through: concat of
        # children's lineage (reference :108-116).
        return child_lineage

    cols = resolve(*tree, {})
    if next(jleaves, None) is not None:
        raise ValueError("plan has leaves the plan JSON does not")
    return cols
