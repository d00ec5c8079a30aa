"""Bottom-up lineage resolution over the analyzed logical plan (py4j).

Re-implements the reference's two Analyzer rules as one post-hoc walk
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

Two execution paths with identical structure (names, exprIds, kinds,
sources, edges -- parity-tested in tests/test_lineage.py):

- **JSON fast path** (default): ONE ``plan.toJSON()`` py4j call supplies
  the whole tree -- node classes, expression trees, attribute names and
  exprIds -- and only leaf-identity extraction still touches JVM handles
  (``collectLeaves``, a handful of calls). On the heaviest TPC-H plans
  (q8, q17, q20, q21 at sf0.01; 4-core VM, best of 15) it takes 6-9 ms,
  provided the gateway connection has ``TCP_NODELAY``
  (``session.py4j_nodelay``, which ``lineage`` applies): the 17-49 kB
  JSON reply is longer than py4j's 8 KB write buffer. Expression display
  strings are rendered from the JSON expression tree (py4j ``.sql()`` is
  exactly the per-expression round-trip the fast path exists to avoid).
- **py4j walk** (fallback on any fast-path error, counted in
  ``FALLBACKS`` and warned once per exception type): the original
  per-node recursion, one round trip per node and expression; 11-32 ms
  on the same plans. Structure source of truth.
"""

from __future__ import annotations

import json
import threading
import warnings
from collections import Counter

from pyspark.sql import DataFrame

from ushas_spark.lineage.model import (
    ExpressionColumn,
    LineageColumn,
    LineageGraph,
    RelationColumn,
    UnionColumn,
)
from ushas_spark.session import py4j_nodelay

# Fast-path failures that fell back to the py4j walk, by exception type.
FALLBACKS: Counter[str] = Counter()
_FALLBACKS_LOCK = threading.Lock()


def lineage(df: DataFrame) -> LineageGraph:
    """Compute the per-output-column provenance forest of ``df``.

    The user-facing equivalent of the reference's
    ``df.queryExecution.analyzed.lineageChildren`` (README 效果展示 4).
    """
    py4j_nodelay(df.sparkSession)
    jplan = df._jdf.queryExecution().analyzed()
    try:
        cols = _resolve_json_plan(jplan)
    except Exception as e:
        kind = type(e).__name__
        with _FALLBACKS_LOCK:
            FALLBACKS[kind] += 1
            first = FALLBACKS[kind] == 1
        if first:
            warnings.warn(
                f"lineage JSON fast path failed ({kind}: {e}); "
                "using the slower py4j walk",
                RuntimeWarning,
                stacklevel=2,
            )
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


def _refs_of(jexpr) -> list[tuple[str, int]]:
    """All attribute references inside an expression -- the flattened
    ``collectLeaves`` semantics of the reference's findAllChildren."""
    refs = jexpr.references().toSeq()
    return [(a.name(), a.exprId().id()) for a in _seq(refs)]


def _sql_of(jexpr) -> str:
    try:
        return jexpr.sql()
    except Exception:
        return ""


def _named_to_column(jne, by_id: dict[int, LineageColumn]) -> ExpressionColumn:
    """One named output entry -> ExpressionColumn linked to the child
    lineage columns it references (reference ResolveLineage.scala:76-94)."""
    name = jne.name()
    eid = jne.exprId().id()
    children: list[LineageColumn] = []
    seen: set[int] = set()
    for _, ref_id in _refs_of(jne):
        if ref_id in seen:
            continue
        seen.add(ref_id)
        child = by_id.get(ref_id)
        if child is not None:
            children.append(child)
    cls_name = jne.getClass().getSimpleName()
    expression = "" if cls_name == "AttributeReference" else _sql_of(jne)
    return ExpressionColumn(name, eid, children, expression=expression)


def _leaf_source(jnode) -> str:
    """Best-effort identity of a leaf relation (reference attributes Hive
    tables via catalogTable -- ResolveHiveRelation.scala:11-39; we also
    cover file relations, ranges, local/RDD relations, streaming)."""
    cls = jnode.getClass().getSimpleName()
    try:
        if cls == "LogicalRelation":
            ct = jnode.catalogTable()
            if ct.isDefined():
                return str(ct.get().identifier().unquotedString())
            rel = jnode.relation()
            try:
                paths = rel.location().rootPaths()
                return ",".join(str(p) for p in _seq(paths))
            except Exception:
                rel_cls = str(rel.getClass().getSimpleName())
                if rel_cls == "JDBCRelation":
                    # JDBCRelation(tbl) [numPartitions=N] -- keep the
                    # table identity, drop the partitioning suffix.
                    return str(rel.toString()).split(" [")[0]
                return rel_cls
        if cls in ("HiveTableRelation", "UnresolvedCatalogRelation"):
            return str(jnode.tableMeta().identifier().unquotedString())
        if cls == "StreamingRelation":
            return f"Streaming:{jnode.sourceName()}"
        if cls == "StreamingRelationV2":
            return f"Streaming:{jnode.sourceName()}"
        if cls == "DataSourceV2Relation":
            return str(jnode.name())
    except Exception:
        pass
    return cls  # Range, LocalRelation, LogicalRDD, OneRowRelation, ...


# ---------------------------------------------------------------- resolver


def _resolve(jnode, cte_env: dict[int, list[LineageColumn]] | None = None) -> list[LineageColumn]:
    """Bottom-up lineage of one plan node (list aligned with the node's
    attribute surface, keyed by exprId). ``cte_env`` maps cteId -> the
    defining subplan's lineage, threaded through WithCTE scopes (Spark 3.2+
    analyzes CTEs to WithCTE/CTERelationDef/CTERelationRef rather than
    inlining -- a plan shape the reference, on 2.4, never sees)."""
    cte_env = cte_env or {}
    jchildren = _seq(jnode.children())
    name = jnode.nodeName()

    if name == "WithCTE":
        # children: CTERelationDef*, then the main plan. Defs can reference
        # earlier defs, so extend the env left to right.
        env = dict(cte_env)
        for jc in jchildren[:-1]:
            if jc.nodeName() == "CTERelationDef":
                env[jc.id()] = _resolve(jc, env)
        return _resolve(jchildren[-1], env)

    if name == "CTERelationRef":
        defs = cte_env.get(jnode.cteId())
        out_attrs = _seq(jnode.output())
        if defs is None:
            return [
                RelationColumn(a.name(), a.exprId().id(), source="CTERelationRef")
                for a in out_attrs
            ]
        cols: list[LineageColumn] = []
        for i, a in enumerate(out_attrs):
            # ref attrs align positionally with the def's output (fresh
            # exprIds when the CTE is referenced more than once).
            if i < len(defs):
                d = defs[i]
                if d.expr_id == a.exprId().id():
                    cols.append(d)
                else:
                    cols.append(ExpressionColumn(a.name(), a.exprId().id(), [d]))
            else:
                cols.append(RelationColumn(a.name(), a.exprId().id(), source="CTERelationRef"))
        return cols

    if not jchildren:  # ResolveRelation (reference :120-136)
        source = _leaf_source(jnode)
        return [
            RelationColumn(a.name(), a.exprId().id(), source=source)
            for a in _seq(jnode.output())
        ]

    child_lists = [_resolve(jc, cte_env) for jc in jchildren]
    child_lineage: list[LineageColumn] = [c for lst in child_lists for c in lst]
    by_id = _index_by_expr_id(child_lineage)

    if name == "Project":
        return [_named_to_column(ne, by_id) for ne in _seq(jnode.projectList())]

    if name == "Aggregate":
        # Extension: reference passes Aggregate through (README 你可以做的事 1).
        return [
            _named_to_column(ne, by_id) for ne in _seq(jnode.aggregateExpressions())
        ]

    if name == "Window":
        # Window output = child output ++ window expressions.
        return child_lineage + [
            _named_to_column(ne, by_id) for ne in _seq(jnode.windowExpressions())
        ]

    if name == "Generate":
        # Generated attrs derive from the generator's references; the
        # child's columns pass through alongside.
        gen_refs: list[LineageColumn] = []
        seen: set[int] = set()
        for _, rid in _refs_of(jnode.generator()):
            if rid not in seen and rid in by_id:
                seen.add(rid)
                gen_refs.append(by_id[rid])
        gen_expr = _sql_of(jnode.generator())
        generated = [
            ExpressionColumn(a.name(), a.exprId().id(), list(gen_refs), expression=gen_expr)
            for a in _seq(jnode.generatorOutput())
        ]
        return child_lineage + generated

    if name == "Union":
        # n-ary zip (reference :96-107 handles exactly 2 branches).
        branches = child_lists
        width = min(len(b) for b in branches)
        out_attrs = _seq(jnode.output())
        cols = []
        for i in range(width):
            aligned = [b[i] for b in branches]
            lead = out_attrs[i] if i < len(out_attrs) else None
            nm = lead.name() if lead is not None else aligned[0].name
            eid = lead.exprId().id() if lead is not None else aligned[0].expr_id
            cols.append(UnionColumn(nm, eid, aligned))
        return cols

    # Everything else (Filter, Join, Sort, Limit, SubqueryAlias, Distinct,
    # Repartition, EventTimeWatermark, ...) passes through: concat of
    # children's lineage (reference :108-116).
    return child_lineage


# ---------------------------------------------------- JSON fast path

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


def _json_refs(obj) -> list[tuple[str, int]]:
    """All AttributeReference (name, exprId) pairs anywhere inside an
    expression's JSON -- the flattened ``references`` semantics. May
    over-collect inside nested subquery plans; the by_id lookup at the
    use site keeps only ids present in the child lineage, mirroring the
    py4j path's behavior."""
    refs: list[tuple[str, int]] = []

    def walk(v) -> None:
        if isinstance(v, dict):
            if (
                str(v.get("class", "")).endswith(".AttributeReference")
                and "exprId" in v
            ):
                refs.append((v["name"], int(v["exprId"]["id"])))
            for val in v.values():
                walk(val)
        elif isinstance(v, list):
            for val in v:
                walk(val)

    walk(obj)
    return refs


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
    out = []
    for flat in field or []:
        top = flat[0]
        out.append((top["name"], int(top["exprId"]["id"])))
    return out


def _named_json(flat: list, by_id: dict[int, LineageColumn]) -> ExpressionColumn:
    """One named-expression flat list -> ExpressionColumn (the JSON twin
    of ``_named_to_column``)."""
    top = flat[0]
    name = top.get("name", "?")
    eid = int(top["exprId"]["id"])
    children: list[LineageColumn] = []
    seen: set[int] = set()
    for _, ref_id in _json_refs(flat):
        if ref_id in seen:
            continue
        seen.add(ref_id)
        child = by_id.get(ref_id)
        if child is not None:
            children.append(child)
    if _cls(top) == "AttributeReference":
        expression = ""
    else:
        (tree, _) = _take_tree(flat, 0)
        expression = _render_expr(*tree)
    return ExpressionColumn(name, eid, children, expression=expression)


def _resolve_json_plan(jplan) -> list[LineageColumn]:
    """Fast-path lineage: structure from ONE ``toJSON`` round-trip; JVM
    handles touched only for leaf relation identity (``collectLeaves``,
    pre-order -- the same order leaves appear in the JSON tree)."""
    flat = json.loads(jplan.toJSON())
    (tree, end) = _take_tree(flat, 0)
    if end != len(flat):
        raise ValueError("unconsumed plan nodes")
    jleaves = _seq(jplan.collectLeaves())
    sources = [_leaf_source(j) for j in jleaves]
    leaf_i = {"i": 0}

    def resolve(node: dict, kids: list, cte_env: dict[int, list[LineageColumn]]):
        cls = _cls(node)

        if cls == "WithCTE":
            env = dict(cte_env)
            for knode, kkids in kids[:-1]:
                if _cls(knode) == "CTERelationDef":
                    env[int(knode["id"])] = resolve(knode, kkids, env)
            return resolve(*kids[-1], env)

        if cls == "CTERelationRef":
            defs = cte_env.get(int(node["cteId"]))
            out_attrs = _attr_seq(node.get("output"))
            if defs is None:
                return [
                    RelationColumn(nm, eid, source="CTERelationRef")
                    for nm, eid in out_attrs
                ]
            cols: list[LineageColumn] = []
            for i, (nm, eid) in enumerate(out_attrs):
                if i < len(defs):
                    d = defs[i]
                    cols.append(
                        d
                        if d.expr_id == eid
                        else ExpressionColumn(nm, eid, [d])
                    )
                else:
                    cols.append(RelationColumn(nm, eid, source="CTERelationRef"))
            return cols

        if not kids:  # leaf: align with collectLeaves() pre-order
            idx = leaf_i["i"]
            leaf_i["i"] += 1
            source = sources[idx] if idx < len(sources) else cls
            return [
                RelationColumn(nm, eid, source=source)
                for nm, eid in _attr_seq(node.get("output"))
            ]

        child_lists = [resolve(kn, kk, cte_env) for kn, kk in kids]
        child_lineage = [c for lst in child_lists for c in lst]
        by_id = _index_by_expr_id(child_lineage)

        if cls == "Project":
            return [_named_json(fl, by_id) for fl in node["projectList"]]

        if cls == "Aggregate":
            return [
                _named_json(fl, by_id) for fl in node["aggregateExpressions"]
            ]

        if cls == "Window":
            return child_lineage + [
                _named_json(fl, by_id) for fl in node["windowExpressions"]
            ]

        if cls == "Generate":
            gen_refs: list[LineageColumn] = []
            seen: set[int] = set()
            for _, rid in _json_refs(node.get("generator")):
                if rid not in seen and rid in by_id:
                    seen.add(rid)
                    gen_refs.append(by_id[rid])
            gen_flat = node.get("generator") or []
            gen_expr = _render_expr(*_take_tree(gen_flat, 0)[0]) if gen_flat else ""
            generated = [
                ExpressionColumn(nm, eid, list(gen_refs), expression=gen_expr)
                for nm, eid in _attr_seq(node.get("generatorOutput"))
            ]
            return child_lineage + generated

        if cls == "Union":
            branches = child_lists
            width = min(len(b) for b in branches)
            return [
                UnionColumn(
                    branches[0][i].name,
                    branches[0][i].expr_id,
                    [b[i] for b in branches],
                )
                for i in range(width)
            ]

        return child_lineage

    return resolve(*tree, {})
