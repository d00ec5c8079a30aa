"""Registry hygiene: the query/oracle surface and the repo's evidence.

The registry serves queries in registration order; these checks keep its
one hand-kept list (the rows-only allowance) honest, flag any committed
driver CORRECTNESS row that went red and was never re-certified, and keep
round history out of ``tools/`` and duplicate budgets out of the package.
"""

from __future__ import annotations

import ast
import fnmatch
import json
import os
import re

from ushas_spark import registry

registry.load_all()

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_rows_only_tail_names_exist_and_lack_oracles():
    stale = registry._ROWS_ONLY - set(registry.QUERIES)
    assert not stale, f"_ROWS_ONLY names not in registry: {sorted(stale)}"
    oracled = registry._ROWS_ONLY & set(registry.ORACLE)
    assert not oracled, (
        f"rows-only queries now have oracles -- unpark them: {sorted(oracled)}"
    )


def test_every_oracle_has_a_query():
    orphans = set(registry.ORACLE) - set(registry.QUERIES)
    assert not orphans


def test_all_no_oracle_queries_are_parked():
    missing = set(registry.QUERIES) - set(registry.ORACLE)
    unparked = missing - registry._ROWS_ONLY
    assert not unparked, (
        "queries without oracles must be in _ROWS_ONLY (or gain an "
        f"oracle): {sorted(unparked)}"
    )


def test_latest_driver_row_of_every_query_is_green():
    """Each name's latest committed driver CORRECTNESS row is green: a
    hash match, or the by-design rows-only marker (``err == "no_oracle"``
    with a row count). A red row stands until a later round re-certifies
    the name."""
    latest = {}
    rounds = sorted(
        (int(m.group(1)), f)
        for f in os.listdir(REPO)
        if (m := re.match(r"^CORRECTNESS_r(\d+)\.json$", f))
    )
    assert rounds, "no CORRECTNESS_rNN.json evidence in the repo root"
    for rnd, fname in rounds:
        with open(os.path.join(REPO, fname), encoding="utf-8") as fh:
            for name, row in json.load(fh).items():
                latest[name] = (rnd, row)
    red = {
        name: (rnd, row.get("err"))
        for name, (rnd, row) in latest.items()
        if not (
            row.get("hash_match")
            or (row.get("err") == "no_oracle" and row.get("spark_rows") is not None)
        )
    }
    assert not red, f"driver rows red in their latest round: {red}"


def test_tools_hold_no_round_stamped_scripts():
    """Round history lives in git and OPTIMIZATION_r*.md, not in one-off
    tools/*_rNN.py probes: plan dumps go through tools/dump_plans.py."""
    tools = os.listdir(os.path.join(REPO, "tools"))
    stamped = fnmatch.filter(tools, "*_r[0-9][0-9]*.py")
    assert not stamped, f"round-stamped scripts in tools/: {sorted(stamped)}"


def test_no_repeated_code_windows():
    """No 8-line window of stripped, non-blank lines appears twice under
    ``ushas_spark/``: a repeated block becomes one shared function or SQL
    fragment."""
    window = 8
    seen: dict[tuple[str, ...], str] = {}
    repeats = []
    for root, _, files in os.walk(os.path.join(REPO, "ushas_spark")):
        for fname in sorted(fnmatch.filter(files, "*.py")):
            path = os.path.join(root, fname)
            with open(path) as f:
                lines = [(i, s) for i, line in enumerate(f, 1) if (s := line.strip())]
            for j in range(len(lines) - window + 1):
                key = tuple(s for _, s in lines[j : j + window])
                here = f"{os.path.relpath(path, REPO)}:{lines[j][0]}"
                if key in seen:
                    repeats.append(f"{here} repeats {seen[key]}")
                else:
                    seen[key] = here
    assert not repeats, repeats


def test_one_broadcast_budget():
    """Every size-gated regime reads durability.BROADCAST_MAX_ROWS through
    durability.broadcast_fits; no module keeps its own *_BROADCAST_MAX_*."""
    copies = []
    for root, _, files in os.walk(os.path.join(REPO, "ushas_spark")):
        for fname in fnmatch.filter(files, "*.py"):
            path = os.path.join(root, fname)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
                    if fnmatch.fnmatchcase(node.id, "*_BROADCAST_MAX_*"):
                        copies.append(f"{os.path.relpath(path, REPO)}: {node.id}")
    assert not copies, copies
