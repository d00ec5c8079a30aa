"""Tests for bench.py: its host-state note and its stdout contract.

The loadavg / steal helpers are pure driver-side logic (no Spark). The
contract test runs bench.py end to end on one query in a subprocess.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench

def test_loadavg_returns_triple_or_none():
    got = bench._loadavg()
    # On this Linux box it must be a real reading; the None branch is
    # for platforms without getloadavg (covered below by monkeypatch).
    assert got is None or (len(got) == 3 and all(x >= 0 for x in got))


def test_loadavg_none_when_platform_lacks_it(monkeypatch):
    def boom():
        raise OSError("no loadavg here")

    monkeypatch.setattr(bench.os, "getloadavg", boom)
    assert bench._loadavg() is None


def test_cpu_times_reads_proc_stat_on_linux():
    got = bench._cpu_times()
    assert got is None or (len(got) >= 8 and all(x >= 0 for x in got))


def test_steal_pct_from_snapshots():
    start = [100, 0, 50, 800, 0, 0, 0, 50]
    end = [200, 0, 100, 1500, 0, 0, 0, 100]  # delta total 900, steal 50
    assert bench._steal_pct(start, end) == round(100 * 50 / 900, 2)
    assert bench._steal_pct(None, end) is None
    assert bench._steal_pct(start, None) is None
    assert bench._steal_pct(start, start) is None  # zero window
    assert bench._steal_pct([1, 2], [3, 4]) is None


def test_steal_pct_excludes_guest_fields():
    # guest (field 9) is already folded into user by the kernel; a
    # denominator summing it double-counts guest time (ADVICE r11).
    start = [100, 0, 50, 800, 0, 0, 0, 50, 0, 0]
    end = [200, 0, 100, 1500, 0, 0, 0, 100, 100, 0]
    assert bench._steal_pct(start, end) == round(100 * 50 / 900, 2)


def _tree_state() -> object:
    """`git status --porcelain` of the repo; outside a git checkout, the
    top-level files with their mtimes (where bench.py writes its detail)."""
    proc = subprocess.run(
        ["git", "status", "--porcelain"], cwd=REPO, capture_output=True, text=True
    )
    if proc.returncode == 0:
        return proc.stdout
    return sorted(
        (p, os.stat(p).st_mtime_ns) for p in glob.glob(os.path.join(REPO, "*"))
    )


def test_cli_subset_run_prints_contract_line_and_writes_nothing(sf_dir, tmp_path):
    before = _tree_state()
    env = dict(
        os.environ, SPARK_GRAFT_SF_DIR=sf_dir, USHAS_BENCH_QUERIES="q1_pricing_summary"
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {
        "metric", "value", "unit", "queries", "sf",
        "loadavg_start", "loadavg_end", "cpu_steal_pct",
    }
    assert list(out["queries"]) == ["q1_pricing_summary"]
    assert out["value"] == out["queries"]["q1_pricing_summary"] > 0
    assert out["unit"] == "sec"
    assert _tree_state() == before
