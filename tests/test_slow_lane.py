"""The default lane's @slow deselection (tests/conftest.py) must never turn
an explicit selection into a green run of zero tests."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import REPO_ROOT

SLOW_FILE = "tests/test_streaming.py"  # every test in it is @slow
SLOW_TEST = f"{SLOW_FILE}::test_multibatch_agg_equals_batch"


def _collect(*args: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "USHAS_RUN_SLOW"}
    return subprocess.run(
        [sys.executable, "-m", "pytest", "-p", "no:cacheprovider", "--collect-only", "-q", *args],
        cwd=REPO_ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_slow_test_chosen_by_node_id_is_collected():
    r = _collect(SLOW_TEST)
    assert r.returncode == 0, r.stdout + r.stderr
    assert "1 test collected" in r.stdout


def test_marker_expression_naming_slow_is_honoured():
    r = _collect(SLOW_FILE, "-m", "slow")
    assert r.returncode == 0, r.stdout + r.stderr
    assert "deselected" not in r.stdout


def test_all_deselected_run_fails():
    r = _collect(SLOW_FILE)
    assert r.returncode != 0, r.stdout
    assert "USHAS_RUN_SLOW=1" in r.stdout + r.stderr


def test_default_lane_still_drops_slow_tests():
    r = _collect(SLOW_FILE, "tests/test_session.py")
    assert r.returncode == 0, r.stdout + r.stderr
    assert "deselected" in r.stdout
    assert "test_streaming" not in r.stdout
