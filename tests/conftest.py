from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from ushas_spark.session import get_spark  # noqa: E402

# Small SF for the fast unit loop; set USHAS_TEST_SF=/root/testdata/sf0.01
# to run the oracle harness at the driver's gate scale.
SF_DIR = os.environ.get("USHAS_TEST_SF", "/root/testdata/sf0.001")


def pytest_configure(config):
    # Registered here because the repo has no pytest.ini: xdist_group is
    # meaningful under pytest-xdist --dist loadgroup and harmless without.
    config.addinivalue_line(
        "markers",
        "xdist_group(name): pin tests to one pytest-xdist worker",
    )
    config.addinivalue_line(
        "markers",
        "slow: heavyweight conformance/execution twins, deselected from "
        "the default lane (opt in with USHAS_RUN_SLOW=1)",
    )


def pytest_collection_modifyitems(config, items):
    """Default lane excludes @pytest.mark.slow (r13, VERDICT r12 item 2).

    The full suite outgrew the driver's per-round pytest window (r12:
    truncated ~64% through a pass-only run -- a gate that cannot finish
    cannot protect). The slow marker covers the heavyweight
    execution-twin conformance suites whose semantics the driver's own
    oracle gate re-checks independently every round; plan-shape, regime
    -twin, unit and lint tests all stay in the default lane. Run
    EVERYTHING with USHAS_RUN_SLOW=1 (the builder does before closing a
    round):

        USHAS_RUN_SLOW=1 python -m pytest tests/ -x -q

    Explicit selection wins: a ``-m`` expression that names ``slow`` is
    left to pytest's own marker filter, and a slow test chosen by node id
    (``file.py::test``) runs. A run whose every collected test would be
    deselected fails instead of passing with nothing run.
    """
    if os.environ.get("USHAS_RUN_SLOW") == "1" or "slow" in config.option.markexpr:
        return
    chosen = _node_id_args(config)
    selected, deselected = [], []
    for item in items:
        slow = item.get_closest_marker("slow") and not _is_chosen(item.nodeid, chosen)
        (deselected if slow else selected).append(item)
    if deselected and not selected:
        raise pytest.UsageError(
            f"all {len(deselected)} collected tests are @slow and deselected; "
            "set USHAS_RUN_SLOW=1, pass -m slow or name the tests by node id"
        )
    if deselected:
        config.hook.pytest_deselected(items=deselected)
        items[:] = selected


def _node_id_args(config) -> list[str]:
    """Command-line args naming a test, class or parametrization
    (``path::name``), as rootdir-relative node ids."""
    ids = []
    for arg in config.args:
        path, sep, rest = arg.partition("::")
        if sep:
            rel = os.path.relpath(os.path.abspath(path), str(config.rootpath))
            ids.append(f"{rel.replace(os.sep, '/')}::{rest}")
    return ids


def _is_chosen(nodeid: str, chosen: list[str]) -> bool:
    return any(
        nodeid == c or nodeid.startswith((c + "::", c + "[")) for c in chosen
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ushas-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def _cold_cache_between_tests():
    """Clear the CacheManager after every test (ADVICE r08).

    Iterative operators pin loop-invariant tables via
    durability.pin_partitioned and deliberately leave them cached for
    the session (bench.py clears between queries); in the session-scoped
    pytest Spark those pins would otherwise accumulate, and CacheManager
    plan substitution would make plan-shape assertions test-order
    dependent. Cached data recomputes lazily, so this only costs the
    (tiny, sf0.001) recompute when a later test touches the same table.
    """
    yield
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.catalog.clearCache()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
