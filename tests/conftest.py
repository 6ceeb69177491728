from __future__ import annotations

import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shuttle_spark import get_session  # noqa: E402

SMOKE_SF = "/root/testdata/sf0.001"
ORACLE_SF = os.environ.get("SHUTTLE_TEST_SF_DIR", SMOKE_SF)


@pytest.fixture(scope="session")
def spark():
    s = get_session("shuttle-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return ORACLE_SF


# ---------------------------------------------------------------------------
# Fast/full test tiers (round 13, VERDICT r12 item 2).
#
# The full suite takes ~3,600 s solo (measured 2026-08-17: 490 passed in
# 3681 s), too long for a routine verification run.  The default
# `python -m pytest tests/` run therefore DESELECTS the tests
# marked ``@pytest.mark.slow`` at their definition (80 tests, most >= 10 s
# in the measured run, 3,042 s combined — the hypothesis fuzz/property
# gates and the heaviest end-to-end streaming parities), keeping the full
# 216-contract oracle gate (test_contracts) and every unit/semantics test.
#
# SHUTTLE_FULL_TESTS=1 runs everything (the full gate).  The slow tests
# are NOT weaker duplicates — they are the deep fuzz tier and must stay
# green; they run in the full gate.
#
# So the slow tier cannot rot between full-gate runs, the default run
# keeps a rotating slice of about SLOW_SLICE slow tests: the sorted slow
# node ids are dealt into ceil(n / SLOW_SLICE) slices and the checkout's
# commit count (`git rev-list --count HEAD`, 0 without git) picks one,
# so every slow test runs by default within that many commits.
# ---------------------------------------------------------------------------

SLOW_SLICE = 10


def _commit_count() -> int:
    try:
        out = subprocess.run(
            ["git", "rev-list", "--count", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True,
            text=True,
            timeout=30,
        )
        return int(out.stdout.strip())
    except (OSError, ValueError, subprocess.SubprocessError):
        return 0


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: deep fuzz/parity tier, deselected unless SHUTTLE_FULL_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SHUTTLE_FULL_TESTS"):
        return
    slow = sorted(i.nodeid for i in items if i.get_closest_marker("slow"))
    n_slices = max(1, -(-len(slow) // SLOW_SLICE))
    rotated = set(slow[_commit_count() % n_slices :: n_slices])
    keep, dropped = [], []
    for item in items:
        slow_out = item.get_closest_marker("slow") and item.nodeid not in rotated
        (dropped if slow_out else keep).append(item)
    if dropped:
        config.hook.pytest_deselected(items=dropped)
        items[:] = keep
