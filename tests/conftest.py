from __future__ import annotations

import os
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
# marked ``@pytest.mark.slow`` at their definition (77 tests, each >= 10 s
# in the measured run, 3,042 s combined — the hypothesis fuzz/property
# gates and the heaviest end-to-end streaming parities), keeping the full
# 216-contract oracle gate (test_contracts) and every unit/semantics test.
#
# SHUTTLE_FULL_TESTS=1 runs everything (the full gate).  The slow tests
# are NOT weaker duplicates — they are the deep fuzz tier and must stay
# green; they run in the full gate.
# ---------------------------------------------------------------------------


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: deep fuzz/parity tier, deselected unless SHUTTLE_FULL_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SHUTTLE_FULL_TESTS"):
        return
    keep, dropped = [], []
    for item in items:
        (dropped if item.get_closest_marker("slow") else keep).append(item)
    if dropped:
        config.hook.pytest_deselected(items=dropped)
        items[:] = keep
