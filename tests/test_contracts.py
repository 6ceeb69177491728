"""The t2 correctness gate, locally: every contract vs its DuckDB oracle.

Default SF is sf0.001 (fast smoke); set SHUTTLE_TEST_SF_DIR=/root/testdata/sf0.01
to run at the driver's gate scale.
"""

from __future__ import annotations

import pytest

from shuttle_spark.contracts import REGISTRY
from shuttle_spark.testing import compare, duckdb_views


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    return duckdb_views(sf_dir)


@pytest.mark.parametrize("name", list(REGISTRY))
def test_contract(name, spark, sf_dir, oracle_con):
    c = REGISTRY[name]
    df = c.build(spark, sf_dir)
    if c.oracle is None:
        # rows-only contract: must run and be schema-stable
        assert df.count() >= 0
        assert df.columns
        return
    msgs = compare(df, oracle_con, c.oracle)
    assert not msgs, f"{name}: " + "; ".join(msgs)


def test_full_outer_rewrite_exact_under_null_prices(spark):
    """The eager-aggregation rewrite in full_outer_nulls must reproduce
    the ROW-level sentinel semantics even when a custkey group mixes NULL
    and non-NULL o_totalprice (TPC-H never has NULL prices, so the oracle
    gate can't see this) — the per-row -1 sentinel folds into the partial
    aggregate, not after the join."""
    import shuttle_spark.contracts as C

    customer = spark.createDataFrame(
        [(1,), (2,), (3,)], "c_custkey bigint"
    )
    orders = spark.createDataFrame(
        [
            (10, 1, 100.5),   # matched, priced
            (11, 1, None),    # matched, NULL price in a mixed group
            (12, 5, None),    # orphan order, NULL price
            (13, 5, 7.9),     # orphan order, priced
        ],
        "o_orderkey bigint, o_custkey bigint, o_totalprice double",
    )
    tables = {"customer": customer, "orders": orders}
    orig = C.load_table
    C.load_table = lambda s, sf, name: tables[name]
    try:
        got = (
            C.REGISTRY["full_outer_nulls"].build(spark, "ignored").collect()[0]
        )
    finally:
        C.load_table = orig
    # row-level truth: (1,10,100)+(1,11,-1)+(5,12,-1)+(5,13,7)
    # + orderless custs 2,3 -> -1 each
    assert got["cnt"] == 6
    assert got["orphan_orders"] == 2
    assert got["orderless_custs"] == 2
    assert got["total_with_sentinel"] == 100 - 1 - 1 + 7 - 1 - 1


def test_fixture_dir_tracks_source_fingerprint(tmp_path):
    """_fixture_dir must change when the source table's bytes/mtime change
    — a regenerated testdata dir can never resurrect a fixture built from
    the previous corpus.  Stale generations are cleaned AGE-GATED (>2h):
    a same-vintage sibling process must never lose its live fixture, so a
    fresh stale dir survives and an hours-old one is removed.  The same
    age gate holds for _scratch_dir's per-application sink dirs."""
    import os
    import time
    from types import SimpleNamespace

    import shuttle_spark.contracts as C

    sf = tmp_path / "sf9"
    sf.mkdir()
    t = sf / "lineitem.parquet"
    t.write_bytes(b"x" * 100)
    d1 = C._fixture_dir(str(sf), "unittest", "lineitem")
    os.makedirs(d1, exist_ok=True)
    # same source -> same dir, still on disk
    assert C._fixture_dir(str(sf), "unittest", "lineitem") == d1
    assert os.path.isdir(d1)
    # regenerate the source -> new dir; the FRESH stale sibling survives
    # (could belong to a live same-vintage process)
    t.write_bytes(b"y" * 101)
    os.utime(t, ns=(1, 1))

    def app(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    for stale, current in [
        (d1, lambda: C._fixture_dir(str(sf), "unittest", "lineitem")),
        (
            C._scratch_dir(app("local-1111"), str(sf), "unittest_sink"),
            lambda: C._scratch_dir(app("local-2222"), str(sf), "unittest_sink"),
        ),
    ]:
        os.makedirs(stale, exist_ok=True)
        cur = current()
        assert cur != stale
        assert os.path.exists(stale)
        # ...but an hours-old stale sibling is removed on sight
        old = time.time() - 3 * 3600
        os.utime(stale, (old, old))
        assert current() == cur
        assert not os.path.exists(stale)


def test_driver_gate_covers_every_b_family():
    """VERDICT r11 item 1: the promise that the driver's first-50 gate
    keeps a row for every SURVEY §2.B family (B1-B30) is a CHECKED
    invariant, not narration — the r11 rotation displaced B7's only
    gate row and nothing caught it.  The import-time check
    (_check_driver_gate_families, an explicit raise so `python -O`
    can't strip it) must pass on the shipped curation, and must FAIL
    on a curation that uncovers a family."""
    import shuttle_spark.contracts as C

    # shipped curation passes (import already ran it; run it again
    # explicitly so a regression pinpoints here, not at collection)
    C._check_driver_gate_families()

    gate = list(C.REGISTRY)[:C._DRIVER_GATE_SIZE]
    covered = {t for n in gate for t in C.REGISTRY[n].tags}
    assert not (C._B_FAMILIES - covered)

    # and the check actually bites: displace B7's only gate row the
    # exact way r11 did, on a scratch registry ordering
    b7_rows = [n for n in gate if "B7" in C.REGISTRY[n].tags]
    assert b7_rows, "gate must carry a B7 row (the r11 regression)"
    original = dict(C.REGISTRY)
    # every B7 row sinks below the gate window; everything stays
    # registered so the coverage check (not the unknown-name check)
    # is what fires
    reordered = {
        n: c for n, c in original.items() if "B7" not in c.tags
    }
    reordered.update(
        (n, c) for n, c in original.items() if "B7" in c.tags
    )
    try:
        C.REGISTRY.clear()
        C.REGISTRY.update(reordered)
        with pytest.raises(ValueError, match="B7"):
            C._check_driver_gate_families()
    finally:
        C.REGISTRY.clear()
        C.REGISTRY.update(original)
