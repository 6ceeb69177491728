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


def test_fixture_dir_tracks_source_fingerprint(tmp_path, monkeypatch):
    """A staged directory (``cache.staged_dir``) must change when its
    source's bytes/mtime change — a regenerated testdata dir can never
    resurrect a fixture built from the previous corpus — and with the
    application id.  Directories other processes left in the scratch root
    are swept AGE-GATED (>2h) at the root's first use: a same-vintage
    sibling process must never lose its live fixture, so a fresh sibling
    survives and an hours-old one is removed.  A failed build leaves
    neither an entry nor a directory."""
    import os
    import subprocess
    import time
    from types import SimpleNamespace

    from shuttle_spark import cache

    root = tmp_path / "scratch"
    root.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(root))
    gone = subprocess.Popen(["true"])
    gone.wait()
    fresh, old = (root / f"shuttle_{gone.pid}_{n}" for n in ("fresh", "old"))
    fresh.mkdir()
    old.mkdir()
    hours_ago = time.time() - 3 * 3600
    os.utime(old, (hours_ago, hours_ago))

    sf = tmp_path / "sf9"
    sf.mkdir()
    t = sf / "lineitem.parquet"
    t.write_bytes(b"x" * 100)
    built = []

    def stage(app_id="local-1111"):
        app = SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))
        return cache.staged_dir(app, str(t), params=("unittest",), build=built.append)

    d1 = stage()
    assert fresh.exists() and not old.exists()
    assert d1.startswith(str(root) + os.sep) and os.path.isdir(d1)
    # same source -> same dir, built once
    assert stage() == d1 and built == [d1]
    # regenerate the source -> new dir
    t.write_bytes(b"y" * 101)
    os.utime(t, ns=(1, 1))
    d2 = stage()
    assert d2 != d1 and built == [d1, d2]
    # another application -> its own dir
    d3 = stage("local-2222")
    assert d3 not in (d1, d2)

    def fail(d):
        raise RuntimeError("build failed")

    app = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="local-1111"))
    with pytest.raises(RuntimeError):
        cache.staged_dir(app, str(t), params=("unittest_fail",), build=fail)
    assert sorted(os.listdir(os.path.dirname(d1))) == sorted(
        os.path.basename(d) for d in (d1, d2, d3)
    )


def test_sweep_removes_every_stale_entry(tmp_path, monkeypatch):
    """One sweep rule for the scratch root: at a root's first use in a
    process, every entry over 2 h old that is not a live process's
    directory goes (a gone process's directory, directories and files of
    other names, a symlink but not its target); a live process's
    directory and anything fresh stay."""
    import os
    import subprocess
    import time

    from shuttle_spark import cache

    root = tmp_path / "scratch"
    root.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(root))
    gone = subprocess.Popen(["true"])
    gone.wait()
    target = tmp_path / "target.parquet"
    target.write_bytes(b"x")
    stale = [
        root / f"shuttle_{gone.pid}_old",
        root / "events_dup_sf0.1",
        root / "shuttle_csv_abc",
        root / "loose.parquet",
        root / "link.parquet",
    ]
    kept = [root / f"shuttle_{os.getpid()}_old", root / "events_dup_fresh"]
    for p in stale[:3] + kept:
        p.mkdir()
        (p / "part-0.parquet").write_bytes(b"y")
    stale[3].write_bytes(b"z")
    stale[4].symlink_to(target)
    hours_ago = time.time() - 3 * 3600
    for p in stale + kept[:1]:
        os.utime(p, (hours_ago, hours_ago), follow_symlinks=False)

    d = cache.scratch_dir("sweep_")
    left = set(os.listdir(root))
    assert not left & {p.name for p in stale}
    assert {p.name for p in kept} | {os.path.basename(os.path.dirname(d))} == left
    assert target.exists()


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


def test_every_public_operator_is_referenced():
    """Every public top-level function in operators/*.py, functions/*.py
    and streaming/core.py is referenced in code outside its own def — as
    a name, an attribute or an import — somewhere in shuttle_spark/,
    tools/, bench.py, perfbench/ or tests/.  A mention in a comment or a
    docstring does not count.  A function nothing calls is dead surface:
    delete it rather than keep it documented."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    pkg = root / "shuttle_spark"
    defining = [
        *sorted((pkg / "operators").glob("*.py")),
        *sorted((pkg / "functions").glob("*.py")),
        pkg / "streaming" / "core.py",
    ]
    public = {
        (path, node.name)
        for path in defining
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not node.name.startswith("_")
    }
    sources = [
        *pkg.rglob("*.py"),
        *(root / "tools").rglob("*.py"),
        root / "bench.py",
        *(root / "perfbench").rglob("*.py"),
        *(root / "tests").rglob("*.py"),
    ]
    # (file, name, name of the enclosing top-level def or None)
    refs: set[tuple[Path, str, str | None]] = set()
    for path in sources:
        for top in ast.parse(path.read_text()).body:
            owner = (
                top.name
                if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
                else None
            )
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    refs.add((path, node.id, owner))
                elif isinstance(node, ast.Attribute):
                    refs.add((path, node.attr, owner))
                elif isinstance(node, ast.alias):
                    refs.add((path, node.name.rsplit(".", 1)[-1], owner))
    unreferenced = sorted(
        f"{path.relative_to(root)}:{name}"
        for path, name in public
        if not any(
            n == name and not (p == path and owner == name)
            for p, n, owner in refs
        )
    )
    assert not unreferenced, f"unreferenced public functions: {unreferenced}"


def test_directories_come_from_the_cache_policy():
    """Every directory shuttle_spark/ creates comes from cache.py
    (``staged_dir``/``scratch_dir``: one root, one key rule, one
    lifetime): outside it no ``tempfile.mkdtemp``, no ``gettempdir`` and
    no string literal starting with /tmp/ or /dev/shm.  Two exceptions:
    the javac build directory under jvm/classes (``session.jvm_classes``)
    and the ``spark.sql.warehouse.dir`` deployment default.  The tests
    take theirs from pytest's ``tmp_path`` (or cache.py), so tests/ holds
    no ``mkdtemp`` or ``gettempdir`` either."""
    import ast
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    allowed = {
        ("shuttle_spark/session.py", "jvm_classes", "mkdtemp"),
        ("shuttle_spark/session.py", None, "/tmp/shuttle_spark_warehouse"),
    }
    found = set()
    for path in [*(repo / "shuttle_spark").rglob("*.py"), *(repo / "tests").rglob("*.py")]:
        rel = path.relative_to(repo).as_posix()
        in_tests = rel.startswith("tests/")
        if rel == "shuttle_spark/cache.py":
            continue
        for top in ast.parse(path.read_text()).body:
            owner = (
                top.name
                if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
                else None
            )
            for node in ast.walk(top):
                name = (
                    node.attr if isinstance(node, ast.Attribute)
                    else node.id if isinstance(node, ast.Name)
                    else node.name if isinstance(node, ast.alias)
                    else None
                )
                if name in ("mkdtemp", "gettempdir"):
                    found.add((rel, owner, name))
                elif (
                    not in_tests
                    and isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and node.value.startswith(("/tmp/", "/dev/shm"))
                ):
                    found.add((rel, owner, node.value))
    assert found - allowed == set(), sorted(found - allowed, key=str)
