"""The engine's Python-worker daemon (shuttle_spark/pydaemon.py).

1. the stat-validated ``zipimporter.invalidate_caches``: an unchanged
   archive is not re-read, a rewritten or newly added one still imports;
2. sessions register the daemon and the workers' PYTHONPATH, and explicit
   overrides still win;
3. in a live session the workers run with the patch and re-read no
   archive per task;
4. a session started from a foreign cwd with PYTHONPATH unset still runs
   a pandas UDF contract correctly (workers must import the daemon and
   every pickled engine function).
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from shuttle_spark import pydaemon
from shuttle_spark.session import _PACKAGE_ROOT, resolve_conf

needs_patch = pytest.mark.skipif(
    not (3, 10) <= sys.version_info < (3, 12),
    reason="the patch is installed on CPython 3.10-3.11 only",
)


@pytest.fixture
def patched(monkeypatch):
    """Install the patch for one test; monkeypatch restores the stock
    method afterwards."""
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    assert pydaemon.install()


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _count_reads(monkeypatch) -> list[str]:
    calls: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@needs_patch
def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch, patched):
    zp = str(tmp_path / "lib.zip")
    _write_zip(zp, {"mod_a": "X = 1\n"})
    importers = [zipimport.zipimporter(zp), zipimport.zipimporter(zp)]
    calls = _count_reads(monkeypatch)
    for imp in importers:  # first invalidation: one read for the archive
        imp.invalidate_caches()
    assert calls == [zp]
    for _ in range(3):
        for imp in importers:
            imp.invalidate_caches()
    assert calls == [zp]
    assert importers[1]._files is zipimport._zip_directory_cache[zp]


@needs_patch
def test_rewritten_and_added_zips_import_after_invalidate(tmp_path, monkeypatch, patched):
    tag = f"pyd{os.getpid()}"
    zp = str(tmp_path / "lib.zip")
    _write_zip(zp, {f"{tag}_a": "X = 1\n"})
    monkeypatch.syspath_prepend(zp)
    try:
        assert importlib.import_module(f"{tag}_a").X == 1
        importlib.invalidate_caches()
        # rewrite in place: a module added to the archive must import
        _write_zip(zp, {f"{tag}_a": "X = 1\n", f"{tag}_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module(f"{tag}_b").Y == 2
        # a later archive on the path (addPyFile) is new: read on first use
        zp2 = str(tmp_path / "added.zip")
        _write_zip(zp2, {f"{tag}_c": "Z = 3\n"})
        monkeypatch.syspath_prepend(zp2)
        importlib.invalidate_caches()
        assert importlib.import_module(f"{tag}_c").Z == 3
    finally:
        for m in ("a", "b", "c"):
            sys.modules.pop(f"{tag}_{m}", None)
        for p in (zp, str(tmp_path / "added.zip")):
            sys.path_importer_cache.pop(p, None)
            zipimport._zip_directory_cache.pop(p, None)


def test_patch_is_inert_where_invalidation_is_lazy(monkeypatch):
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0))
    stock = cls.invalidate_caches
    assert pydaemon.install() is False
    assert cls.invalidate_caches is stock


def test_resolve_conf_registers_daemon_and_worker_path():
    conf = resolve_conf()
    assert conf["spark.python.daemon.module"] == "shuttle_spark.pydaemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == _PACKAGE_ROOT
    assert os.path.isfile(os.path.join(_PACKAGE_ROOT, "shuttle_spark", "pydaemon.py"))
    # explicit overrides win; a caller's worker path keeps the package root
    # in front of it
    over = resolve_conf(
        overrides={
            "spark.python.daemon.module": "pyspark.daemon",
            "spark.executorEnv.PYTHONPATH": "extra/lib",
        }
    )
    assert over["spark.python.daemon.module"] == "pyspark.daemon"
    assert over["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        [_PACKAGE_ROOT, "extra/lib"]
    )


@needs_patch
def test_session_workers_skip_archive_rereads(spark):
    assert spark.conf.get("spark.python.daemon.module") == "shuttle_spark.pydaemon"

    def worker_invalidate(_it):  # nested: pickled by value
        import importlib as il
        import time
        import zipimport as zi

        calls = []
        read = zi._read_directory
        zi._read_directory = lambda a: calls.append(a) or read(a)
        try:
            t0 = time.perf_counter()
            il.invalidate_caches()
            secs = time.perf_counter() - t0
        finally:
            zi._read_directory = read
        importers = sum(
            isinstance(v, zi.zipimporter) for v in sys.path_importer_cache.values()
        )
        yield (
            getattr(zi.zipimporter.invalidate_caches, "_stat_validated", False),
            len(calls),
            importers,
            secs,
        )

    rdd = spark.sparkContext.parallelize(range(8), 8)
    rows = rdd.mapPartitions(worker_invalidate).collect()
    rows += rdd.mapPartitions(worker_invalidate).collect()  # reused workers
    assert all(active for active, *_ in rows), rows
    assert [reads for _, reads, _, _ in rows] == [0] * len(rows), rows
    assert all(importers > 0 for _, _, importers, _ in rows), rows
    # the stock method spent 0.17-0.35 s per task here; the median is
    # robust to one preempted task on a busy host
    secs = sorted(s for *_, s in rows)
    assert secs[len(secs) // 2] < 0.01, secs


def test_pandas_udf_runs_from_foreign_cwd(tmp_path, sf_dir):
    """Regression: workers started outside the repo with PYTHONPATH unset
    could not import shuttle_spark, so the daemon (and before it every
    UDF pickling an engine function) failed to start."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {_PACKAGE_ROOT!r})
        from shuttle_spark import get_session
        from shuttle_spark.contracts import REGISTRY
        from shuttle_spark.testing import compare, duckdb_views
        spark = get_session("pydaemon-foreign-cwd")
        assert spark.conf.get("spark.python.daemon.module") == "shuttle_spark.pydaemon"
        c = REGISTRY["pandas_udf_bucket"]
        msgs = compare(c.build(spark, {sf_dir!r}), duckdb_views({sf_dir!r}), c.oracle)
        spark.stop()
        print("MISMATCHES", msgs)
        sys.exit(1 if msgs else 0)
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_GRAFT_CPUS", "2")
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    assert "MISMATCHES []" in proc.stdout
