"""The engine's fork-free local filesystem (shuttle_spark/jvm/).

1. ``resolve_conf`` registers it for the ``file:`` scheme and puts its
   classes ahead of a caller's driver classpath; without a compiler it
   registers neither the filesystem nor the checksum kernel;
2. a stream replay and a partitioned parquet write through ``get_session``
   make the Spark JVM spawn no ``chmod``/``readlink``/``ls``/``stat``;
3. it keeps stock Hadoop semantics: mode bits of new files and
   directories, ``.crc`` checksum files, ``getFileLinkStatus`` on regular
   files, symlinks, dangling symlinks and missing paths, and a FileContext
   ``rename`` that refuses to overwrite without ``Rename.OVERWRITE``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from shuttle_spark import session as S
from shuttle_spark.operators.integrity import md5_prefix

needs_javac = pytest.mark.skipif(
    S.jvm_classes() is None, reason="no javac: stock local filesystem"
)

STOCK_FS = "org.apache.hadoop.fs.LocalFileSystem"
STOCK_RAW = "org.apache.hadoop.fs.RawLocalFileSystem"
STOCK_AFS = "org.apache.hadoop.fs.local.LocalFs"
AFS_KEY = "fs.AbstractFileSystem.file.impl"


def _cls(jvm, name):
    for part in name.split("."):
        jvm = getattr(jvm, part)
    return jvm


@needs_javac
def test_resolve_conf_registers_fs_ahead_of_caller_classpath():
    classes = S.jvm_classes()
    assert os.path.isfile(
        os.path.join(classes, "shuttle_spark", "jvm", "NioLocalFs.class")
    )
    conf = S.resolve_conf()
    for k, v in S._LOCAL_FS_CONF.items():
        assert conf[k] == v
    assert conf["spark.driver.extraClassPath"] == classes
    over = S.resolve_conf(overrides={"spark.driver.extraClassPath": "a.jar:b/"})
    assert over["spark.driver.extraClassPath"] == os.pathsep.join([classes, "a.jar:b/"])


def test_resolve_conf_without_compiler_keeps_stock_fs(monkeypatch, spark):
    monkeypatch.setattr(S, "jvm_classes", lambda: None)
    conf = S.resolve_conf(overrides={"spark.driver.extraClassPath": "a.jar"})
    assert not set(S._LOCAL_FS_CONF) & set(conf)
    assert conf["spark.driver.extraClassPath"] == "a.jar"
    # no checksum kernel either: nothing registered, md5_prefix is SQL
    fresh = spark.newSession()
    S._register_md5_prefix(fresh)
    assert not fresh.catalog.functionExists(S.MD5_PREFIX_FUNCTION)
    monkeypatch.setattr(SparkSession, "_activeSession", fresh)
    assert "substring(md5(" in str(md5_prefix(F.col("x"), 32))


_WRAPPED = ("chmod", "readlink", "ls", "stat")


@needs_javac
def test_replay_and_partitioned_write_spawn_no_process(tmp_path, sf_dir):
    """Logging wrappers first on PATH record every spawn of the wrapped
    tools together with the parent pid; the spawns counted are the Spark
    JVM's.  The child ends with a control: a stock ``LocalFileSystem``
    instance in the same JVM must record a ``chmod``, or the wrappers saw
    nothing and the zero would prove nothing."""
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    log = tmp_path / "spawns.log"
    for tool in _WRAPPED:
        real = shutil.which(tool)
        assert real, tool
        w = bin_dir / tool
        w.write_text(f'#!/bin/sh\necho "$PPID {tool}" >> "{log}"\nexec {real} "$@"\n')
        w.chmod(0o755)
    script = textwrap.dedent(
        f"""
        import json, os, sys
        sys.path.insert(0, {S._PACKAGE_ROOT!r})
        from shuttle_spark import get_session
        from shuttle_spark.catalog import load_table
        from shuttle_spark.contracts import REGISTRY
        from shuttle_spark.sources.io import write_partitioned

        def spawns(pid):
            if not os.path.exists({str(log)!r}):
                return []
            with open({str(log)!r}) as f:
                return [l.split()[1] for l in f if l.split()[0] == str(pid)]

        spark = get_session("localfs-fork-guard")
        jvm = spark.sparkContext._jvm
        pid = jvm.java.lang.ProcessHandle.current().pid()
        replay = REGISTRY["stream_window_agg"].build(spark, {sf_dir!r}).count()
        ev = load_table(spark, {sf_dir!r}, "events")
        out = {str(tmp_path / "parts")!r}
        write_partitioned(ev, out, ["event_type"])
        parts = spark.read.parquet(out).count()
        events = ev.count()
        engine = spawns(pid)
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
        stock.initialize(jvm.java.net.URI("file:///"), conf)
        stock.create(jvm.org.apache.hadoop.fs.Path(out + "_control")).close()
        control = spawns(pid)[len(engine):]
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
        spark.stop()
        print("RESULT", json.dumps({{"engine": engine, "control": control,
              "fs": fs.getClass().getName(), "replay": replay,
              "parts": parts, "events": events}}))
        """
    )
    env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}")
    env.setdefault("SPARK_GRAFT_CPUS", "2")
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    line = next(l for l in proc.stdout.splitlines() if l.startswith("RESULT "))
    res = json.loads(line[len("RESULT "):])
    assert res["replay"] > 0 and res["parts"] == res["events"] > 0
    assert "chmod" in res["control"], res
    assert res["engine"] == [], res
    assert res["fs"] == S._LOCAL_FS_CONF["spark.hadoop.fs.file.impl"]


@pytest.fixture
def fs_pair(spark, tmp_path):
    """(stock, engine) instances of one Hadoop filesystem class pair, both
    initialized from the session's Hadoop conf, plus a work directory."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")

    def pair(stock_name, engine_name):
        fss = []
        for name in (stock_name, engine_name):
            fs = _cls(jvm, name)()
            fs.initialize(uri, conf)
            fss.append(fs)
        return fss

    return jvm, pair, tmp_path


def _mode(path) -> int:
    return os.lstat(path).st_mode & 0o7777


@needs_javac
def test_session_registers_engine_fs(spark):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    assert fs.getClass().getName() == "shuttle_spark.jvm.NioLocalFileSystem"
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    assert fc.getDefaultFileSystem().getClass().getName() == "shuttle_spark.jvm.NioLocalFs"
    # Spark's checkpoint checksums stay on
    assert spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled", "true") == "true"


@needs_javac
def test_new_files_and_dirs_get_stock_mode_bits(fs_pair):
    jvm, pair, tmp = fs_pair
    Path = jvm.org.apache.hadoop.fs.Path
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
    modes = {}
    for fs, side in zip(pair(STOCK_FS, "shuttle_spark.jvm.NioLocalFileSystem"),
                        ("stock", "engine")):
        root = tmp / side
        p = lambda name: Path(str(root / name))  # noqa: E731
        fs.mkdirs(p("d_default"))
        fs.mkdirs(p("d_0750"), FsPermission(0o750))
        fs.create(p("f_default")).close()
        fs.createFile(p("f_0640")).permission(FsPermission(0o640)).build().close()
        fs.create(p("f_chmod")).close()
        fs.setPermission(p("f_chmod"), FsPermission(0o604))
        fs.mkdirs(p("d_sticky"))
        fs.setPermission(p("d_sticky"), FsPermission(0o1777))
        modes[side] = {n: _mode(root / n) for n in sorted(os.listdir(root))}
    assert modes["engine"] == modes["stock"]
    got = modes["engine"]
    assert got["d_0750"] == 0o750 and got["f_0640"] == 0o640
    assert got["f_chmod"] == 0o604 and got["d_sticky"] == 0o1777
    # the checksum layer still writes a .crc beside every file
    assert {".f_default.crc", ".f_0640.crc", ".f_chmod.crc"} <= set(got)


def _link_status(fs, path):
    try:
        return fs.getFileLinkStatus(path).toString()
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()


@needs_javac
def test_file_link_status_matches_stock(fs_pair):
    jvm, pair, tmp = fs_pair
    Path = jvm.org.apache.hadoop.fs.Path
    (tmp / "regular").write_text("x")
    os.symlink(tmp / "regular", tmp / "link")
    os.symlink(tmp / "nowhere", tmp / "dangling")
    stock, engine = pair(STOCK_RAW, "shuttle_spark.jvm.NioRawLocalFileSystem")
    seen = {}
    for name in ("regular", "link", "dangling", "missing"):
        for form in (str(tmp / name), f"file:{tmp / name}"):
            a, b = _link_status(stock, Path(form)), _link_status(engine, Path(form))
            assert a == b, (form, a, b)
            seen[form] = b
    assert "isSymlink=true" in seen[str(tmp / "link")]
    assert "isSymlink=true" in seen[str(tmp / "dangling")]
    assert "isSymlink=false" in seen[str(tmp / "regular")]
    assert seen[str(tmp / "missing")] == "java.io.FileNotFoundException"


@needs_javac
def test_file_context_keeps_stock_semantics(spark, tmp_path):
    jvm = spark.sparkContext._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    Rename = jvm.org.apache.hadoop.fs.Options.Rename
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
    engine_conf = spark.sparkContext._jsc.hadoopConfiguration()
    stock_conf = jvm.org.apache.hadoop.conf.Configuration(engine_conf)
    stock_conf.set(AFS_KEY, STOCK_AFS)
    uri = jvm.java.net.URI("file:///")

    def renames(opt):
        arr = spark.sparkContext._gateway.new_array(Rename, 1)
        arr[0] = opt
        return arr

    modes = {}
    for conf, side in ((stock_conf, "stock"), (engine_conf, "engine")):
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
        want = STOCK_AFS if side == "stock" else "shuttle_spark.jvm.NioLocalFs"
        assert fc.getDefaultFileSystem().getClass().getName() == want
        root = tmp_path / side
        p = lambda name: Path(f"file:{root / name}")  # noqa: E731
        fc.mkdir(p("d"), FsPermission(0o750), True)
        for name in ("src", "dst"):
            fc.create(p(f"d/{name}")).build().close()
        with pytest.raises(Py4JJavaError) as exc:
            fc.rename(p("d/src"), p("d/dst"), renames(Rename.NONE))
        assert "FileAlreadyExistsException" in exc.value.java_exception.getClass().getName()
        assert fc.util().exists(p("d/src"))
        fc.rename(p("d/src"), p("d/dst"), renames(Rename.OVERWRITE))
        assert not fc.util().exists(p("d/src")) and fc.util().exists(p("d/dst"))
        modes[side] = {
            os.path.relpath(os.path.join(d, n), root): _mode(os.path.join(d, n))
            for d, dirs, files in os.walk(root) for n in dirs + files
        }
    assert modes["engine"] == modes["stock"]
    assert modes["engine"]["d"] == 0o750 and "d/.dst.crc" in modes["engine"]
