"""SparkSession factory.

This is the conf embodiment of SURVEY.md §4: everything the reference
engineers by hand in its shuffle path (writer-strategy selection, map-side
combine, Tungsten sort, LZ4+Kryo, async fetch, AQE compatibility) is already
inside Spark's sort-based shuffle — we turn the right knobs on and keep every
operator AQE-compatible.  Where the reference must disable AQE local shuffle
reads (/root/reference/src/main/scala/org/apache/spark/shuffle/
Ors2ShuffleManager.scala:77-80), Spark's own shuffle supports them, so we keep
the full AQE feature set ON (coalesce, skew join, local read).

Data integrity: the reference checksums every (map, partition) with CRC32 and
verifies on read (Ors2BlockManager.scala:127-136,
ShufflePartitionReader.java:217-249).  Spark 3.2+ ships the same mechanism
behind ``spark.shuffle.checksum.enabled`` — we enable it, and additionally
expose query-level checksums in operators/integrity.py.

Python workers: the reference plugs its own component into Spark's
``spark.shuffle.manager`` extension point; the engine does the same for
Python workers through ``spark.python.daemon.module`` ->
``shuttle_spark.pydaemon``.  Cause: PySpark calls
``importlib.invalidate_caches()`` at the start of every Python task, and on
CPython 3.10-3.11 that makes each ``zipimporter`` re-read its whole archive
directory; a worker's path reaches the spark-core jar (5,359 entries) and
pyspark.zip (1,328) through ~16 importers.  The daemon re-reads an archive
only when its stat changed.  Version guard: CPython 3.12+ invalidates zip
directories lazily, so there the daemon installs nothing and is Spark's own
daemon.  Measured at local[4] (sf0.1, median of 3 warm runs, stock daemon
-> engine daemon): ``invalidate_caches`` per task 0.17-0.25 s of CPU ->
0.2 ms; an 8-task no-op RDD job 1.1 -> 0.21 s; pandas_udf_bucket 1.51 ->
0.58 s; grouped_map_normalize 1.15 -> 0.73 s; stream_keep_latest_packed
3.07 -> 1.90 s.  ``resolve_conf`` also prepends the package root to the
workers' PYTHONPATH (``spark.executorEnv.PYTHONPATH``): without it a
driver started outside the repo with PYTHONPATH unset could not start the
daemon, nor unpickle any UDF that references an engine function.

Local filesystem: the reference turns small random IO into sequential IO;
the engine's own per-file constant was a process spawn.  Without libhadoop,
Hadoop's ``RawLocalFileSystem`` runs ``chmod`` for every file it creates and
``readlink`` for every FileContext link-status lookup (each rename and
exists check), about 4 ms apiece.  A perfbench run (set-up and three
passes) spawned 1,566 of them on ``stream_replay`` and 355 on
``batch_sf1``, and state-store tasks waited ~95-145 ms per partition per
micro-batch on commit.  ``resolve_conf`` therefore registers the engine
filesystem in ``shuttle_spark/jvm/`` for the ``file:`` scheme
(``fs.file.impl`` and its FileContext twin
``fs.AbstractFileSystem.file.impl``), which does both in-process and is
Hadoop's ``LocalFileSystem`` otherwise: ``.crc`` checksums stay.  (Without
the key, ``file:`` resolved to the service-loaded Hive
``ProxyLocalFileSystem``, a proxy over the same class.)  The classes of
``shuttle_spark/jvm/`` are compiled once per source hash by ``javac``
against the Hadoop client and Spark SQL API jars and put first on
``spark.driver.extraClassPath`` (``get_session`` builds ``local[N]``
masters, whose executors run in the driver JVM).

Checksum kernel: the reference checksums in a native JVM kernel (a running
CRC32); the engine's portable twin is an md5 prefix
(``operators/integrity.md5_prefix``), because DuckDB has no ``crc32()``.
In Spark SQL that prefix is ``conv(substring(md5(x), 1, n), 16, 10)``
cast to long: ``md5`` builds a new ``MessageDigest`` and a 32-character
hex string per row, and ``conv`` and the cast parse that hex twice more.
``get_session`` therefore registers ``shuttle_spark/jvm/Md5Prefix`` once
per session as the SQL function ``shuttle_md5_prefix``, which digests the
row's UTF-8 bytes with one ``MessageDigest`` per task thread and reads the
prefix bits straight into a long.  Measured on the 32-bit checksum
aggregate of ``write_roundtrip_checksum`` over the 6M-row sf1 lineitem
(local[4], 4-core host, 4 interleaved warm repetitions, medians): executor
CPU 7.05 -> 2.98 s, wall 2.94 -> 1.52 s, identical sums.

Compiler guard: with no ``javac``, or in a session ``get_session`` did not
build, the session keeps Hadoop's stock filesystem and the checksum the
SQL form above (same values).

Driver memory: ``spark.driver.memory`` is half the host's physical memory,
clamped to [2g, 48g], unless ``SPARK_GRAFT_DRIVER_MEM`` sets it.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import weakref

from pyspark.sql import SparkSession
from pyspark.sql.types import LongType

# Tuned for the local[32] test harness; on a real cluster the same builder is
# used with master/memory supplied by the cluster manager.  Shuffle partition
# count is a *starting* value only: AQE coalesces or splits at runtime, which
# is what makes these settings scale-portable (at 100 TB you raise
# initialPartitionNum, not rewrite queries).
_DEFAULTS = {
    "spark.driver.maxResultSize": "8g",
    # AQE: runtime re-planning replaces the reference's static
    # worker-count/group heuristics (Ors2ShuffleManager.scala:372-413).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.localShuffleReader.enabled": "true",
    # Shuffle integrity — built-in twin of the reference's CRC32 protocol.
    "spark.shuffle.checksum.enabled": "true",
    # Same wire format choices as the reference (Kryo + LZ4,
    # Ors2Compression.scala:41-59) — Spark defaults to lz4 already.
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.io.compression.codec": "lz4",
    # Oracle comparability: DuckDB timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # events.ts is parquet TIMESTAMP(NANOS) which vanilla Spark rejects
    # (PARQUET_TYPE_ILLEGAL); read as epoch-nanos long, catalog converts to
    # a microsecond timestamp (floor), matching DuckDB's ns->us cast.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for the pandas-UDF slow path (vectorized, not row-at-a-time).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # local[N] has no dynamic executors; keep partitions ~ cores for tests.
    "spark.sql.shuffle.partitions": "32",
    "spark.default.parallelism": "32",
    # Scan-split note (measured, not configured): the driver's tables are
    # single parquet files with ONE row group each, so scan + partial-agg
    # parallelism is structurally 1 task regardless of
    # spark.sql.files.maxPartitionBytes (splits snap to row groups; extra
    # splits are empty).  Smaller splits were tried and reverted — no
    # effect.  Real deployments get scan parallelism from file count x
    # row groups; io.compact(row_group_bytes=...) is the engine-side dial
    # that keeps compacted files split-readable, and catalog.load_table's
    # ingest relayout (see catalog._ingest_relayout) re-lays single-row-
    # group sources into 1 MiB row groups once per session so every
    # subsequent scan parallelizes.
    # Split planning sizes splits as max(openCostInBytes, bytes/parallelism)
    # capped at maxPartitionBytes; the 4 MiB default openCost floors MB-scale
    # tables at ~6 splits.  1 MiB aligns splits with the relayout's row
    # groups (measured: 6 -> 14 tasks, checksum scan 0.43 s -> 0.27 s at
    # sf0.1).  At real scale bytes/parallelism dominates and this is inert.
    "spark.sql.files.openCostInBytes": str(1 << 20),
    # InferFiltersFromGenerate clones the generator input into a pre-filter;
    # with an expensive higher-order-function input (shingling) that filter
    # re-evaluates the whole expression twice per row in interpreted mode —
    # measured 3x slowdown on explode-heavy dedup plans.  The inferred
    # filter only skips empty arrays, worthless for our generators.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # Broadcast threshold: dims (region/nation/customer/supplier/part at test
    # SF) broadcast; at 100 TB the same queries still broadcast region/nation
    # and AQE converts sort-merge->broadcast when runtime stats allow.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Managed-table warehouse (bucketed tables, sources/io.py) out of the
    # source tree; production overrides with a DFS URI.
    "spark.sql.warehouse.dir": "/tmp/shuttle_spark_warehouse",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # Python workers fork from the engine daemon, which stops each task
    # from re-reading the Spark jar and pyspark.zip (module docstring).
    "spark.python.daemon.module": "shuttle_spark.pydaemon",
}

# The directory holding the shuttle_spark package, prepended to the
# workers' PYTHONPATH: the daemon module above and every engine function a
# UDF pickles by reference must import whatever the driver's cwd is.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"

# The engine's JVM classes (module docstring): Java sources, the
# compiled-class cache beneath them, the two conf keys that register the
# fork-free filesystem for the file: scheme, the Spark-home jars javac
# compiles against, and the SQL name of the checksum kernel.
_JVM_DIR = os.path.join(_PACKAGE_ROOT, "shuttle_spark", "jvm")
_JVM_CLASSES = os.path.join(_JVM_DIR, "classes")
_DRIVER_CLASSPATH = "spark.driver.extraClassPath"
_LOCAL_FS_CONF = {
    "spark.hadoop.fs.file.impl": "shuttle_spark.jvm.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "shuttle_spark.jvm.NioLocalFs",
}
_COMPILE_JARS = ("hadoop-client-api", "spark-sql-api")
MD5_PREFIX_FUNCTION = "shuttle_md5_prefix"
_KERNEL_SESSIONS: weakref.WeakSet[SparkSession] = weakref.WeakSet()


@functools.lru_cache(maxsize=None)
def jvm_classes() -> str | None:
    """Directory of the compiled ``shuttle_spark/jvm`` classes, compiled on
    first use into ``jvm/classes/<hash of sources and jar names>`` and
    reused by every later session; None when there is no ``javac`` (the
    session then keeps Hadoop's stock local filesystem and the SQL form of
    the md5-prefix checksum)."""
    javac = shutil.which("javac")
    if javac is None:
        return None
    from pyspark.find_spark_home import _find_spark_home

    jars = []
    for name in _COMPILE_JARS:
        found = sorted(glob.glob(
            os.path.join(_find_spark_home(), "jars", f"{name}*.jar")))
        if not found:
            raise RuntimeError(f"no {name} jar in the Spark home")
        jars.append(found[-1])
    sources = sorted(glob.glob(os.path.join(_JVM_DIR, "*.java")))
    h = hashlib.sha1(b"\0".join(os.path.basename(j).encode() for j in jars))
    for src in sources:
        with open(src, "rb") as f:
            h.update(b"\0" + os.path.basename(src).encode() + b"\0" + f.read())
    out = os.path.join(_JVM_CLASSES, h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(_JVM_CLASSES, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".build-", dir=_JVM_CLASSES)
    try:
        proc = subprocess.run(
            [javac, "-encoding", "UTF-8", "--release", "17",
             "-cp", os.pathsep.join(jars), "-d", tmp, *sources],
            capture_output=True, text=True,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"javac failed on {_JVM_DIR}:\n{proc.stderr}")
        os.chmod(tmp, 0o755)
        try:
            os.rename(tmp, out)
        except OSError:  # a concurrent session renamed its build first
            if not os.path.isdir(out):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# Corpus-size-aware profile (round 9, VERDICT r8 item 1).  The dials below
# used to live in bench.py only, which meant the benchmarked config was not
# the config `get_session()` ships.  They are engine policy, not harness
# policy: partition count and AQE are per-deployment dials ("at 100 TB you
# raise initialPartitionNum, not rewrite queries" — and at 17 MB you lower
# the partition count and skip runtime re-planning).  Measured basis
# (round 8, idle box): at MB-scale SF every shuffled relation is far under
# one advisory partition per core — 8 reduce partitions took ~23% off the
# comparable-subset wall vs 32 (pure scheduling, zero plan change), and AQE
# materializes every exchange as its own job (~0.1-0.13 s of scheduling
# each) with nothing to re-plan at that size (-22% on a 36-query slice,
# identical results).  Above the threshold the defaults stand: AQE's
# runtime coalesce/skew-split/local-read is worth a scheduling round-trip
# per stage once real data volumes flow.  Contracts that ASSERT AQE
# behavior (skew_join_agg) force it back on in their own scoped conf, so
# the profile never changes semantics — only scheduling.
_SMALL_CORPUS_BYTES = 256 << 20  # MB-scale: well under one partition/core

_DATA_EXTS = (".parquet", ".csv", ".json", ".orc")


def corpus_bytes(data_dir: str) -> int:
    """Total on-disk bytes of data files under ``data_dir`` (recursive)."""
    total = 0
    for root, _dirs, files in os.walk(data_dir):
        for name in files:
            if name.endswith(_DATA_EXTS):
                try:
                    total += os.path.getsize(os.path.join(root, name))
                except OSError:
                    pass
    return total


def profile_for_corpus(data_dir: str | None) -> dict[str, str]:
    """Size-aware conf overlay for a session that will read ``data_dir``.

    MB-scale corpus -> low reduce-partition count and AQE off (per-stage
    scheduling dominates; there is nothing to re-plan).  Anything larger
    (or unknown) -> empty overlay, i.e. the scale defaults in _DEFAULTS.
    This is the engine-side home of the dials the benchmark harness used
    to set locally; bench.py/tools pass the SF dir here and add nothing.
    """
    if not data_dir or not os.path.isdir(data_dir):
        return {}
    b = corpus_bytes(data_dir)
    if 0 < b < _SMALL_CORPUS_BYTES:
        return {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": "8",
        }
    return {}


def get_session(
    app_name: str = "shuttle_spark",
    data_dir: str | None = None,
    **overrides: str,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (driver contract) and
    accepts per-call conf overrides for tests.  ``data_dir`` (the corpus
    the session will read) activates the size-aware profile above.
    Precedence, lowest to highest: _DEFAULTS < profile_for_corpus <
    SPARK_GRAFT_SHUFFLE_PARTITIONS / SPARK_GRAFT_AQE env dials < explicit
    ``overrides``.  Conf only binds on the FIRST session in a process
    (getOrCreate semantics) — the standard Spark caveat.  The session gets
    the md5-prefix checksum kernel (module docstring).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in resolve_conf(data_dir, overrides).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _register_md5_prefix(spark)
    return spark


def _register_md5_prefix(spark: SparkSession) -> None:
    """Register the md5-prefix kernel as ``shuttle_md5_prefix`` once per
    session, when the engine classes are on this session's driver
    classpath (a session started elsewhere and fetched here has none)."""
    classes = jvm_classes()
    if not classes or spark in _KERNEL_SESSIONS:
        return
    classpath = spark.sparkContext.getConf().get(_DRIVER_CLASSPATH, "")
    if classes in classpath.split(os.pathsep):
        spark.udf.registerJavaFunction(
            MD5_PREFIX_FUNCTION, "shuttle_spark.jvm.Md5Prefix", LongType()
        )
        _KERNEL_SESSIONS.add(spark)


def md5_prefix_kernel() -> bool:
    """Whether the active session has ``shuttle_md5_prefix``, read from the
    record ``get_session`` keeps of the sessions it registered the kernel
    in (``catalog.functionExists`` would be a JVM catalog lookup, 5-10 ms,
    per column built)."""
    return SparkSession.getActiveSession() in _KERNEL_SESSIONS


def _host_memory_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def _driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` when set, else
    half the host's physical memory clamped to [2g, 48g].  local[N] is a
    single JVM, so the driver heap is the executor memory; the other half
    is left to Python workers (Arrow UDFs), the OS page cache and any
    second session on the host."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    return f"{max(2, min(48, _host_memory_bytes() // (2 << 30)))}g"


def resolve_conf(
    data_dir: str | None = None, overrides: dict[str, str] | None = None
) -> dict[str, str]:
    """The exact conf dict ``get_session`` applies (factored out so tests
    can assert the precedence chain without paying a Spark JVM; the first
    call in a checkout compiles the engine's JVM classes).  The workers'
    PYTHONPATH always starts with the package root, and the driver
    classpath with the engine's JVM classes, ahead of any value an override
    supplies."""
    conf = {"spark.driver.memory": _driver_memory(), **_DEFAULTS}
    classes = jvm_classes()
    if classes:
        conf.update(_LOCAL_FS_CONF)
    conf.update(profile_for_corpus(data_dir))
    env_shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env_shuffle:
        conf["spark.sql.shuffle.partitions"] = env_shuffle
    env_aqe = os.environ.get("SPARK_GRAFT_AQE")
    if env_aqe:
        conf["spark.sql.adaptive.enabled"] = env_aqe
    conf.update(overrides or {})
    caller_path = conf.get(_WORKER_PYTHONPATH)
    conf[_WORKER_PYTHONPATH] = os.pathsep.join(
        p for p in (_PACKAGE_ROOT, caller_path) if p
    )
    if classes:
        conf[_DRIVER_CLASSPATH] = os.pathsep.join(
            p for p in (classes, conf.get(_DRIVER_CLASSPATH)) if p
        )
    return conf
