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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tuned for the local[32] test harness; on a real cluster the same builder is
# used with master/memory supplied by the cluster manager.  Shuffle partition
# count is a *starting* value only: AQE coalesces or splits at runtime, which
# is what makes these settings scale-portable (at 100 TB you raise
# initialPartitionNum, not rewrite queries).
_DEFAULTS = {
    # local[N] is a single JVM: driver heap IS executor memory.  Spark's
    # 1g default OOMs the first serious broadcast/state at stress scale on
    # this 128 GiB box; size like an executor, leave room for Python
    # workers (Arrow UDFs) and the OS page cache.  SPARK_GRAFT_DRIVER_MEM
    # overrides; ignored (with the rest of first-session conf) if a
    # session already exists.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
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
    (getOrCreate semantics) — the standard Spark caveat.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in resolve_conf(data_dir, overrides).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def resolve_conf(
    data_dir: str | None = None, overrides: dict[str, str] | None = None
) -> dict[str, str]:
    """The exact conf dict ``get_session`` applies (factored out so tests
    can assert the precedence chain without paying a JVM).  The workers'
    PYTHONPATH always starts with the package root, ahead of any value an
    override supplies."""
    conf = dict(_DEFAULTS)
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
    return conf
