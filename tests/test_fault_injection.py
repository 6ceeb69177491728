"""Fault-injection parity (SURVEY §5): the engine twin of the reference's
canonical resilience tests — worker restart mid-job
(/root/reference/src/test/scala/org/apache/spark/shuffle/
Ors2ShuffleManagerTest.scala:114-126) and probabilistic injected read errors
(Ors2Config.scala:272-276 mockErrorProbability).

On our engine, the recovery machinery is Spark's task retry: a map-stage
task that fails on its first attempt is re-run, and its re-run must not
duplicate or lose rows (exactly-once results).  The test injects a
deterministic first-attempt failure into the map stage of a shuffle
aggregation via TaskContext.attemptNumber() and asserts the result is
bit-identical to the clean run.

Runs in a subprocess because task retries need a `local[N, maxFailures]`
master, and the suite's shared session is already up with local[*].
"""

from __future__ import annotations

import subprocess
import sys
import textwrap

import pytest

_SCRIPT = textwrap.dedent(
    """
    from pyspark import TaskContext
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[8, 2]")  # 2 task attempts
        .appName("fault-injection")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")

    fail_state = {"done": False}

    def passthrough_fail_first(it):
        tc = TaskContext.get()
        if tc.attemptNumber() == 0 and tc.partitionId() == 0:
            raise RuntimeError("injected first-attempt failure")
        for pdf in it:
            yield pdf

    def agg(df):
        return (
            df.groupBy("l_returnflag")
            .agg(
                F.count("*").alias("cnt"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sq"),
                F.sum(
                    F.xxhash64("l_orderkey", "l_linenumber").cast(
                        "decimal(38,0)"
                    )
                ).alias("h"),
            )
            .orderBy("l_returnflag")
        )

    clean = [tuple(r) for r in agg(li).collect()]
    injected = [
        tuple(r)
        for r in agg(li.mapInPandas(passthrough_fail_first, li.schema)).collect()
    ]
    assert clean == injected, ("retry changed results", clean, injected)
    assert clean, "empty result"
    print("FAULT_PARITY_OK")
    spark.stop()
    """
)


def test_injected_task_failure_is_exactly_once():
    r = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "FAULT_PARITY_OK" in r.stdout, (r.stdout[-2000:], r.stderr[-2000:])


def test_lineage_crashed_attempt_is_never_read(spark, tmp_path):
    """A crashed write attempt (in-flight _temporary marker, partial rows)
    must be invisible to read_latest: the newest COMMITTED attempt wins,
    stale/partial attempt files stay on disk for audit (the reference's
    stale-attempt block filter, PartitionPipeReader.java:150-170, as a
    durable-table property)."""
    import os

    from pyspark.sql import functions as F

    from shuttle_spark.catalog import load_table
    from shuttle_spark.operators import lineage as L

    li = (
        load_table(spark, "/root/testdata/sf0.001", "lineitem")
        .select("l_orderkey", "l_linenumber")
        .limit(500)
    )
    path = str(tmp_path / "t")

    # attempt 0: committed
    L.write_attempt(li, path, app_attempt=0)
    # attempt 1: crashed mid-write — partial rows already closed on disk,
    # but the writer died before dropping its _COMMITTED marker (commit is
    # a marker FACT, not inferred from file listings — the reference's
    # .dat_final rename).  This is exactly the concurrent/zombie-writer
    # shape an object store exposes: closed data files, no _temporary dir.
    L.write_attempt(li.limit(10), path, app_attempt=1)
    os.remove(f"{path}/{L.ATTEMPT_COL}=1/{L.COMMIT_MARKER}")

    assert L.attempts(spark, path) == [0, 1]
    assert L.latest_attempt(spark, path) == 0  # 1 has no commit marker

    back = L.read_latest(spark, path)
    assert back.count() == 500
    # provenance column present and fully populated
    assert back.filter(F.col("_source_file").isNull()).count() == 0

    # audit view still sees the stale partial attempt
    audit = {r[L.ATTEMPT_COL]: r["rows"] for r in L.audit_stale_rows(spark, path).collect()}
    assert audit == {0: 500, 1: 10}


def test_lineage_retry_supersedes_stale_attempt(spark, tmp_path):
    """Retried-write semantics: once attempt 1 commits, its rows replace
    attempt 0's entirely (latest-attempt-wins, Ors2Util.scala:54-87)."""
    from shuttle_spark.catalog import load_table
    from shuttle_spark.operators import lineage as L

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    path = str(tmp_path / "t")
    L.write_attempt(li.limit(100), path, app_attempt=0)          # stale
    L.write_attempt(li, path, app_attempt=1, write_version=1)    # retry
    assert L.latest_attempt(spark, path) == 1
    got = L.read_latest(spark, path, with_provenance=False)
    assert got.count() == li.count()


def test_lineage_premarker_table_falls_back_to_legacy(spark, tmp_path):
    """Migration path: a table written entirely before _COMMITTED markers
    existed (no marker under ANY attempt) must stay readable via the
    legacy has-data/no-_temporary judgment — but the moment any attempt
    carries a marker, markers are the only authority and unmarked
    attempts are treated as in-flight."""
    import os

    from shuttle_spark.catalog import load_table
    from shuttle_spark.operators import lineage as L

    li = (
        load_table(spark, "/root/testdata/sf0.001", "lineitem")
        .select("l_orderkey", "l_linenumber")
        .limit(200)
    )
    path = str(tmp_path / "t")
    L.write_attempt(li.limit(50), path, app_attempt=0)
    L.write_attempt(li, path, app_attempt=1)
    # simulate a pre-marker (round-4) table: strip every marker
    for a in (0, 1):
        os.remove(f"{path}/{L.ATTEMPT_COL}={a}/{L.COMMIT_MARKER}")
    assert L.latest_attempt(spark, path) == 1  # legacy fallback
    assert L.read_latest(spark, path, with_provenance=False).count() == 200

    # restore ONE marker: marker-era rules take over, unmarked attempt 1
    # is now in-flight/abandoned, committed attempt 0 wins
    open(f"{path}/{L.ATTEMPT_COL}=0/{L.COMMIT_MARKER}", "w").close()
    assert L.latest_attempt(spark, path) == 0
    assert L.read_latest(spark, path, with_provenance=False).count() == 50


def test_lineage_attempts_write_isolated_dirs(spark, tmp_path):
    """Each attempt writes DIRECTLY into its own _app_attempt=N dir (no
    shared _temporary staging at the table root), re-running an attempt id
    overwrites only itself, and a committed EMPTY attempt reads back as 0
    rows with a schema instead of failing schema inference."""
    from pyspark.sql import functions as F

    from shuttle_spark.catalog import load_table
    from shuttle_spark.operators import lineage as L

    li = (
        load_table(spark, "/root/testdata/sf0.001", "lineitem")
        .select("l_orderkey", "l_linenumber")
        .limit(100)
    )
    path = str(tmp_path / "t")
    L.write_attempt(li.limit(30), path, app_attempt=0)
    L.write_attempt(li.limit(60), path, app_attempt=1)
    # re-run of attempt 1 replaces ONLY its own directory
    L.write_attempt(li, path, app_attempt=1, write_version=1)
    assert L.read_latest(spark, path, with_provenance=False).count() == 100
    audit = {
        r[L.ATTEMPT_COL]: r["rows"]
        for r in L.audit_stale_rows(spark, path).collect()
    }
    assert audit == {0: 30, 1: 100}

    # committed empty attempt: marker exists AND a schema-bearing file
    empty = str(tmp_path / "empty")
    L.write_attempt(li.filter(F.lit(False)), empty, app_attempt=0)
    assert L.latest_attempt(spark, empty) == 0
    back = L.read_latest(spark, empty, with_provenance=False)
    assert back.count() == 0
    assert "l_orderkey" in back.columns
