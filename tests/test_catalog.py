"""catalog.load_table at the bench scale: the ingest relayout copies each
table exactly (rows, Spark schema, event-time instants) into a layout that
scans in parallel, and loading a table runs no Spark write."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from shuttle_spark import cache
from shuttle_spark import catalog as C
from shuttle_spark import observability as O
from shuttle_spark.session import _scoped_conf
from conftest import SMOKE_SF

# the bench-scale corpus beside the smoke one
SF01 = os.path.join(os.path.dirname(SMOKE_SF), "sf0.1")

# the events scan takes TIMESTAMP for its zone-less ts, as load_table does
_EVENTS_CONF = {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"}


@pytest.mark.parametrize("name", ["events", "documents", "orders", "lineitem"])
def test_relayout_copies_the_source(spark, name):
    """The staged copy holds the source's rows and Spark schema and scans
    in at least min(4, parallelism) partitions that carry rows."""
    staged = C._ingest_relayout(spark, SF01, name)
    assert staged is not None, f"{name} at sf0.1 is re-laid"
    restore = _scoped_conf(spark, _EVENTS_CONF if name == "events" else {})
    try:
        src = spark.read.parquet(C.table_path(SF01, name))
        copy = spark.read.parquet(staged)
    finally:
        restore()
    assert copy.schema == src.schema
    assert copy.exceptAll(src).count() == 0
    assert src.exceptAll(copy).count() == 0
    filled = copy.groupBy(F.spark_partition_id()).count().count()
    assert filled >= min(4, spark.sparkContext.defaultParallelism)


def test_relayout_events_ts_is_the_source_instant_in_any_zone(spark):
    """Under a non-UTC session zone the loaded events.ts (read from the
    staged copy) is the same TIMESTAMP, rendered the same, as a direct
    read of the source."""
    assert C._ingest_relayout(spark, SF01, "events") is not None
    restore = _scoped_conf(spark, dict(
        _EVENTS_CONF, **{"spark.sql.session.timeZone": "America/Los_Angeles"}
    ))
    try:
        cols = ["event_id", "ts", F.col("ts").cast("string").alias("ts_text")]
        loaded = C.load_table(spark, SF01, "events").select(*cols)
        src = C.normalize_events_ts(
            spark.read.parquet(C.table_path(SF01, "events"))
        ).select(*cols)
        assert dict(loaded.dtypes)["ts"] == "timestamp" == dict(src.dtypes)["ts"]
        assert loaded.exceptAll(src).count() == 0
        assert src.exceptAll(loaded).count() == 0
    finally:
        restore()


def test_load_table_runs_no_spark_write(spark, monkeypatch):
    """Loading every table from cold (no memoized relation, no staged
    copy) re-lays the sequential sources without any stage that writes
    output or shuffle bytes."""
    monkeypatch.setattr(C, "_df_cache", {})
    monkeypatch.setattr(cache, "_staged", {})
    for name in C.TABLES:
        _, m = O.measure(spark, lambda: C.load_table(spark, SF01, name))
        assert all(s.output_bytes == 0 for s in m.stages), name
        assert all(s.shuffle_write_bytes == 0 for s in m.stages), name
    relaid = [n for n in C.TABLES if C._ingest_relayout(spark, SF01, n)]
    assert {"events", "documents", "orders", "lineitem"} <= set(relaid)
