"""Catalog: the driver's testdata parquet tables as DataFrames/temp views.

Schemas are declared (FIXTURES.md), not inferred — parquet footers carry them,
but declaring the expectation lets us fail fast on drift.  Load pattern is a
plain ``spark.read.parquet`` so Catalyst gets predicate pushdown, column
pruning and partition pruning for free on every contract query.

Loading a table runs no Spark write.  A source too sequential to scan in
parallel is re-laid once per session by a streamed pyarrow rewrite on the
driver (``_ingest_relayout``); ``events.props_v``, the VARIANT form of the
JSON ``props`` string, is declared as a query-time parse, and the queries
that read it take the parse-once copy ``load_events_variant`` stages on
first use.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from shuttle_spark.cache import staged_dir
from shuttle_spark.session import _scoped_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# DataFrame reuse across queries in one session: re-creating a reader per
# query re-lists files and re-reads footers; the logical plan is immutable so
# sharing it is safe.  Keyed by application id so a fresh session misses.
_df_cache: dict[tuple[str, str, str], DataFrame] = {}

# Below this size a 1-task scan is cheaper than any relayout.
_RELAYOUT_MIN_BYTES = 256 << 10
# At/above this size split planning alone parallelizes a multi-row-group
# file, so a single-file rewrite (order-preserving) suffices.
_RELAYOUT_SPLIT_BYTES = 4 << 20
_RELAYOUT_ROW_GROUP_BYTES = 1 << 20
_RELAYOUT_SMALL_FILES = 16


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _parquet_parts(path: str) -> list[str]:
    """The data files of a table source: one parquet file (the driver's
    testdata) or the sorted parquet parts of a directory (.scaledata
    expansions); none for a missing path."""
    if os.path.isfile(path):
        return [path]
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        )
    return []


def source_bytes(path: str) -> int:
    """Total data bytes of a table source.  os.path.getsize on a directory
    returns the inode size (~4 KB) — never use it to size a table."""
    return sum(os.path.getsize(p) for p in _parquet_parts(path))


def source_rows(path: str) -> int:
    """Row count from parquet footer metadata (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in _parquet_parts(path))


def _ingest_relayout(spark: SparkSession, sf_dir: str, name: str) -> str | None:
    """Re-lay a pathologically-sequential parquet source once per session.

    The driver's testdata files carry a SINGLE row group each, and a row
    group is parquet's atomic scan unit — so every scan of a 25 MB lineitem
    is structurally ONE task no matter the split conf, serializing all
    downstream per-row work (md5, regex, decimal) onto one core.  This is
    the ingest twin of what the reference's shuffle workers do on write:
    re-group incoming records into sequential, parallel-readable files
    (README.md:7 "small random IO into sequential IO";
    ShuffleStageSpace.java:181-205 per-partition writers).  Here: the first
    ``load_table`` of an affected table rewrites it on the driver with
    pyarrow (``_relayout``) into a staged directory (``cache.staged_dir``),
    and every subsequent scan splits across cores.  No Spark job writes it:
    the rewrite streams one batch at a time from the source into a parquet
    writer, keeping the source's column types as they are.

    Two regimes (Spark's split planner works on COMPRESSED file bytes and
    bin-packs small files, so row groups alone cannot parallelize a small
    file):

    * >= 4 MiB compressed: ONE file of ~1 MiB row groups —
      order-preserving (min/max pruning survives); split planning fans it
      across cores.
    * 256 KiB - 4 MiB compressed: round-robin into min(16, parallelism)
      files — these are the small-but-compute-dense tables (documents:
      ~600 KB of text whose regex/shingling work is seconds per core)
      where per-file task assignment is the only parallelism lever.

    Scale posture: the rewrite triggers ONLY when the source has fewer row
    groups than cores — a layout no sane 100 TB deployment has (writers
    emit 64-1024 MiB files of many row groups; io.compact keeps them that
    way).  On real corpora this probe reads one footer and returns None.
    """
    src = table_path(sf_dir, name)
    try:
        parts = _parquet_parts(src)
        size = source_bytes(src)
        if not parts or size < _RELAYOUT_MIN_BYTES or len(parts) >= 4:
            # a multi-file source already parallelizes by file count
            return None
        import pyarrow.parquet as pq

        cores = spark.sparkContext.defaultParallelism
        if pq.ParquetFile(parts[0]).metadata.num_row_groups >= min(4, cores):
            return None
        d = staged_dir(
            spark, src, params=("relayout",),
            build=lambda d: _relayout(
                parts, size, cores, os.path.join(d, f"{name}.parquet")
            ),
        )
        return os.path.join(d, f"{name}.parquet")
    except Exception:
        return None  # any probe/write hiccup -> scan the source as-is


def _relayout(parts: list[str], size: int, cores: int, out: str) -> None:
    """Rewrite ``parts`` into the directory ``out`` in the regime ``size``
    picks (``_ingest_relayout``), streaming: the driver holds one record
    batch at a time, never the table.  Every batch written is one row
    group.  The copy must carry the source's parquet column types: one
    that pyarrow would store differently (an INT96 timestamp, say) fails
    the build, so the caller scans the source instead."""
    import pyarrow.parquet as pq

    files = [pq.ParquetFile(p) for p in parts]
    rows = sum(f.metadata.num_rows for f in files)
    if size >= _RELAYOUT_SPLIT_BYTES:
        # row groups of ~1 MiB of uncompressed data, the measure Spark's
        # parquet.block.size takes
        raw = sum(
            f.metadata.row_group(g).total_byte_size
            for f in files for g in range(f.metadata.num_row_groups)
        )
        n_out = 1
        batch_rows = -(-rows * _RELAYOUT_ROW_GROUP_BYTES // raw)
    else:
        n_out = min(_RELAYOUT_SMALL_FILES, cores)
        batch_rows = -(-rows // n_out)
    os.makedirs(out)
    paths = [os.path.join(out, f"part-{i:05d}.parquet") for i in range(n_out)]
    writers = [
        pq.ParquetWriter(p, files[0].schema_arrow, compression="snappy")
        for p in paths
    ]
    batches = (b for f in files for b in f.iter_batches(batch_size=batch_rows))
    try:
        for i, batch in enumerate(batches):
            writers[i % n_out].write_batch(batch, row_group_size=batch_rows)
    finally:
        for w in writers:
            w.close()
    source_cols = list(files[0].schema)
    for p in paths:
        if list(pq.ParquetFile(p).schema) != source_cols:
            raise ValueError(f"relayout of {parts[0]} changed its column types")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to TIMESTAMP at microsecond grain.

    The driver has shipped two physical encodings across rounds:
    epoch-nanos int64 (parquet TIMESTAMP(NANOS) under nanosAsLong), which
    this floors to micros, and plain parquet timestamp[us], which the
    engine reads directly as TIMESTAMP (``events_raw_schema``,
    ``load_table``) and this leaves alone.  Both map to the instant
    DuckDB sees via ``ts::TIMESTAMP``.
    """
    from pyspark.sql import functions as F

    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _df_cache.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # A timestamp[us] column without a zone is inferred as TIMESTAMP,
        # not TIMESTAMP_NTZ: Spark reads its stored micros as the instant
        # (the UTC wall clock DuckDB's ts::TIMESTAMP sees), whatever the
        # session zone, so no per-row zone cast follows.  Inference runs
        # here, eagerly, so the conf is scoped to this build.
        #
        # nanosAsLong is deliberately NOT restored: the parquet reader
        # re-reads this conf from session state at every EXECUTION of the
        # memoized relation (each query rebuilds its Hadoop conf), so
        # unsetting it here would make later actions on the returned df
        # die with PARQUET_TYPE_ILLEGAL.  It is part of the engine's
        # session contract (session.py sets it at creation; this is the
        # self-heal for driver-created sessions), and its only effect is
        # on TIMESTAMP(NANOS) columns, which vanilla Spark cannot read at
        # all.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        restore = _scoped_conf(
            spark, {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"}
        )
        try:
            path = _ingest_relayout(spark, sf_dir, name) or table_path(sf_dir, name)
            df = normalize_events_ts(spark.read.parquet(path))
        finally:
            restore()
        if "props" in df.columns and "props_v" not in df.columns:
            # The VARIANT column is declared, not stored: a query-time
            # parse (NULL-tolerant, like get_json_object), pruned from
            # every query that does not read it.  Queries that do read it
            # take the parse-once copy (``load_events_variant``).
            from pyspark.sql import functions as F

            df = df.withColumn("props_v", F.try_parse_json("props"))
    else:
        path = _ingest_relayout(spark, sf_dir, name) or table_path(sf_dir, name)
        df = spark.read.parquet(path)
    _df_cache[key] = df
    return df


def load_events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` with ``props_v`` stored as a parquet VARIANT column: the
    JSON parse of ``props`` is paid once per session, by the first query
    that reads the parsed column, instead of once per query (Jackson per
    row is many times dearer than traversing the binary VARIANT).  The
    copy is a Spark write of ``load_table``'s events, staged through
    ``cache.staged_dir``."""
    key = (spark.sparkContext.applicationId, sf_dir, "events:props_v")
    cached = _df_cache.get(key)
    if cached is not None:
        return cached
    ev = load_table(spark, sf_dir, "events")
    d = staged_dir(
        spark, table_path(sf_dir, "events"), params=("props_v",),
        build=lambda d: ev.write.mode("overwrite").parquet(
            os.path.join(d, "events.parquet")),
    )
    df = spark.read.parquet(os.path.join(d, "events.parquet"))
    _df_cache[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (SQL surface of the engine)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
