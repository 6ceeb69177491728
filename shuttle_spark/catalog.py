"""Catalog: the driver's testdata parquet tables as DataFrames/temp views.

Schemas are declared (FIXTURES.md), not inferred — parquet footers carry them,
but declaring the expectation lets us fail fast on drift.  Load pattern is a
plain ``spark.read.parquet`` so Catalyst gets predicate pushdown, column
pruning and partition pruning for free on every contract query.
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


def source_bytes(path: str) -> int:
    """Total data bytes of a table source: one parquet file (the driver's
    testdata) or a directory of part files (.scaledata expansions).
    os.path.getsize on a directory returns the inode size (~4 KB) — never
    use it to size a table."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return 0


def source_rows(path: str) -> int:
    """Row count from parquet footer metadata (no Spark job), handling
    both single-file and directory-of-parts sources."""
    import pyarrow.parquet as pq

    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


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
    ``load_table`` of an affected table rewrites it into 1 MiB row groups
    in a staged directory (``cache.staged_dir``), and every subsequent
    scan splits across cores.

    Two regimes (Spark's split planner works on COMPRESSED file bytes and
    bin-packs small files, so row groups alone cannot parallelize a small
    file):

    * >= 4 MiB compressed: rewrite in place as ONE file of 1 MiB row
      groups — order-preserving (min/max pruning survives); split planning
      fans it across cores.
    * 256 KiB - 4 MiB compressed: round-robin into 16 files — these are
      the small-but-compute-dense tables (documents: ~3 MB of text whose
      regex/shingling work is seconds per core) where per-file task
      assignment is the only parallelism lever.

    Scale posture: the rewrite triggers ONLY when the source has fewer row
    groups than cores — a layout no sane 100 TB deployment has (writers
    emit 64-1024 MiB files of many row groups; io.compact keeps them that
    way).  On real corpora this probe reads one footer and returns None.
    The staging cost is paid once per session and is charged to the
    suite's cold numbers (BASELINE.md).
    """
    src = table_path(sf_dir, name)
    try:
        # Source may be one parquet file (the driver's testdata) or a
        # directory of part files (.scaledata expansions): probe the first
        # part for schema/row-group layout, sum the parts for size.
        probe = src
        size = source_bytes(src)
        if os.path.isfile(src):
            n_groups_known = True
        elif os.path.isdir(src):
            parts = sorted(
                os.path.join(src, f)
                for f in os.listdir(src)
                if f.endswith(".parquet")
            )
            probe = parts[0] if parts else src
            # a multi-file source already parallelizes by file count
            n_groups_known = len(parts) < 4
        if size >= _RELAYOUT_MIN_BYTES and os.path.isfile(probe):
            import pyarrow.parquet as pq

            cores = spark.sparkContext.defaultParallelism
            meta = pq.ParquetFile(probe)
            # events additionally restages when the source lacks the
            # parse-once VARIANT column (see below): the JSON parse is an
            # ingest cost by design, so a raw-string source is re-laid
            # even when its row-group layout is already parallel.
            needs_variant = (
                name == "events"
                and "props" in meta.schema_arrow.names
                and "props_v" not in meta.schema_arrow.names
            )
            few_groups = (
                n_groups_known
                and meta.metadata.num_row_groups < min(4, cores)
            )
            if few_groups or needs_variant:
                d = staged_dir(
                    spark, src, params=("relayout",),
                    build=lambda d: _relayout(spark, src, name, size, cores, d),
                )
                return os.path.join(d, f"{name}.parquet")
    except Exception:
        pass  # any probe/write hiccup -> scan the source as-is
    return None


def _relayout(
    spark: SparkSession, src: str, name: str, size: int, cores: int, d: str
) -> None:
    df = spark.read.parquet(src)
    if name == "events" and "props" in df.columns:
        # Parse-once VARIANT shredding at ingest: events.props is a JSON
        # *string* in the source, and re-parsing it with Jackson on every
        # JSON-touching query was the single worst kernel residual vs
        # DuckDB's yyjson (29.6x marginal on the scale curve).  The
        # relayout already rewrites the table once per session, so the
        # parse rides that write: props_v is stored as a parquet VARIANT
        # column and every subsequent variant_get is binary traversal, no
        # JSON parse.  The raw string column stays for the compat twin
        # (json_extract_agg_compat).  This mirrors the reference's
        # consumption pattern — aggregate over pre-structured data
        # (Ors2ShuffleManagerTest.scala:74-79), parse paid once at ingest.
        # try_parse_json: a malformed props string yields NULL (the
        # get_json_object tolerance), never a failed ingest — one bad row
        # must not take down the corpus restage.
        from pyspark.sql import functions as F

        df = df.withColumn("props_v", F.try_parse_json("props"))
    if size < _RELAYOUT_SPLIT_BYTES:
        df = df.repartition(min(_RELAYOUT_SMALL_FILES, cores))
    (
        df.write.option("parquet.block.size", _RELAYOUT_ROW_GROUP_BYTES)
        .mode("overwrite")
        .parquet(os.path.join(d, f"{name}.parquet"))
    )


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
            if "props" in df.columns and "props_v" not in df.columns:
                # Relayout skipped (tiny table / disabled): declare the
                # variant column in the loaded relation instead — same
                # schema either way, parse at query time (NULL-tolerant,
                # matching the staged path), pruned when untouched.
                from pyspark.sql import functions as F

                df = df.withColumn("props_v", F.try_parse_json("props"))
        finally:
            restore()
    else:
        path = _ingest_relayout(spark, sf_dir, name) or table_path(sf_dir, name)
        df = spark.read.parquet(path)
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
