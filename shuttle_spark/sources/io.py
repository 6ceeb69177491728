"""Sources & sinks: batch/stream readers and writers over the Hadoop FS layer.

The reference abstracts its storage behind a FileSystem SPI with local, HDFS,
Alluxio and CFS backends (/root/reference/src/main/java/com/oppo/shuttle/rss/
storage/fs/FileSystem.java:30-110, ServiceLoader registration in
META-INF/services).  Spark ships the same abstraction natively — every reader/
writer here works unchanged against file://, hdfs://, s3a://, oss:// ... URIs;
"switching storage backends" is a path-prefix change, not code.

Design rules encoded here (the 100 TB posture):

* **Schema is declared, never inferred, for text formats.**  CSV/JSON schema
  inference is a full extra pass over the data — acceptable at test SF,
  catastrophic at 100 TB.  ``read`` therefore *requires* a schema for
  csv/json/text and lets parquet/orc use their footers.
* **Partitioned writes** (`write_partitioned`) lay files out as
  ``col=value/`` directories so later reads get partition pruning — the
  persistent analog of the reference's per-partition shuffle files
  (ShuffleFileUtils.java:33-45 builds exactly such a per-partition tree).
* **Bucketed tables** (`write_bucketed_table`) pre-shuffle ONCE at write
  time; subsequent equi-joins/aggs on the bucket key skip their exchange —
  the engine's answer to the reference's worker-side group-by-partition
  (ShuffleStageSpace.java:181-230): pay the partitioning cost once, reuse it
  every query.
"""

from __future__ import annotations

from collections.abc import Sequence

# module-level (not function-local) so pandas_udf's type-hint resolution —
# which evaluates the stringified annotations against module globals under
# ``from __future__ import annotations`` — can see them
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from shuttle_spark.cache import DFCache, approx_quantiles_cached, cache_key

_SELF_DESCRIBING = {"parquet", "orc", "avro"}
_TEXTUAL = {"csv", "json", "text"}


def read(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """Batch read of any supported format.

    parquet/orc: schema from footers (pass one to *enforce*, catching drift
    at plan time).  csv/json/text: schema REQUIRED — inference is a second
    full scan at scale.  CSV defaults: header=true.
    """
    fmt = fmt.lower()
    if fmt in _TEXTUAL and schema is None:
        raise ValueError(
            f"{fmt} needs an explicit schema: inference costs a full extra "
            "pass over the data (unacceptable at scale)"
        )
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "error",
    compression: str | None = None,
    **options: str,
) -> None:
    """Batch write.  Default compression follows Spark (snappy for parquet,
    zstd available via ``compression=``); default mode 'error' refuses to
    clobber — overwriting is an explicit caller decision."""
    writer = df.write.format(fmt.lower()).mode(mode)
    if fmt.lower() == "csv":
        writer = writer.option("header", "true")
    if compression is not None:
        writer = writer.option("compression", compression)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    fmt: str = "parquet",
    mode: str = "error",
    max_records_per_file: int | None = None,
    **options: str,
) -> None:
    """Hive-style partitioned write (``col=value/`` tree) -> partition-pruned
    reads.  ``max_records_per_file`` caps file size against skewed partition
    values (the write-side analog of AQE skew splitting)."""
    writer = df.write.format(fmt.lower()).mode(mode).partitionBy(*partition_by)
    if fmt.lower() == "csv":
        # module-wide CSV convention: read() forces header=true, so every
        # CSV writer must emit headers or round-trips silently lose each
        # file's first data row to header consumption
        writer = writer.option("header", "true")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Joins/aggregations on ``bucket_cols`` between tables bucketed the same
    way plan WITHOUT a shuffle exchange (verified in tests/test_sources.py)
    — the pre-partitioning is amortized across every subsequent query.
    """
    spark = df.sparkSession
    if mode == "overwrite":
        # A fresh (in-memory-catalog) session does not know about a table
        # whose files survive in the warehouse from an earlier session;
        # saveAsTable would refuse the existing location.  Overwrite means
        # overwrite: drop metadata AND clear the location via the Hadoop FS
        # API (works for any warehouse URI, not just file://).
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        jvm = spark._jvm
        if "." in table:
            db, base = table.rsplit(".", 1)
            root = spark.catalog.getDatabase(db).locationUri
        else:
            base = table
            # an unqualified name lives in the CURRENT database, which is
            # only the warehouse root when that database is 'default'
            db = spark.catalog.currentDatabase()
            if db and db != "default":
                root = spark.catalog.getDatabase(db).locationUri
            else:
                root = spark.conf.get("spark.sql.warehouse.dir")
        # Spark stores managed-table directories under the LOWERCASED
        # identifier; deleting the raw-cased path would miss the real
        # location for e.g. 'MyTable' and saveAsTable would still refuse
        loc = jvm.org.apache.hadoop.fs.Path(
            root.rstrip("/") + "/" + base.lower()
        )
        loc.getFileSystem(spark._jsc.hadoopConfiguration()).delete(loc, True)
    writer = df.write.format(fmt.lower()).mode(mode).bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    **options: str,
) -> DataFrame:
    """File-source stream over a landing directory (schema mandatory — a
    stream cannot pre-scan to infer).  ``max_files_per_trigger`` is the
    ingestion backpressure knob."""
    reader = spark.readStream.format(fmt.lower()).schema(schema)
    if fmt.lower() == "csv":
        # match the batch-side convention (read()/write() always use
        # headers): without this, each landing file's header line parses
        # against the schema as one garbage data row per file
        reader = reader.option("header", "true")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def compact(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    fmt: str = "parquet",
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: Sequence[str] | None = None,
    sort_within_by: Sequence[str] | None = None,
    schema: T.StructType | str | None = None,
    row_group_bytes: int | None = None,
    observation=None,
    observed: Sequence = (),
) -> int:
    """Compact a directory of many small files into few sequential ones.

    This IS the reference's founding problem restated at the storage layer:
    shuttle exists to convert M*R small random shuffle reads into large
    sequential ones by merging per-partition streams into one file per
    partition (README.md:7, docs/server-high-level-design.md:48-55;
    ShufflePartitionUnsafeWriter appends blocks to a single partition file).
    A landing zone written by many tasks/micro-batches has the same disease
    — thousands of KB-sized files whose open/seek cost dominates — and the
    same cure: rewrite into ~``target_file_bytes`` sequential files.

    Scale mechanics: file count is derived from the source's actual byte
    size (cheap FS listing, no data pass).  The rewrite keeps the SCAN
    wide: a shuffle-free coalesce(n) is used only while n still keeps the
    cluster busy — coalesce narrows the scan itself to n tasks, so for a
    small n it would serialize the many-small-files read this operator
    exists to fix; below that, one round-robin ``repartition(n)`` exchange
    (no key skew possible) lets every core decode the landing zone while
    exactly n tasks write.  Optional
    ``sort_within_by`` clusters rows inside each output file so
    parquet row-group min/max stats prune later scans (data skipping
    without any index).  With ``partition_by`` the layout stays Hive-
    partitioned.  Returns the number of files written.

    ``row_group_bytes`` caps the parquet row-group size inside each output
    file: one big sequential file stays SPLIT-READABLE (Spark assigns one
    task per row group), so compaction never trades write-side efficiency
    for read-side parallelism — a single 128 MB file with 8 MB row groups
    fans back out to 16 tasks on the next scan.

    ``observation``/``observed``: an optional ``pyspark.sql.Observation``
    plus aggregate Columns (count/sum/checksum...) attached to the rows
    flowing INTO the writer — integrity metrics ride the write job itself
    (observe is a zero-shuffle accumulator), so verifying a compaction
    needs no second full read of the output; pair it with a metadata-only
    ``count()`` of the destination to confirm what landed on disk.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    # getContentSummary is O(files) on object stores — acceptable here
    # because the input is by definition a many-small-files landing zone
    # that is about to be listed for the read anyway.
    total = fs.getContentSummary(hpath).getLength()
    n_files = max(1, int(total // target_file_bytes) + (1 if total % target_file_bytes else 0))

    df = read(spark, src_path, fmt, schema=schema)
    # coalesce(n) is shuffle-free but NARROWS THE SCAN to n tasks (the
    # merged partitions read their input files serially) — use it only
    # while n keeps every core busy.  For a small output count, the
    # round-robin repartition pays one exchange so the scan keeps its
    # full parallelism; when GROWING past the scan's split count the
    # exchange is required anyway.
    scan_parts = df.rdd.getNumPartitions()
    min_busy = spark.sparkContext.defaultParallelism
    if n_files > scan_parts or n_files < min(min_busy, scan_parts):
        out = df.repartition(n_files)
    else:
        # includes n_files == scan_parts: coalesce is a free no-op there,
        # where repartition would pay a full exchange for nothing
        out = df.coalesce(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    if observation is not None:
        out = out.observe(observation, *observed)
    writer = out.write.format(fmt.lower()).mode("overwrite")
    if fmt.lower() == "csv":
        # keep the module's CSV convention on BOTH sides of the rewrite:
        # read() forces header=true, so writing bare rows here would let a
        # later read consume each file's first data row as a header —
        # silent one-row-per-file loss
        writer = writer.option("header", "true")
    if row_group_bytes is not None:
        writer = writer.option("parquet.block.size", str(row_group_bytes))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(dst_path)
    return _count_data_files(spark, dst_path)


def _count_data_files(spark: SparkSession, path: str) -> int:
    """Recursive data-file count under ``path`` (metadata only, `_`/`.`
    entries excluded), on the FILESYSTEM THE PATH LIVES ON — src and dst
    of a compaction may be different backends (file:// landing, s3a://
    warehouse), so the destination count must never reuse the source FS."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(p, True)
    n = 0
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            n += 1
    return n


# ---------------------------------------------------------------------------
# Z-order clustered write (multi-dimension data skipping)
# ---------------------------------------------------------------------------

def _bucket_index(col_sql: str, boundaries: list[float]):
    """0-based bucket of the column (given as a SQL expression string)
    against sorted quantile ``boundaries``, as a BALANCED binary-search
    CASE tree: log2(len(B)) comparisons per row on the taken path, all
    inside whole-stage codegen.  Two rejected alternatives, both measured:
    the array fold (size(filter(lit_array, ...))) runs Spark higher-order
    functions INTERPRETED (~255 lambda frames/row/col — 104 s for a 4.5M
    x 2-dim write vs 13 s); and building the same tree from F.when()
    Column objects costs ~3000 py4j round-trips of DRIVER time (~2 s per
    call) — so the tree is rendered as ONE SQL string and parsed JVM-side
    by a single F.expr."""
    from pyspark.sql import functions as F

    def tree(lo: int, hi: int) -> str:
        # result = count of boundaries <= value, found by binary descent
        if lo >= hi:
            return str(lo)
        mid = (lo + hi) // 2
        b = repr(float(boundaries[mid]))
        return (
            f"(CASE WHEN ({col_sql}) < {b} THEN {tree(lo, mid)}"
            f" ELSE {tree(mid + 1, hi)} END)"
        )

    return F.expr(tree(0, len(boundaries)))


# Session cache of z-keyed plans: a zorder_value plan is ~500 driver-side
# expression nodes (measured 0.37 s to rebuild per call); DataFrames are
# immutable, so the keyed relation is reused outright.  Entries are
# (unevaluated plan, max occupied key).
_zvalue_cache = DFCache(max_size=16)


def clear_zvalue_cache() -> None:
    """Evict cached z-keyed plans, so benches and tests can charge the
    plan-build cost cold."""
    _zvalue_cache.clear()


def zorder_value(
    df: DataFrame, cols: Sequence[str], bits: int = 8,
    quantile_error: float = 0.004,
) -> tuple[DataFrame, str, int]:
    """Add a Morton (Z-curve) key interleaving rank buckets of each
    column; returns (df_with_key, key_col_name, max_occupied_key).

    Each dimension gets only its EFFECTIVE bit width — ceil(log2 of its
    deduped boundary count + 1) — interleaved compactly, low bits first
    (ADVICE r6): when quantile boundaries dedupe (constant or
    low-cardinality columns) a fixed ``bits``-per-dim layout leaves the
    high bit positions of that dimension permanently zero, so the
    occupied keys cluster in coarse runs and any equal-width slicing of
    the domain (zorder_write's metadata file boundaries) yields empty or
    wildly skewed slices.  Compact low-bits-first interleave keeps the
    unoccupied patterns FINE-GRAINED, so equal-width slices of
    [0, max_occupied_key] stay balanced.  The returned max key is exact:
    per-dimension bit placement is order-preserving, so the largest
    occupied key is the interleave of the per-dimension max indices.

    Rank buckets come from ``approxQuantile`` boundaries (one sample-based
    pass per call, driver-size = 2^bits scalars — scale-safe; the same
    approach Delta's OPTIMIZE ZORDER takes with range IDs), so skewed or
    arbitrary-unit columns still spread uniformly across the curve.
    Boundaries are session-cached (cache.approx_quantiles_cached): curve
    balance is a statistic, not a correctness input, so a repeat layout of
    the same relation skips the quantile scan — ANALYZE once, lay out many
    times.

    The bucket-and-interleave kernel is ONE Arrow-vectorized pandas UDF
    (np.searchsorted + numpy bit interleave).  The all-expression
    alternative — a balanced binary-search CASE tree per dimension
    (_bucket_index) plus a bits*dims-term shift/OR chain — was measured at
    ~3.5 µs/row (a ~500-node tree per row, evaluated TWICE per write: the
    range partitioner's sampling pass and the write pass) vs ~0.05 µs/row
    for the numpy kernel; at a 100 TB layout that is the difference
    between ~350 and ~10 CPU-hours, worth one Arrow hop of two double
    columns.  ``len(cols) * bits`` must stay under 63.  NULL/NaN values
    land in the TOP bucket of their dimension (clustered together at the
    curve end — np.searchsorted orders NaN above every boundary, the same
    placement the CASE tree gave) — filter or impute first if another
    placement is wanted."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    n = len(cols)
    if n * bits > 62:
        raise ValueError(f"{n} cols x {bits} bits exceeds a long")
    key = cache_key(df, params=(tuple(cols), bits, quantile_error))
    hit = _zvalue_cache.get(key)
    if hit is not None:
        return hit[0], "__z", hit[1]
    nb = (1 << bits) - 1  # buckets per dim - 1 boundaries
    probs = [i / (nb + 1) for i in range(1, nb + 1)]
    # ONE quantile job for all dimensions (multi-column approxQuantile),
    # not one scan per dimension.  quantile_error ~ one 8-bit bucket width
    # (1/256): boundaries may be off by ±1 bucket, which perturbs curve
    # balance negligibly but cuts the GK-summary merge cost ~2.5x vs
    # err=0.001 (measured 1.3s -> 0.5s at 150k rows x 2 cols).
    casted = df.select(*[F.col(c).cast("double").alias(c) for c in cols])
    all_bounds = approx_quantiles_cached(casted, list(cols), probs, quantile_error)
    bounds_arrays: list[np.ndarray] = []
    for c, bounds in zip(cols, all_bounds):
        # dedupe (constant columns yield repeated boundaries) and drop
        # non-finite boundaries: NaN/Inf values in the column can surface
        # as approxQuantile boundaries and would corrupt the bucket search.
        # Dropping them is safe — non-finite rows land in the top bucket
        # regardless; an all-non-finite column is a caller error worth
        # naming.
        finite = sorted({b for b in set(bounds) if math.isfinite(b)})
        if bounds and not finite:
            raise ValueError(
                f"z-order column {c!r}: every quantile boundary is "
                "NaN/Inf — filter or impute the column before zorder_write"
            )
        bounds_arrays.append(np.asarray(finite, dtype=np.float64))

    # Type-hint form (the deprecated PandasUDFType enum is retired): the
    # hint inference rejects *args signatures, so the N dimensions ride ONE
    # struct column — Arrow delivers a struct batch as a pd.DataFrame whose
    # column order is the struct field order, i.e. ``cols`` order, still
    # fully vectorized.
    # Effective bit width per dimension (indices run [0, len(bounds)])
    # and the compact low-bits-first position map: bit b of dim i lands
    # at pos[i][b], assigned round-robin across dims that still have a
    # bit b.  For full-cardinality dims this reproduces the classic
    # b*n+i layout exactly; collapsed dims just stop claiming positions.
    max_idx = [len(b) for b in bounds_arrays]
    eff_bits = [max(1, int(m).bit_length()) for m in max_idx]
    pos: list[list[int]] = [[] for _ in bounds_arrays]
    p = 0
    for b in range(max(eff_bits)):
        for i, eb in enumerate(eff_bits):
            if b < eb:
                pos[i].append(p)
                p += 1
    z_hi = 0
    for i, m in enumerate(max_idx):
        for b, zb in enumerate(pos[i]):
            z_hi |= ((m >> b) & 1) << zb

    @F.pandas_udf("long")
    def _zkey(dims: pd.DataFrame) -> pd.Series:
        z = np.zeros(len(dims), dtype=np.int64)
        for i, bnds in enumerate(bounds_arrays):
            v = dims.iloc[:, i].to_numpy(dtype=np.float64, na_value=np.nan)
            # bucket = count of boundaries <= value; NULL/NaN -> top bucket
            idx = np.searchsorted(bnds, v, side="right").astype(np.int64)
            idx[np.isnan(v)] = len(bnds)
            for b, zb in enumerate(pos[i]):
                z |= ((idx >> b) & 1) << zb
        return pd.Series(z)

    out = df.withColumn(
        "__z",
        _zkey(
            F.struct(
                *[
                    F.col(c).cast("double").alias(f"d{i}")
                    for i, c in enumerate(cols)
                ]
            )
        ),
    )
    _zvalue_cache.put(key, (out, z_hi))
    return out, "__z", z_hi


def _murmur3_int32(v: int, seed: int = 42) -> int:
    """Murmur3 x86_32 of a 32-bit int, bit-identical to Spark's
    ``Murmur3Hash`` over an IntegerType column (the hash behind both
    ``F.hash`` and ``HashPartitioning`` — seed 42); returns the SIGNED
    32-bit result Spark reports.  Pure-Python restatement of the public
    Murmur3 finalizer (also in Guava/Murmur3_x86_32.hashInt); verified
    against ``F.hash`` in tests/test_sources.py."""
    k = (v & 0xFFFFFFFF) * 0xCC9E2D51 & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = k * 0x1B873593 & 0xFFFFFFFF
    h = seed ^ k
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # total byte length
    h ^= h >> 16
    h = h * 0x85EBCA6B & 0xFFFFFFFF
    h ^= h >> 13
    h = h * 0xC2B2AE35 & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= 1 << 31 else h


def _partition_token(target: int, n_parts: int) -> int:
    """Smallest non-negative int whose Spark hash-partition assignment
    (``pmod(murmur3(x), n_parts)``) is ``target`` — lets a caller steer a
    row to an exact partition through ``repartition(n, col)`` without a
    range exchange.  Expected search length is ~n_parts tries."""
    x = 0
    while _murmur3_int32(x) % n_parts != target:
        x += 1
    return x


def zorder_write(
    spark: SparkSession,
    df: DataFrame,
    dst_path: str,
    cols: Sequence[str],
    bits: int = 8,
    n_files: int = 8,
    fmt: str = "parquet",
    row_group_bytes: int | None = None,
    quantile_error: float = 0.004,
    observation=None,
    observed: Sequence = (),
) -> int:
    """Write ``df`` clustered on the Z-curve over ``cols`` so parquet
    row-group min/max stats prune scans filtered on ANY of the dimensions
    (linear sort-on-write clusters one column perfectly and leaves the
    rest full-range; the Z-curve bounds every dimension's per-row-group
    range at ~range/2^(bits_used/n) — the standard lakehouse multi-column
    OPTIMIZE layout).  One range exchange on the key, sorted within
    files; returns files written.

    ``observation``/``observed``: as in ``compact`` — integrity metrics
    observed on the rows entering the writer (attached ABOVE the range
    exchange so the partitioner's sampling pass never double-counts),
    letting callers verify the write without re-scanning the output."""
    keyed, zcol, z_hi = zorder_value(df, cols, bits, quantile_error)
    # Deterministic range slicing instead of ``repartitionByRange``: the
    # z-key is quantile-bucketed per dimension by construction, so it is
    # ~uniform on the OCCUPIED key domain and the file boundaries are
    # METADATA (equal slices of that domain) — the RangePartitioner's
    # reservoir-sampling pass (a full extra scan evaluating the z-key UDF
    # per row, measured ~0.3 s at sf0.1 and a whole redundant 100 TB scan
    # at scale) buys nothing the cached quantile statistics don't already
    # guarantee.  ``repartition(n, col)`` hash-places partitions, so each
    # contiguous slice id is remapped driver-side to a TOKEN whose murmur3
    # hash lands it in exactly that partition — z-contiguous files, same
    # layout the range exchange produced, zero sampling jobs.
    import pyspark.sql.functions as F

    # Occupied domain, not the theoretical 2^(bits*n): zorder_value's
    # compact interleave tops out at exactly z_hi when quantile boundaries
    # dedupe (constant / low-cardinality columns) — slicing [0, 2^(bits*n))
    # would funnel every row into the low slices and emit empty files
    # (ADVICE r6).
    domain = z_hi + 1
    # Fewer occupied keys than requested files -> clamp: every emitted
    # file stays non-empty by construction (degenerate constant-column
    # layouts collapse to one file, which IS the data's layout).
    files_eff = max(1, min(n_files, domain))
    width = -(-domain // files_eff)  # ceil
    tokens = [_partition_token(t, files_eff) for t in range(files_eff)]
    # integer division (``div``), not ``/``: float division of a 62-bit
    # key would misround slice ids near boundaries
    tok = F.element_at(
        F.array(*[F.lit(t) for t in tokens]),
        F.expr(f"CAST(`{zcol}` DIV {width}L AS INT) + 1"),
    )
    out = keyed.repartition(files_eff, tok).sortWithinPartitions(zcol)
    out = out.drop(zcol)
    if observation is not None:
        out = out.observe(observation, *observed)
    writer = out.write.format(fmt.lower()).mode("overwrite")
    if row_group_bytes is not None:
        writer = writer.option("parquet.block.size", str(row_group_bytes))
    writer.save(dst_path)
    return _count_data_files(spark, dst_path)
