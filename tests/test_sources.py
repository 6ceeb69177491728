"""Sources/sinks: format round-trips, partition pruning from partitioned
writes, and shuffle-free joins from bucketed tables."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from shuttle_spark import sources as IO
from shuttle_spark.catalog import load_table

SF = "/root/testdata/sf0.001"


def _tmp(name: str) -> str:
    return tempfile.mkdtemp(prefix=f"src_{name}_") + "/data"


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_parquet_roundtrip(spark):
    nation = load_table(spark, SF, "nation")
    p = _tmp("pq")
    IO.write(nation, p, "parquet")
    back = IO.read(spark, p, "parquet")
    assert back.schema == nation.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_csv_roundtrip_requires_schema(spark):
    nation = load_table(spark, SF, "nation")
    p = _tmp("csv")
    IO.write(nation, p, "csv")
    with pytest.raises(ValueError, match="schema"):
        IO.read(spark, p, "csv")
    back = IO.read(spark, p, "csv", schema=nation.schema)
    assert back.schema == nation.schema
    assert back.count() == nation.count()


def test_json_roundtrip(spark):
    region = load_table(spark, SF, "region")
    p = _tmp("json")
    IO.write(region, p, "json")
    back = IO.read(spark, p, "json", schema=region.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, region.collect()))


def test_orc_roundtrip(spark):
    supplier = load_table(spark, SF, "supplier")
    p = _tmp("orc")
    IO.write(supplier, p, "orc", compression="zstd")
    back = IO.read(spark, p, "orc")
    assert back.count() == supplier.count()


def test_partitioned_write_prunes(spark):
    orders = load_table(spark, SF, "orders")
    p = _tmp("part")
    IO.write_partitioned(orders, p, ["o_orderpriority"])
    back = IO.read(spark, p, "parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    txt = _formatted(back)
    # pruning happened at the source: the partition filter is on the scan,
    # and only the matching directory is read
    assert "PartitionFilters" in txt
    want = orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert back.count() == want


def test_bucketed_join_skips_shuffle(spark):
    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer")
    IO.write_bucketed_table(orders, "orders_b", ["o_custkey"], 8)
    IO.write_bucketed_table(customer, "cust_b", ["c_custkey"], 8)
    j = (
        spark.table("orders_b")
        .hint("merge")  # force SMJ so broadcast doesn't mask the bucketing
        .join(
            spark.table("cust_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # bucketing replaced it
    # and the join is still correct
    want = orders.join(customer, F.col("o_custkey") == F.col("c_custkey")).count()
    assert j.count() == want


@pytest.mark.slow
def test_python_datasource_batch(spark):
    """Custom Python DataSource (Spark 4 API): deterministic, partitioned,
    schema-stable batch reads."""
    from shuttle_spark.sources import synthetic

    synthetic.register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 5000)
        .option("partitions", 8)
        .load()
    )
    assert df.count() == 5000
    assert df.rdd.getNumPartitions() == 8
    assert df.schema.simpleString().startswith("struct<event_id:bigint")
    a = sorted(map(tuple, df.limit(50).collect()))
    b = sorted(
        map(
            tuple,
            spark.read.format("synthetic_events")
            .option("rows", 5000)
            .load()
            .limit(50)
            .collect(),
        )
    )
    assert a == b  # bit-reproducible
    # generated ids are exactly 0..4999 once each
    assert df.select("event_id").distinct().count() == 5000


@pytest.mark.slow
def test_python_datasource_stream_equals_batch(spark):
    """The streaming side of the custom source replays the identical rows
    the batch side produces (offsets are pure id ranges)."""
    import tempfile

    from pyspark.sql import functions as F

    from shuttle_spark.sources import synthetic

    synthetic.register(spark)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("max_rows", 3000)
        .option("rows_per_batch", 1000)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("synth_stream")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="synth_ckpt_"))
        .outputMode("append")
        .start()
    )
    # drain micro-batches until latestOffset stops advancing (max_rows hit)
    q.processAllAvailable()
    q.stop()
    got = spark.table("synth_stream")
    batch = (
        spark.read.format("synthetic_events").option("rows", 3000).load()
    )
    assert got.count() == 3000
    assert (
        got.exceptAll(batch).count() == 0 and batch.exceptAll(got).count() == 0
    )
    # and it feeds the engine's aggregation operators directly
    agg = got.groupBy("event_type").agg(F.count("*").alias("cnt"))
    assert agg.count() == 5


def test_compact_small_files(spark, tmp_path):
    """Many tiny files -> few sequential files, content-identical (the
    reference's small-random-IO -> sequential-IO merge at the storage
    layer), with optional sort-on-write clustering for data skipping."""
    from pyspark.sql import functions as F

    from shuttle_spark.sources import io as IO

    src = str(tmp_path / "landing")
    dst = str(tmp_path / "compacted")
    df = spark.range(0, 20_000).withColumn("k", F.col("id") % 64)
    # simulate a landing zone: 64 tiny files
    df.repartition(64).write.parquet(src)
    import glob

    n_src = len(glob.glob(src + "/*.parquet"))
    assert n_src >= 32

    written = IO.compact(
        spark, src, dst, target_file_bytes=1 << 30, sort_within_by=["id"]
    )
    assert written == 1  # tiny data -> one sequential file
    back = spark.read.parquet(dst)
    assert back.count() == 20_000
    assert (
        back.agg(F.sum("id")).collect()[0][0]
        == df.agg(F.sum("id")).collect()[0][0]
    )

    # sort-on-write clustering: row-group min/max of `id` are tight, so a
    # point-range filter could skip row groups (data skipping w/o an index)
    import pyarrow.parquet as pq

    f = glob.glob(dst + "/*.parquet")[0]
    md = pq.ParquetFile(f).metadata
    ranges = []
    for rg in range(md.num_row_groups):
        col = next(
            md.row_group(rg).column(i)
            for i in range(md.row_group(rg).num_columns)
            if md.row_group(rg).column(i).path_in_schema == "id"
        )
        ranges.append((col.statistics.min, col.statistics.max))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint -> skippable


def test_zorder_write_bounds_both_dims(spark, tmp_path):
    """Z-order clustering: after a 2-dim Z-curve write, parquet row-group
    min/max stats are bounded on BOTH dimensions, so filters on either
    column skip row groups; a linear sort bounds only its own column."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from shuttle_spark.sources import io as IO

    n = 1 << 16
    # two independent uniform dims (y decorrelated from x via hashing)
    df = spark.range(0, n).select(
        F.col("id").alias("x"),
        F.abs(F.xxhash64("id") % n).alias("y"),
    )

    def rg_spans(path, col):
        spans = []
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                c = next(
                    md.row_group(rg).column(i)
                    for i in range(md.row_group(rg).num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col
                )
                spans.append(c.statistics.max - c.statistics.min)
        return spans

    zdst = str(tmp_path / "zordered")
    written = IO.zorder_write(
        spark, df, zdst, ["x", "y"], bits=8, n_files=4,
        row_group_bytes=32 * 1024,
    )
    assert written == 4
    back = spark.read.parquet(zdst)
    assert back.count() == n
    assert (
        back.agg(F.sum("x"), F.sum("y")).collect()[0]
        == df.agg(F.sum("x"), F.sum("y")).collect()[0]
    )

    ldst = str(tmp_path / "linear")
    df.repartitionByRange(4, "x").sortWithinPartitions("x").write.option(
        "parquet.block.size", str(32 * 1024)
    ).parquet(ldst)

    full = float(n)
    zx, zy = rg_spans(zdst, "x"), rg_spans(zdst, "y")
    lx, ly = rg_spans(ldst, "x"), rg_spans(ldst, "y")
    avg = lambda s: sum(s) / len(s) / full
    # linear sort: x tight, y full-range.  z-order: BOTH bounded (a row
    # group spans ~2 adjacent curve cells, so the bound is loose-ish but
    # holds on EVERY dimension, which the linear layout cannot offer).
    assert avg(lx) < 0.1 and avg(ly) > 0.8
    assert avg(zx) < 0.45 and avg(zy) < 0.45
    assert len(zx) >= 16  # enough row groups for the property to mean much


@pytest.mark.slow
def test_zorder_write_collapsed_domain_files_nonempty(spark, tmp_path):
    """Low-cardinality dimensions dedupe quantile boundaries, collapsing
    the occupied z-key domain far below 2^(bits*n); slicing the
    THEORETICAL domain would funnel every row into the low slices and
    silently emit fewer/skewed files (ADVICE r6).  With occupied-domain
    slicing every requested file is non-empty and roughly balanced even
    when one dimension is binary."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from shuttle_spark.sources import io as IO

    n = 1 << 14
    df = spark.range(0, n).select(
        F.col("id").alias("x"),
        (F.col("id") % 2).cast("double").alias("y"),  # 2 distinct values
    )
    dst = str(tmp_path / "z_collapsed")
    written = IO.zorder_write(spark, df, dst, ["x", "y"], bits=8, n_files=4)
    assert written == 4
    counts = [
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(dst + "/*.parquet")
    ]
    assert len(counts) == 4 and all(c > 0 for c in counts)
    assert max(counts) <= 4 * min(counts)
    assert spark.read.parquet(dst).count() == n

    # fully-constant dims collapse the occupied domain to ~one key: the
    # writer must clamp file count to the occupied domain, not emit seven
    # empties.  (Spark's writer itself emits one schema-only part-00000
    # artifact when partition 0 is empty — tolerated.)
    cdst = str(tmp_path / "z_const")
    cdf = spark.range(0, 512).select(
        F.lit(1.0).alias("x"), F.lit(2.0).alias("y")
    )
    written = IO.zorder_write(
        spark, cdf, cdst, ["x", "y"], bits=8, n_files=8
    )
    assert written <= 2
    ccounts = [
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(cdst + "/*.parquet")
    ]
    assert sum(1 for c in ccounts if c > 0) == 1 and sum(ccounts) == 512


@pytest.mark.slow
def test_murmur3_matches_spark_hash(spark):
    """_murmur3_int32 must be bit-identical to Spark's Murmur3 over
    IntegerType (seed 42) — zorder_write's deterministic slice placement
    (`_partition_token`) relies on predicting HashPartitioning exactly.
    Covers negative values and the full-int32 edge."""
    from pyspark.sql import functions as F

    from shuttle_spark.sources.io import _murmur3_int32, _partition_token

    vals = list(range(40)) + [-1, -7, 2**31 - 1, -(2**31)]
    rows = spark.createDataFrame(
        [(v,) for v in vals], "v int"
    ).select("v", F.hash("v").alias("h")).collect()
    for r in rows:
        assert _murmur3_int32(r["v"]) == r["h"]
    for n in (2, 3, 4, 7, 16, 64):
        for t in range(n):
            assert _murmur3_int32(_partition_token(t, n)) % n == t


def test_bucket_index_matches_searchsorted(spark):
    """The hand-rendered binary-search CASE tree must agree with
    numpy.searchsorted(side='right') — count of boundaries <= value —
    for arbitrary boundaries, including values at, between, below and
    above every boundary."""
    import numpy as np
    from pyspark.sql import functions as F

    from shuttle_spark.sources.io import _bucket_index

    rng = np.random.default_rng(11)
    boundaries = sorted(set(np.round(rng.uniform(-100, 100, 63), 3)))
    vals = list(
        np.round(rng.uniform(-120, 120, 500), 3)
    ) + boundaries + [b + 1e-9 for b in boundaries] + [-1e9, 1e9]
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    got = [
        r.b
        for r in df.select(
            _bucket_index("v", boundaries).alias("b")
        ).collect()
    ]
    want = np.searchsorted(boundaries, vals, side="right").tolist()
    assert got == want


def test_compact_csv_preserves_every_row(spark):
    """CSV compaction must write headers like the module's own write():
    read() forces header=true, so headerless compacted files would lose
    their first data row to header consumption — silently."""
    import glob
    import tempfile

    from shuttle_spark.catalog import load_table
    from shuttle_spark.sources import io as IO

    c = load_table(spark, "/root/testdata/sf0.001", "customer").select(
        "c_custkey", "c_mktsegment"
    )
    base = tempfile.mkdtemp(prefix="csv_compact_")
    src, dst = base + "/landing", base + "/out"
    IO.write(c.repartition(8), src, "csv", mode="overwrite")
    schema = "c_custkey bigint, c_mktsegment string"
    written = IO.compact(
        spark, src, dst, fmt="csv", schema=schema, target_file_bytes=1 << 20
    )
    assert written >= 1
    back = IO.read(spark, dst, "csv", schema=schema)
    assert back.count() == c.count()
    assert {r["c_custkey"] for r in back.collect()} == {
        r["c_custkey"] for r in c.collect()
    }
