"""Structured Streaming correctness: every streaming operator replayed to
completion must equal its batch twin on the finalized (watermark-passed)
subset — the stream/batch-equivalence protocol of SURVEY §7 Phase 3.

The watermark cutoff mirrors the reference's finalize barrier: only slices
the engine has declared complete are compared, exactly as the reference's
readers only consume `_final` partition files
(ShufflePartitionReader.java:134-153).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from shuttle_spark import observability as O
from shuttle_spark import session as S
from shuttle_spark.catalog import load_table
from shuttle_spark.operators import dedup as D
from shuttle_spark.streaming import (
    events_stream,
    run_available_now,
    session_agg_stream,
    stream_dedup,
    stream_keep_latest,
    windowed_agg_stream,
)

SF = "/root/testdata/sf0.001"
WATERMARK = dt.timedelta(hours=2)


def _events(spark):
    return load_table(spark, SF, "events")


def _cutoff(spark) -> dt.datetime:
    return _events(spark).agg(F.max("ts")).collect()[0][0] - WATERMARK


def _rows(df, *order_cols):
    return sorted(tuple(r) for r in df.collect())


def _subdirs(tmp_path, *names: str) -> list[str]:
    """New empty directories under pytest's ``tmp_path``."""
    for name in names:
        (tmp_path / name).mkdir()
    return [str(tmp_path / name) for name in names]


def test_windowed_agg_stream_equals_batch(spark):
    got = run_available_now(
        windowed_agg_stream(events_stream(spark, SF), "1 hour", "2 hours"),
        "wa_stream",
    )
    cutoff = _cutoff(spark)
    batch = (
        _events(spark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
        .filter(F.col("win.end") <= F.lit(cutoff))
        .select(F.col("win.start").alias("w"), "event_type", "cnt", "sum_value")
    )
    want = _rows(batch)
    assert len(want) > 50
    assert _rows(got.filter(F.col("w") + F.expr("INTERVAL 1 HOUR") <= F.lit(cutoff))) == want


@pytest.mark.slow
def test_session_stream_equals_batch(spark):
    got = run_available_now(
        session_agg_stream(events_stream(spark, SF), "30 minutes", "2 hours"),
        "sess_stream",
    )
    cutoff = _cutoff(spark)
    batch = (
        _events(spark)
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .filter(F.col("session_end") <= F.lit(cutoff))
    )
    want = _rows(batch)
    assert len(want) > 100
    assert _rows(got.filter(F.col("session_end") <= F.lit(cutoff))) == want


def test_stream_dedup_is_exact_on_unique_keys(spark):
    got = run_available_now(
        stream_dedup(events_stream(spark, SF), ["event_id"], "2 hours"),
        "dedup_stream",
    )
    # event_id is unique, so dedup must be the identity on this input.
    assert got.count() == _events(spark).count()
    assert got.select("event_id").distinct().count() == got.count()


@pytest.mark.slow
def test_stream_keep_latest_equals_batch(spark):
    got = run_available_now(
        stream_keep_latest(events_stream(spark, SF)), "kl_stream"
    )
    cutoff = _cutoff(spark)
    latest = D.keep_latest(
        _events(spark), ["user_id"], [F.desc("ts"), F.desc("event_id")]
    )
    # Only keys whose final event predates the watermark have timed out.
    want = _rows(
        latest.filter(F.col("ts") < F.lit(cutoff)).select(
            "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "event_type"
        )
    )
    assert want  # at 15 users over 30 days, some quiesce before the cutoff
    assert _rows(got) == want


@pytest.mark.slow
def test_stream_file_sink_roundtrip(spark, tmp_path):
    """Streaming ETL to a parquet file sink (AvailableNow): the output of a
    replayed windowed aggregation lands as parquet and reads back equal to
    the memory-sink result."""
    out_dir = str(tmp_path)
    stream = windowed_agg_stream(events_stream(spark, SF), "1 hour", "2 hours")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir + "/data")
        .option("checkpointLocation", out_dir + "/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out_dir + "/data")
    mem = run_available_now(
        windowed_agg_stream(events_stream(spark, SF), "1 hour", "2 hours"),
        "sink_twin",
    )
    assert _rows(back) == _rows(mem)


def test_upsert_sink_is_idempotent_and_matches_batch(spark, tmp_path):
    """Replaying the whole stream into the SAME state path (fresh
    checkpoint — every batch re-runs) must rebuild the identical state:
    the per-batch merge is idempotent, which is what makes checkpoint
    recovery exactly-once."""
    from pyspark.sql import functions as F

    from shuttle_spark.catalog import load_table
    from shuttle_spark.operators import dedup as D
    from shuttle_spark.streaming import events_stream_multi, run_upsert_sink

    sf = "/root/testdata/sf0.001"
    path = str(tmp_path)
    s1 = run_upsert_sink(
        events_stream_multi(spark, sf, n_files=4), path, shuffle_partitions=4
    )
    rows1 = sorted(tuple(r) for r in s1.collect())

    # batch twin: keep-latest over the full table
    batch = D.keep_latest(
        load_table(spark, sf, "events"),
        ["user_id"],
        [F.col("ts").desc(), F.col("event_id").desc()],
    ).select("user_id", "ts", "event_id", "event_type")
    rows_b = sorted(tuple(r) for r in batch.collect())
    assert rows1 == rows_b

    # full re-replay into the same path (fresh checkpoint): same state
    s2 = run_upsert_sink(
        events_stream_multi(spark, sf, n_files=4), path, shuffle_partitions=4
    )
    rows2 = sorted(tuple(r) for r in s2.collect())
    assert rows2 == rows1


@pytest.mark.slow
def test_upsert_sink_zero_batch_stream_is_empty_state(spark, tmp_path):
    """A stream over an empty landing dir runs zero batches; the sink must
    return empty state (not IndexError on a fresh versionless path —
    ADVICE r3)."""
    from shuttle_spark.sources.io import read_stream
    from shuttle_spark.streaming import run_upsert_sink

    landing, state_path = _subdirs(tmp_path, "landing", "state")
    stream = read_stream(
        spark,
        landing,
        "event_id long, user_id long, event_type string,"
        " ts timestamp, value double, props string",
    )
    state = run_upsert_sink(stream, state_path, shuffle_partitions=2)
    assert state.count() == 0
    assert set(state.columns) == {"user_id", "ts", "event_id", "event_type"}


def test_decontaminate_sink_zero_batch_stream_is_empty_corpus(spark, tmp_path):
    """The decontaminate sink's twin of the upsert zero-batch guard: a
    stream over an empty landing dir runs zero batches, so no b{batch_id}
    dir ever exists — the sink must return the empty corpus, not die on
    an unmatchable b* glob (PATH_NOT_FOUND)."""
    from shuttle_spark.catalog import load_table
    from shuttle_spark.sources.io import read_stream
    from shuttle_spark.streaming import run_stream_decontaminate

    landing, out = _subdirs(tmp_path, "landing", "out")
    stream = read_stream(
        spark, landing, "doc_id long, lang string, text string"
    )
    bench = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .limit(5)
    )
    clean = run_stream_decontaminate(stream, bench, out, shuffle_partitions=2)
    assert clean.count() == 0
    assert "doc_id" in clean.columns


def test_decontaminate_sink_ignores_uncommitted_batch_dir(spark, tmp_path):
    """A b{batch_id} dir without _SUCCESS (crash mid-write) must be
    invisible to the returned corpus."""
    from shuttle_spark.catalog import load_table
    from shuttle_spark.sources.io import read_stream
    from shuttle_spark.streaming import run_stream_decontaminate

    landing, out = _subdirs(tmp_path, "landing", "out")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    docs.limit(20).coalesce(1).write.mode("overwrite").parquet(landing)
    # fake a crashed prior batch: data file present, no _SUCCESS
    crashed = os.path.join(out, "b999")
    docs.limit(3).coalesce(1).write.mode("overwrite").parquet(crashed)
    os.remove(os.path.join(crashed, "_SUCCESS"))
    bench = docs.limit(2)
    stream = read_stream(
        spark, landing, "doc_id long, lang string, text string"
    )
    clean = run_stream_decontaminate(stream, bench, out, shuffle_partitions=2)
    got = {r["doc_id"] for r in clean.select("doc_id").collect()}
    crashed_ids = {r["doc_id"] for r in docs.limit(3).collect()}
    # the committed batch's survivors are present; nothing comes from b999
    assert clean.count() <= 20
    assert not (got - {r["doc_id"] for r in docs.limit(20).collect()})
    assert os.path.isdir(crashed)  # still on disk, just never read


def test_upsert_sink_never_reads_uncommitted_only_version(spark, tmp_path):
    """Zero-batch run over a state path whose ONLY version dir lacks
    _SUCCESS (crash before first commit): the sink must return empty
    state, not read the partial dir its own guard says it never picks."""
    from shuttle_spark.catalog import load_table
    from shuttle_spark.sources.io import read_stream
    from shuttle_spark.streaming import run_upsert_sink

    landing, state_path = _subdirs(tmp_path, "landing", "state")
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    ev.limit(5).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(state_path, "v0")
    )
    os.remove(os.path.join(state_path, "v0", "_SUCCESS"))
    stream = read_stream(
        spark,
        landing,
        "event_id long, user_id long, event_type string,"
        " ts timestamp, value double, props string",
    )
    state = run_upsert_sink(stream, state_path, shuffle_partitions=2)
    assert state.count() == 0


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@pytest.mark.slow
@given(
    window=st.sampled_from(["30 minutes", "1 hour", "3 hours"]),
    watermark=st.sampled_from(["1 hour", "2 hours"]),
    key=st.sampled_from(["event_type", "user_id"]),
    mod=st.integers(0, 3),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fuzz_stream_batch_window_equivalence(spark, window, watermark, key, mod):
    """Differential fuzz across the BATCH/STREAM boundary: a tumbling
    window agg spec (window x watermark x key x predicate) executed as an
    actual Structured Streaming replay must equal the batch computation
    restricted to closed windows (window end at/before max event time
    minus the watermark) — the finalization rule the stream_window_agg
    contract pins for one fixed spec, searched here over the spec space.
    Sums ride the scaled-long form so stream/batch aggregation order
    cannot produce last-bit float drift."""
    from pyspark.sql import functions as F

    from shuttle_spark.catalog import load_table
    from shuttle_spark.streaming import events_stream, run_available_now

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    if mod:
        ev = ev.filter(F.col("user_id") % (mod + 1) == 0)
    cutoff = ev.agg(F.max("ts")).collect()[0][0]
    if cutoff is None:
        return

    def spec(df):
        return (
            df.groupBy(F.window("ts", window).alias("win"), key)
            .agg(
                F.count("*").alias("cnt"),
                F.sum(F.round(F.col("value") * 1000000).cast("long")).alias(
                    "sv"
                ),
            )
            .select(
                F.col("win.start").alias("w"),
                F.col("win.end").alias("w_end"),
                key,
                "cnt",
                "sv",
            )
        )

    closed = F.col("w_end") <= F.lit(cutoff) - F.expr(f"INTERVAL {watermark}")
    batch = {tuple(r) for r in spec(ev).filter(closed).collect()}

    sev = events_stream(spark, sf)
    if mod:
        sev = sev.filter(F.col("user_id") % (mod + 1) == 0)
    streamed = run_available_now(
        spec(sev.withWatermark("ts", watermark)), shuffle_partitions=4
    )
    got = {tuple(r) for r in streamed.collect()}
    assert got == batch


@pytest.mark.slow
def test_stream_ewma_equals_batch_single_and_multi_batch(spark):
    """stream_ewma_deviants == relational.ewma_deviants on the finalized
    subset, bit-for-bit — in BOTH replay shapes: single-batch (all rows
    buffer, the closing timeout batch finalizes) and multi-batch (the
    watermark advances mid-stream, so rows finalize in data calls too and
    the history/pending state must carry across micro-batches)."""
    from shuttle_spark.operators import relational as R
    from shuttle_spark.streaming import (
        events_stream_multi,
        stream_ewma_deviants,
    )

    batch = R.ewma_deviants(
        _events(spark), ["user_id"], ["ts", "event_id"], "value",
        threshold_cents=5000,
    )
    # conservative 1s guard inside the 2h cutoff: the watermark is
    # ms-grain while event time is µs-grain (same guard as the contract)
    cutoff = _cutoff(spark) - dt.timedelta(seconds=1)
    want = _rows(
        batch.filter(F.col("ts") <= F.lit(cutoff)).select(
            "user_id", "event_id", F.unix_micros("ts").alias("ts_us"),
            "cents", "wsum", "denom",
        )
    )
    assert want  # threshold chosen so the finalized subset flags rows
    cutoff_us = int(
        _events(spark)
        .agg(F.max(F.unix_micros("ts")))
        .collect()[0][0]
        - 7_201_000_000
    )
    for src, name in (
        (events_stream(spark, SF), "sewma_one"),
        (events_stream_multi(spark, SF, n_files=4), "sewma_multi"),
    ):
        got = run_available_now(
            stream_ewma_deviants(src, threshold_cents=5000),
            name,
            shuffle_partitions=4,
        ).filter(F.col("ts_us") <= cutoff_us)
        assert _rows(got.select(
            "user_id", "event_id", "ts_us", "cents", "wsum", "denom"
        )) == want


def test_scratch_root_free_space_gate(monkeypatch):
    """tmpfs scratch is RAM-backed and competes with executor memory:
    _scratch_root must refuse /dev/shm when free space is below the
    caller's floor and fall back to the disk tempdir."""
    import os

    from shuttle_spark import cache

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    # nothing has an exbibyte free -> the tmpfs path must be refused
    assert cache._scratch_root(min_free_bytes=1 << 60) is None
    root = cache._scratch_root(min_free_bytes=0)
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        assert root is not None and root.startswith("/dev/shm")
    # scratch_dir always yields a usable directory either way
    d = cache.scratch_dir("gate_")
    assert os.path.isdir(d)
    # the explicit override wins over any free-space verdict
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", d)
    assert cache._scratch_root(min_free_bytes=1 << 60) == d
    assert cache.scratch_dir("gate_").startswith(d + os.sep)


def test_stream_ohlc_equals_batch_multi_batch(spark):
    """Streaming OHLC == batch OHLC on the finalized subset in a
    MULTI-batch replay: the open/close picks are the order-sensitive
    part, and the lexicographic okey min_by/max_by makes them
    commutative across micro-batch arrival order — this test feeds 4
    files so partial windows genuinely merge across batches."""
    from shuttle_spark.operators import relational as R
    from shuttle_spark.streaming import events_stream_multi, run_available_now

    ev = _events(spark).filter(F.col("value").isNotNull())
    batch = R.ohlc_bars(ev, ["event_type"], "ts", "value", "event_id")
    cutoff = _cutoff(spark)
    want = _rows(
        batch.filter(F.col("bucket") + F.expr("INTERVAL 1 HOUR") <= F.lit(cutoff))
    )

    okey = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lit(":"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    v = F.col("value")
    stream = (
        events_stream_multi(spark, SF, n_files=4)
        .filter(v.isNotNull())
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.min_by(v, okey).alias("open"),
            F.max_by(v, okey).alias("close"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.count("*").alias("volume"),
            F.sum(F.round(v * 100).cast("long")).alias("total_cents"),
        )
    )
    got_df = run_available_now(stream, "sohlc_multi", shuffle_partitions=4)
    got = _rows(
        got_df.filter(F.col("win.end") <= F.lit(cutoff)).select(
            "event_type",
            F.col("win.start").alias("bucket"),
            "open", "close", "high", "low", "volume", "total_cents",
        )
    )
    assert got == want and len(want) > 0


def test_stream_mv_maintenance_equals_recompute(spark):
    """Streamed changeset application (4 micro-batches via foreachBatch)
    lands on exactly the totals of a direct recompute of the post-change
    table — maintenance commutes over micro-batch boundaries."""
    from pyspark.sql import functions as F

    from shuttle_spark.streaming.core import stream_mv_maintenance

    base_rows = [(k, k % 5, float(k)) for k in range(1, 41)]
    base = spark.createDataFrame(base_rows, "k long, g long, v double")
    totals = base.groupBy("g").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("v") * 100).cast("long")).alias("sum_cents"),
    )
    # one op per key: updates (some group-moving), deletes, inserts
    ch_rows = (
        [("U", k, (k % 5) + 1, float(k) + 0.5, k % 5, float(k))
         for k in range(1, 41, 7)]
        + [("D", k, None, None, k % 5, float(k)) for k in range(2, 41, 11)]
        + [("I", 100 + k, k % 5, 9.0, None, None) for k in range(4)]
    )
    ch = spark.createDataFrame(
        ch_rows,
        "op string, k long, g long, v double, old_g long, old_v double",
    )
    got = stream_mv_maintenance(
        totals, ch, "g", "v", key_cols=["k"], n_batches=4
    )
    new_table = (
        base.join(
            ch.filter(F.col("op").isin("D", "U")).select("k"), "k", "left_anti"
        )
        .unionByName(
            ch.filter(F.col("op").isin("I", "U")).select("k", "g", "v")
        )
    )
    want = new_table.groupBy("g").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("v") * 100).cast("long")).alias("sum_cents"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def _null_if(c):
    """Deterministic NULL injection: sf0.001's value column has none, and
    a fill-free LOCF run would prove nothing about the carry."""
    return F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(c)


def _locf_batch(spark):
    """The batch LOCF (cents domain) of ``_null_if``-ed events on the
    finalized subset, and that subset's ts_us cutoff: 1 s inside the 2 h
    watermark (ms-grain watermark vs µs-grain event time)."""
    from shuttle_spark.operators import relational as R

    ev = _events(spark).select(
        "user_id", "ts", "event_id",
        _null_if(F.col("value")).alias("value"),
        _null_if(F.col("value")).alias("__orig"),
    )
    batch = R.locf_impute(ev, ["user_id"], ["ts", "event_id"], ["value"])
    cutoff = _cutoff(spark) - dt.timedelta(seconds=1)
    want = _rows(
        batch.filter(F.col("ts") <= F.lit(cutoff)).select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
            (F.col("__orig").isNull() & F.col("value").isNotNull()).alias(
                "was_filled"
            ),
        )
    )
    cutoff_us = int(
        _events(spark).agg(F.max(F.unix_micros("ts"))).collect()[0][0]
        - 7_201_000_000
    )
    return want, cutoff_us


def test_stream_locf_equals_batch_single_and_multi_batch(spark):
    """stream_locf == relational.locf_impute (cents domain) on the
    finalized subset, in both replay shapes — cross-batch carry of the
    last observation is the multi-batch case's whole point."""
    from shuttle_spark.streaming import events_stream_multi
    from shuttle_spark.streaming.core import stream_locf

    want, cutoff_us = _locf_batch(spark)
    for src, name in (
        (events_stream(spark, SF), "slocf_one"),
        (events_stream_multi(spark, SF, n_files=4), "slocf_multi"),
    ):
        src = src.withColumn("value", _null_if(F.col("value")))
        got = _rows(
            run_available_now(stream_locf(src), name, shuffle_partitions=4)
            .filter(F.col("ts_us") <= cutoff_us)
        )
        assert got == want, f"{name}: stream != batch"
    assert any(r[-1] for r in want)  # the data exercises real fills


@pytest.mark.slow
def test_stream_locf_packed_parity_and_batch_equality(spark, without_kernels):
    """stream_locf packed == per-key row-for-row (exceptAll both
    ways, full output including the not-yet-finalized-free tail) AND ==
    the batch LOCF on the finalized subset, single- and multi-batch —
    packing keys into shared state groups is a pure physical-layout
    change, so ANY divergence is a bug.  Also pins the packed operator
    at a bucket count that forces real multi-key packing (sf0.001 has
    ~150 keys -> ~19 keys per bucket at 8 buckets).  The packed side is
    the Python twin (``without_kernels``), so in a kernel session this
    also pins the JVM kernel to it."""
    from shuttle_spark.streaming import events_stream_multi
    from shuttle_spark.streaming.core import stream_locf

    null_if = lambda c: F.when(  # noqa: E731
        F.col("event_id") % 5 == 0, F.lit(None)
    ).otherwise(c)
    cols = ["user_id", "event_id", "ts_us", "cents", "was_filled"]
    for mk, name in (
        (lambda: events_stream(spark, SF), "plocf_one"),
        (lambda: events_stream_multi(spark, SF, n_files=4), "plocf_multi"),
    ):
        plain = run_available_now(
            stream_locf(mk().withColumn("value", null_if(F.col("value")))),
            f"{name}_a",
            shuffle_partitions=4,
        ).select(*cols)
        with without_kernels():  # the packed layout is the twin's
            packed = run_available_now(
                stream_locf(
                    mk().withColumn("value", null_if(F.col("value"))),
                    n_state_buckets=8,
                ),
                f"{name}_b",
                shuffle_partitions=4,
            ).select(*cols)
        assert plain.count() == packed.count() > 0, name
        assert plain.exceptAll(packed).count() == 0, name
        assert packed.exceptAll(plain).count() == 0, name
        assert packed.filter(F.col("was_filled")).count() > 0, name


@pytest.mark.slow
def test_stream_keep_latest_packed_parity(spark, without_kernels):
    """stream_keep_latest packed == per-key row-for-row
    (exceptAll both ways), single- and multi-batch — the packed form is
    a pure physical-layout change (shared state groups + vectorized
    per-bucket argmax), so ANY divergence is a bug.  Bucket count forces
    real multi-key packing (sf0.001 has ~150 keys -> ~19/bucket at 8).
    The packed side is the Python twin (``without_kernels``)."""
    from shuttle_spark.streaming import events_stream_multi
    cols = ["user_id", "ts_us", "event_id", "event_type"]
    for mk, name in (
        (lambda: events_stream(spark, SF), "pkl_one"),
        (lambda: events_stream_multi(spark, SF, n_files=4), "pkl_multi"),
    ):
        plain = run_available_now(
            stream_keep_latest(mk()), f"{name}_a", shuffle_partitions=4
        ).select(*cols)
        with without_kernels():  # the packed layout is the twin's
            packed = run_available_now(
                stream_keep_latest(mk(), n_state_buckets=8),
                f"{name}_b",
                shuffle_partitions=4,
            ).select(*cols)
        assert plain.count() == packed.count() > 0, name
        assert plain.exceptAll(packed).count() == 0, name
        assert packed.exceptAll(plain).count() == 0, name


def test_stream_cusum_equals_batch_single_and_multi_batch(spark):
    """stream_cusum == relational.cusum_points per POINT on the
    finalized subset, single- and multi-batch — the two-counter carry
    (c, min) must survive micro-batch boundaries exactly."""
    from shuttle_spark.operators import relational as R
    from shuttle_spark.streaming import events_stream_multi
    from shuttle_spark.streaming.core import stream_cusum

    dials = dict(target_cents=5000, slack_cents=200, threshold_cents=9000)
    ev = _events(spark)
    batch = R.cusum_points(
        ev, ["event_type"], "ts", "event_id", "value", **dials
    )
    cutoff = _cutoff(spark) - dt.timedelta(seconds=1)
    want = _rows(
        batch.filter(F.col("ts") <= F.lit(cutoff)).select(
            "event_type",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "stat_cents",
            "is_alert",
        )
    )
    cutoff_us = int(
        ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0] - 7_201_000_000
    )
    for src, name in (
        (events_stream(spark, SF), "scusum_one"),
        (events_stream_multi(spark, SF, n_files=4), "scusum_multi"),
    ):
        got = _rows(
            run_available_now(
                stream_cusum(src, **dials), name, shuffle_partitions=4
            ).filter(F.col("ts_us") <= cutoff_us)
        )
        assert got == want, f"{name}: stream != batch"
    assert any(r[-1] for r in want) and not all(r[-1] for r in want)


@pytest.mark.slow
def test_stream_ewma_packed_parity(spark, without_kernels):
    """stream_ewma_deviants packed == per-key row-for-row (exceptAll
    both ways), single- and multi-batch — packing is a physical layout
    change; the per-key FIR recurrence walk is byte-identical, so ANY
    divergence is a bug.  8 buckets force real multi-key packing.  The
    packed side is the Python twin (``without_kernels``)."""
    from shuttle_spark.streaming import events_stream_multi
    from shuttle_spark.streaming.core import stream_ewma_deviants

    cols = ["user_id", "event_id", "ts_us", "cents", "wsum", "denom"]
    for mk, name in (
        (lambda: events_stream(spark, SF), "pew_one"),
        (lambda: events_stream_multi(spark, SF, n_files=4), "pew_multi"),
    ):
        plain = run_available_now(
            stream_ewma_deviants(mk()), f"{name}_a", shuffle_partitions=4
        ).select(*cols)
        with without_kernels():  # the packed layout is the twin's
            packed = run_available_now(
                stream_ewma_deviants(mk(), n_state_buckets=8),
                f"{name}_b",
                shuffle_partitions=4,
            ).select(*cols)
        assert plain.count() == packed.count() > 0, name
        assert plain.exceptAll(packed).count() == 0, name
        assert packed.exceptAll(plain).count() == 0, name


# The four keyed-recurrence families (streaming.core._keyed_recurrence)
# and the dials the shared tests below run them with.
_FAMILIES = {
    "keep_latest": ("stream_keep_latest", {}),
    "ewma": ("stream_ewma_deviants", {"threshold_cents": 0, "min_lags": 1}),
    "locf": ("stream_locf", {}),
    "cusum": ("stream_cusum", {}),
}
_LAYOUTS = {"per_key": None, "packed": 8}


def _folds(layout: str, twin):
    """The folds a test case runs, as context managers: the default one
    (the JVM kernel in a kernel session, always per key) for the per-key
    cases, and the ``applyInPandasWithState`` twin (``twin``, the
    ``without_kernels`` fixture) for both layouts."""
    if layout == "per_key":
        return [contextlib.nullcontext, twin]
    return [twin]


def _family_op(family: str, layout: str):
    from shuttle_spark.streaming import core as SC

    name, dials = _FAMILIES[family]
    op = getattr(SC, name)
    return lambda src: op(src, n_state_buckets=_LAYOUTS[layout], **dials)


def _replay_to(spark, df, ckpt, fmt="memory", path=None):
    """AvailableNow replay with a caller-owned checkpoint (and, for a
    file sink, output path) at 4 shuffle partitions."""
    restore = S._scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"})
    try:
        w = df.writeStream.format(fmt).option("checkpointLocation", ckpt)
        if path is None:
            w = w.queryName(f"q_{os.path.basename(ckpt)}")
        else:
            w = w.option("path", path)
        w.trigger(availableNow=True).start().awaitTermination()
    finally:
        restore()


@pytest.mark.parametrize("layout", sorted(_LAYOUTS))
@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_keyed_recurrence_all_null_values_leave_no_drained_state(
    spark, tmp_path, family, layout, without_kernels
):
    """State hygiene: no group may be left in the state store with
    nothing pending (a drained entry has no timeout, so nothing would
    ever remove it).  With every value NULL, ewma and cusum ingest
    nothing, so the store must be empty; keep_latest and locf still
    buffer the rows the final watermark has not passed, so only those
    groups may remain."""
    for i, fold in enumerate(_folds(layout, without_kernels)):
        src = events_stream(spark, SF).withColumn(
            "value", F.lit(None).cast("double")
        )
        ckpt = str(tmp_path / f"ckpt_{family}_{layout}_{i}")
        with fold():
            _replay_to(spark, _family_op(family, layout)(src), ckpt)
        store = spark.read.format("statestore").load(ckpt)
        drained = [p for p in _pending_payloads(store, family) if not p]
        assert len(drained) == 0
        if family in ("ewma", "cusum"):
            assert store.count() == 0


def _pending_payloads(store, family: str) -> list[list]:
    """Each stored group's pending payloads: the twin's ``p_*`` arrays,
    or the kernel's binary state through ``core._kernel_state``."""
    from shuttle_spark.streaming.core import _kernel_state

    state = store.select("value.groupState.*")
    if "p_ts" in state.columns:  # the twin's, payload array last
        return [list(r[-1]) for r in state.collect()]
    text = family.startswith("keep_latest")
    return [
        [p for _, _, p in _kernel_state(bytes(r[0]), text)[1]]
        for r in state.collect()
    ]


def _write_events(path, rows) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(cols[0], pa.int64()),
                "user_id": pa.array(cols[1], pa.int64()),
                "event_type": pa.array([f"k{u}" for u in cols[1]]),
                "ts": pa.array(cols[2], pa.timestamp("us", tz="UTC")),
                "value": pa.array(cols[3], pa.float64()),
                "props": pa.array([None] * len(rows), pa.string()),
            }
        ),
        path,
    )


_EVENTS_SCHEMA = (
    "event_id long, user_id long, event_type string,"
    " ts timestamp, value double, props string"
)


@pytest.mark.parametrize("layout", sorted(_LAYOUTS))
@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_keyed_recurrence_late_rule(
    spark, tmp_path, family, layout, without_kernels
):
    """The kernel's late rule is the only filter of strictly-late rows
    (Spark passes them into the fold).  Two files, one per micro-batch:
    the first sets the watermark to t0 + 1 h; the second holds a row
    1 s before it (key 1, must be dropped), a row exactly at it (key 2,
    must be kept and finalized) and a later row (key 3) that moves the
    watermark past both.  Keys are user_id k / event_type "k<k>".  The
    replay reports the one dropped row (``last_replay``)."""
    from shuttle_spark.sources.io import read_stream

    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    h = dt.timedelta(hours=1)
    land = tmp_path / "land"
    land.mkdir()
    files = [
        [(1, 1, t0, 10.0), (2, 2, t0, 10.0), (3, 3, t0 + 3 * h, 10.0)],
        [
            (10, 1, t0 + h - dt.timedelta(seconds=1), 99.0),  # late
            (11, 2, t0 + h, 20.0),  # exactly at the watermark
            (12, 3, t0 + 10 * h, 10.0),
        ],
    ]
    for i, rows in enumerate(files):
        path = str(land / f"part-{i}.parquet")
        _write_events(path, rows)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    src = read_stream(spark, str(land), _EVENTS_SCHEMA, max_files_per_trigger=1)
    # keep_latest: key 1's winner stays event 1 (event 10 would have won),
    # key 2's winner is the at-watermark row, key 3's is not yet passed;
    # ewma (threshold 0, one lag) flags event 11 against event 2's
    # history (event 10 would be flagged against event 1's);
    # locf and cusum emit every finalized row
    want = {
        "keep_latest": [1, 11],
        "ewma": [11],
        "locf": [1, 2, 3, 11],
        "cusum": [1, 2, 3, 11],
    }[family]
    for fold in _folds(layout, without_kernels):
        with fold():
            op = _family_op(family, layout)
            out = run_available_now(op(src), shuffle_partitions=4)
        assert sorted(r[0] for r in out.select("event_id").collect()) == want
        assert O.last_replay().rows_dropped_late == 1


needs_javac = pytest.mark.skipif(
    S.jvm_classes() is None, reason="no javac: no JVM kernel"
)


def _parity_fixture(land) -> None:
    """Three one-batch files (watermark delay 2 h): NULL values, ts ties
    on one key that arrive in reverse order of event_id (inside a batch
    and across batches), a strictly-late row (event 8), a row exactly at
    the watermark of its batch (event 9), one exactly at the final
    watermark (event 17: the no-data batch that closes the replay
    finalizes it, invoked by the timeout of event 15) and keys that only
    finalize in a later batch.  Rows
    are (event_id, user_id, ts, value); event_type is "k<user_id>"."""
    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    h, s = dt.timedelta(hours=1), dt.timedelta(seconds=1)
    files = [
        [
            (1, 1, t0, 10.0), (2, 2, t0, None), (3, 1, t0 + h / 2, 12.5),
            (5, 3, t0 + h, 7.0), (4, 3, t0 + h, 9.0),
            (6, 2, t0 + 3 * h, 3.0), (7, 1, t0 + 3 * h, None),
        ],
        [
            (8, 1, t0 + h - s, 99.0), (9, 2, t0 + h, 20.0),
            (10, 3, t0 + h, 8.0), (11, 1, t0 + 4 * h, None),
            (12, 2, t0 + 5 * h, -6.0),
        ],
        [
            (13, 3, t0 + 5 * h, 1.0), (14, 1, t0 + 9 * h, 2.0),
            (15, 2, t0 + 9 * h, 0.5), (16, 3, t0 + 12 * h, 4.0),
            (17, 2, t0 + 10 * h, 5.0),
        ],
    ]
    for i, rows in enumerate(files):
        path = str(land / f"part-{i}.parquet")
        _write_events(path, rows)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


@needs_javac
@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_keyed_recurrence_kernel_equals_twin(
    spark, tmp_path, family, without_kernels
):
    """The JVM kernel returns what the Python twin returns, per key and
    packed, row for row, and counts the same late row: on the hand-made
    three-batch fixture (NULLs, ts ties broken by event_id, a row at the
    watermark, a late row; CUSUM keys on the string event_type), on it
    with the value column cast to bigint and to decimal (both folds read
    any numeric value column) and on a four-batch replay of the sf0.001
    events with every fifth value NULL."""
    from shuttle_spark.sources.io import read_stream
    from shuttle_spark.streaming import events_stream_multi

    land = tmp_path / "land"
    land.mkdir()
    _parity_fixture(land)
    def fixture(value_type="double"):
        return read_stream(
            spark, str(land), _EVENTS_SCHEMA, max_files_per_trigger=1
        ).withColumn("value", F.col("value").cast(value_type))

    sources = {
        "fixture": fixture,
        "fixture_long": lambda: fixture("bigint"),
        "fixture_decimal": lambda: fixture("decimal(12,2)"),
        "sf": lambda: events_stream_multi(spark, SF, n_files=4).withColumn(
            "value", _null_if(F.col("value"))
        ),
    }
    for name, src in sources.items():
        runs = {}
        for fold, layout in (
            (contextlib.nullcontext, "per_key"),
            (without_kernels, "per_key"),
            (without_kernels, "packed"),
        ):
            with fold():
                df = _family_op(family, layout)(src())
                out = run_available_now(df, shuffle_partitions=4)
            runs[fold, layout] = (_rows(out), O.last_replay().rows_dropped_late)
        kernel, *twins = runs.values()
        assert kernel[0], name
        assert all(t == kernel for t in twins), name
        assert kernel[1] == (1 if name.startswith("fixture") else 0)


@needs_javac
def test_kernel_session_folds_in_the_jvm(spark, without_kernels):
    """In a kernel session every keyed family plans the JVM
    ``FlatMapGroupsWithState`` and no Python-state operator; the twin
    plans ``FlatMapGroupsInPandasWithState``."""
    assert S.kernel_session()
    src = events_stream(spark, SF)
    for family in _FAMILIES:
        for fold, want, other in (
            (contextlib.nullcontext, "FlatMapGroupsWithState",
             "FlatMapGroupsInPandasWithState"),
            (without_kernels, "FlatMapGroupsInPandasWithState",
             "FlatMapGroupsWithState"),
        ):
            with fold():
                df = _family_op(family, "per_key")(src)
            plan = df._jdf.queryExecution().analyzed().toString()
            assert want in plan and other not in plan, (family, want)


class _FakeGroupState:
    """The slice of pyspark's GroupState the kernel's fold uses."""

    def __init__(self):
        self.value, self.timeout, self.wm_ms, self.hasTimedOut = None, None, 0, False

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value

    def remove(self):
        self.value = None

    def setTimeoutTimestamp(self, ms):
        self.timeout = ms

    def getCurrentWatermarkMs(self):
        return self.wm_ms


def _drive_fold(fold, batches, group_of, delay_ms):
    """Run ``fold`` over micro-batches of (eid, key, ts_us, value) rows
    the way Spark's runner does: groups with rows first, then groups
    whose event-time timeout the watermark has passed; the timeout is
    reset before every call.  A final batch with an unbounded watermark
    flushes every pending row.  Returns the emitted rows, the rows that
    were live when they arrived, and the states left behind."""
    states, out, live, wm_ms = {}, [], [], 0
    for rows in [*batches, []]:
        if not rows:
            wm_ms = 2**50
        by_group = {}
        for r in rows:
            by_group.setdefault(group_of(r[1]), []).append(r)
            if r[2] >= wm_ms * 1000:
                live.append(r)
        calls = [(g, rs) for g, rs in sorted(by_group.items())] + [
            (g, None)
            for g, st in sorted(states.items())
            if g not in by_group and st.timeout is not None and st.timeout < wm_ms
        ]
        for g, rs in calls:
            st = states.setdefault(g, _FakeGroupState())
            st.wm_ms, st.hasTimedOut, st.timeout = wm_ms, rs is None, None
            pdfs = []
            if rs:
                eid, key, us, val = map(list, zip(*rs))
                pdfs = [
                    pd.DataFrame(
                        {
                            "event_id": eid,
                            "user_id": key,
                            "event_type": [f"k{k}" for k in key],
                            "ts": pd.to_datetime(us, unit="us"),
                            "value": np.array(val, dtype="float64"),
                        }
                    )
                ]
            for frame in fold((g,), iter(pdfs), st):
                out.extend(
                    tuple(None if v is pd.NA else v for v in row)
                    for row in frame.itertuples(index=False, name=None)
                )
        wm_ms = max([wm_ms] + [r[2] // 1000 - delay_ms for r in rows])
    return out, live, {g: st for g, st in states.items() if st.exists}


def _loop_reference(family, live):
    """Each family's recurrence as a per-row Python loop over the live
    rows of each key in (ts, event_id) order: the reference the
    vectorized steps must equal exactly."""
    import math

    out = []
    by_key = {}
    for r in sorted(live, key=lambda r: (r[1], r[2], r[0])):
        by_key.setdefault(r[1], []).append(r)
    for key, rows in by_key.items():
        last, hist, c, m = None, [], 0, 0
        for eid, _, us, v in rows:
            x = None if math.isnan(v) else math.floor(v * 100 + 0.5)
            if family == "locf":
                eff = x if x is not None else last
                out.append((key, eid, us, eff, x is None and last is not None))
                last = eff
            elif family == "ewma" and x is not None:
                w = [1 << (8 - j) for j in range(1, 9)]
                k = min(8, len(hist))
                wsum = sum(hist[-j] * w[j - 1] for j in range(1, k + 1))
                denom = sum(w[:k])
                if k >= 1 and abs(x * denom - wsum) > 0:
                    out.append((key, eid, us, x, wsum, denom))
                hist = (hist + [x])[-8:]
            elif family == "cusum":
                c += x - 5200
                m = min(m, c)
                out.append((f"k{key}", eid, us, c - m, c - m > 20000))
    return sorted(out)


@pytest.mark.parametrize("layout", sorted(_LAYOUTS))
@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_keyed_recurrence_steps_equal_loop_reference(
    spark, monkeypatch, family, layout
):
    """The Python twin's fold, driven directly on random disordered
    micro-batches (several keys per group in the packed layout, NULL
    values, true-late rows), equals a per-row Python loop of each
    recurrence (keep_latest: each key's last emission is its max live
    row).  Every state left after the final flush holds a carry."""
    import random

    from pyspark.sql.group import GroupedData

    monkeypatch.setattr(S, "kernel_session", lambda: False)
    monkeypatch.setattr(
        GroupedData, "applyInPandasWithState", lambda self, fold, *a: fold
    )
    events = spark.createDataFrame([], _EVENTS_SCHEMA)
    fold = _family_op(family, layout)(events)
    rng = random.Random(7)
    rows = []
    for eid in range(400):
        us = rng.randrange(0, 40 * 3_600_000_000)
        null = family != "cusum" and rng.random() < 0.2
        value = float("nan") if null else rng.randrange(-10**6, 10**6) / 100
        rows.append((eid, rng.randrange(6), us, value))
    # arrival order = event time + up to 3 h of jitter, so some rows come
    # in after the watermark (delay 2 h) has passed them
    rows.sort(key=lambda r: r[2] + rng.randrange(3 * 3_600_000_000))
    batches = [rows[i : i + 50] for i in range(0, len(rows), 50)]
    group_of = (lambda k: k) if layout == "per_key" else (lambda k: k % 2)
    got, live, left = _drive_fold(fold, batches, group_of, 7_200_000)
    assert 0 < len(live) < len(rows)
    if family == "keep_latest":
        best = {}
        for eid, key, us, _ in live:
            best[key] = max(best.get(key, (0, -1)), (us, eid))
        final = {}
        for key, us, eid, _ in sorted(got):
            assert (eid, key, us) in {r[:3] for r in live}
            final[key] = (us, eid)
        assert final == best
    else:
        assert sorted(got) == _loop_reference(family, live)
    for st in left.values():  # (c_keys, *carry, p_keys, p_ts, p_ord, payload)
        assert st.get[0] and not st.get[-3]


_RESTART_CASES = [
    ("locf", "per_key"),
    ("keep_latest_utf8", "per_key"),
    pytest.param("locf", "packed", marks=pytest.mark.slow),
    pytest.param("keep_latest", "per_key", marks=pytest.mark.slow),
    pytest.param("keep_latest", "packed", marks=pytest.mark.slow),
    ("ewma", "packed"),
    pytest.param("ewma", "per_key", marks=pytest.mark.slow),
    pytest.param("cusum", "per_key", marks=pytest.mark.slow),
    pytest.param("cusum", "packed", marks=pytest.mark.slow),
]


def _restart_batch_twin(spark, family):
    """ewma/cusum batch twin at the ``_FAMILIES`` dials on the finalized
    subset: (rows, their columns, the subset's ts_us cutoff)."""
    from shuttle_spark.operators import relational as R

    ev = _events(spark)
    if family == "ewma":
        cols = ["user_id", "event_id", "ts_us", "cents", "wsum", "denom"]
        batch = R.ewma_deviants(
            ev, ["user_id"], ["ts", "event_id"], "value", **_FAMILIES["ewma"][1]
        )
    else:
        cols = ["event_type", "event_id", "ts_us", "stat_cents", "is_alert"]
        batch = R.cusum_points(
            ev, ["event_type"], "ts", "event_id", "value",
            target_cents=5000, slack_cents=200, threshold_cents=20000,
        )
    cutoff = _cutoff(spark) - dt.timedelta(seconds=1)
    want = _rows(
        batch.filter(F.col("ts") <= F.lit(cutoff))
        .withColumn("ts_us", F.unix_micros("ts"))
        .select(*cols)
    )
    cutoff_us = int(
        ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0] - 7_201_000_000
    )
    return want, cols, cutoff_us


@pytest.mark.parametrize("family,layout", _RESTART_CASES)
def test_keyed_recurrence_restarts_from_checkpoint(
    spark, tmp_path, family, layout, without_kernels
):
    """Stop after 2 of 4 range-staged events files, add the other 2 and
    restart from the same checkpoint: the carry and the pending rows
    survive the state encoding across the restart, on each fold of
    ``_folds``.  The parquet sink output of locf, ewma and cusum equals an
    uninterrupted replay and the batch twin on the finalized subset.
    keep_latest emits a key again when it resumes after the watermark
    passed its winner, and the closing batch of the first run is such a
    point; so its restarted output holds every row of the uninterrupted
    replay plus those earlier winners, and each key's last emission equals
    both the uninterrupted replay's and the batch keep-latest of the
    quiesced keys.  keep_latest_utf8 is keep_latest over NULL and
    multibyte UTF-8 event types (``_utf8_if``); its first run must leave
    both among the pending payloads the restart reads back."""
    for i, fold in enumerate(_folds(layout, without_kernels)):
        with fold():
            _check_restart(spark, tmp_path / str(i), family, layout)


def _utf8_if(c):
    """Deterministic NULL and multibyte UTF-8 event types, so the text
    payload of keep_latest round-trips both through the state store."""
    k = F.col("event_id") % 3
    return F.when(k == 0, F.lit(None)).when(
        k == 1, F.concat(F.lit("\u00e9\u5317\U0001f600_"), c)
    ).otherwise(c)


def _check_restart(spark, tmp_path, family, layout):
    import shutil

    from shuttle_spark.sources.io import read_stream
    from shuttle_spark.streaming import events_stream_multi, staged_events_files

    utf8 = family == "keep_latest_utf8"
    family = family.removesuffix("_utf8")
    op = _family_op(family, layout)

    def prep(src):
        if family == "locf":
            src = src.withColumn("value", _null_if(F.col("value")))
        if utf8:
            src = src.withColumn("event_type", _utf8_if(F.col("event_type")))
        return op(src)

    staged = staged_events_files(spark, SF, 4)
    parts = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    assert len(parts) == 4
    land, sink, ckpt = (str(tmp_path / d) for d in ("land", "sink", "ckpt"))
    os.makedirs(land)
    for files in (parts[:2], parts[2:]):
        for f in files:  # copy2 keeps the staged range-order modtimes
            shutil.copy2(os.path.join(staged, f), os.path.join(land, f))
        src = read_stream(spark, land, _EVENTS_SCHEMA, max_files_per_trigger=1)
        _replay_to(spark, prep(src), ckpt, fmt="parquet", path=sink)
        if utf8 and files == parts[:2]:  # the state the restart reads
            store = spark.read.format("statestore").load(ckpt)
            kept = {p for ps in _pending_payloads(store, family) for p in ps}
            assert None in kept and any(p and not p.isascii() for p in kept)
    restarted = spark.read.parquet(sink)
    whole = run_available_now(
        prep(events_stream_multi(spark, SF, n_files=4, files_per_trigger=1)),
        shuffle_partitions=4,
    )
    got = _rows(restarted.select(*whole.columns))
    assert got
    if family == "keep_latest":
        assert set(_rows(whole)) <= set(got)
        got = sorted({r[0]: r for r in got}.values())  # last per key
        assert got == sorted({r[0]: r for r in _rows(whole)}.values())
    else:
        assert got == _rows(whole)

    if family == "locf":
        want, cutoff_us = _locf_batch(spark)
        assert [r for r in got if r[2] <= cutoff_us] == want
    elif family in ("ewma", "cusum"):
        want, cols, cutoff_us = _restart_batch_twin(spark, family)
        assert want
        assert _rows(restarted.filter(F.col("ts_us") <= cutoff_us).select(*cols)) == want
    else:
        ev = _events(spark)
        if utf8:
            ev = ev.withColumn("event_type", _utf8_if(F.col("event_type")))
        latest = D.keep_latest(ev, ["user_id"], [F.desc("ts"), F.desc("event_id")])
        want = _rows(
            latest.filter(F.col("ts") < F.lit(_cutoff(spark))).select(
                "user_id", F.unix_micros("ts").alias("ts_us"), "event_id",
                "event_type",
            )
        )
        assert got == want


def test_stream_cusum_rejects_non_integral_tiebreak(spark):
    """ADVICE r10: a non-integral tiebreak_col must raise up front (the
    value rides a LongType state/output schema), not truncate silently
    or die inside Arrow conversion mid-stream."""
    import pytest

    from shuttle_spark.streaming import events_stream
    from shuttle_spark.streaming.core import stream_cusum

    src = events_stream(spark, SF)
    for n_state_buckets in (None, 8):
        with pytest.raises(ValueError, match="must be an integral column"):
            # value is a double
            stream_cusum(
                src, tiebreak_col="value", n_state_buckets=n_state_buckets
            )


@pytest.mark.slow
def test_stream_cusum_packed_parity(spark, without_kernels):
    """stream_cusum packed == per-key row-for-row (exceptAll both
    ways), single- and multi-batch — packing is a physical layout
    change; the two-counter recurrence walk is byte-identical per key,
    so ANY divergence is a bug.  The key space is inflated (event_type
    x user_id % 7) so 8 buckets force real multi-key packing, and the
    output must contain real alerts (the dials bite).  The packed side
    is the Python twin (``without_kernels``)."""
    from shuttle_spark.streaming import events_stream_multi
    from shuttle_spark.streaming.core import stream_cusum

    ktag = F.concat_ws("_", F.col("event_type"), F.col("user_id") % 7)
    cols = ["event_type", "event_id", "ts_us", "stat_cents", "is_alert"]
    for mk, name in (
        (lambda: events_stream(spark, SF), "pcu_one"),
        (lambda: events_stream_multi(spark, SF, n_files=4), "pcu_multi"),
    ):
        plain = run_available_now(
            stream_cusum(mk().withColumn("event_type", ktag)),
            f"{name}_a",
            shuffle_partitions=4,
        ).select(*cols)
        with without_kernels():  # the packed layout is the twin's
            packed = run_available_now(
                stream_cusum(
                    mk().withColumn("event_type", ktag), n_state_buckets=8
                ),
                f"{name}_b",
                shuffle_partitions=4,
            ).select(*cols)
        assert plain.count() == packed.count() > 0, name
        assert plain.exceptAll(packed).count() == 0, name
        assert packed.exceptAll(plain).count() == 0, name
        assert packed.filter(F.col("is_alert")).count() > 0, name


def test_replay_partitions_tracks_local_cores(spark):
    """Round 13: the per-key replay partition dial follows the local core
    count, clamped to [4, 16] — the measured sweet spot for the
    applyInPandasWithState per-group runner at bench SF (see
    streaming.core.replay_partitions).  The live session must yield a
    value in bounds, and the parsing must handle explicit local[N]
    masters via the real SparkContext."""
    from shuttle_spark.streaming.core import replay_partitions

    p = replay_partitions(spark)
    assert 4 <= p <= 16
    master = spark.sparkContext.master
    if master.startswith("local[") and master[6:-1].isdigit():
        cores = int(master[6:-1])
        assert p == max(4, min(16, cores))


@pytest.mark.parametrize(
    "master,cores",
    [
        pytest.param(master, cores, id=master)
        for master, cores in [
            ("local[4]", 4),
            ("local[*]", os.cpu_count()),
            ("local[4,2]", 4),
            ("local[*,3]", os.cpu_count()),
            ("local[12]", 12),
            ("spark://head:7077", 7),  # non-local: the context's parallelism
            ("local", 7),
        ]
    ],
)
def test_replay_partitions_parses_every_master_form(master, cores):
    """local[N,F] / local[*,F] (F = task-failure limit) are legal masters;
    only the leading thread count sizes the replay."""
    from types import SimpleNamespace

    from shuttle_spark.streaming.core import _local_cores, replay_partitions

    fake = SimpleNamespace(
        sparkContext=SimpleNamespace(master=master, defaultParallelism=7)
    )
    assert (_local_cores(master) or fake.sparkContext.defaultParallelism) == cores
    assert replay_partitions(fake) == max(4, min(16, cores))
