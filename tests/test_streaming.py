"""Structured Streaming correctness: every streaming operator replayed to
completion must equal its batch twin on the finalized (watermark-passed)
subset — the stream/batch-equivalence protocol of SURVEY §7 Phase 3.

The watermark cutoff mirrors the reference's finalize barrier: only slices
the engine has declared complete are compared, exactly as the reference's
readers only consume `_final` partition files
(ShufflePartitionReader.java:134-153).
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

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


@pytest.mark.slow
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
def test_stream_file_sink_roundtrip(spark):
    """Streaming ETL to a parquet file sink (AvailableNow): the output of a
    replayed windowed aggregation lands as parquet and reads back equal to
    the memory-sink result."""
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="sink_")
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


def test_upsert_sink_is_idempotent_and_matches_batch(spark):
    """Replaying the whole stream into the SAME state path (fresh
    checkpoint — every batch re-runs) must rebuild the identical state:
    the per-batch merge is idempotent, which is what makes checkpoint
    recovery exactly-once."""
    import tempfile

    from pyspark.sql import functions as F

    from shuttle_spark.catalog import load_table
    from shuttle_spark.operators import dedup as D
    from shuttle_spark.streaming import events_stream_multi, run_upsert_sink

    sf = "/root/testdata/sf0.001"
    path = tempfile.mkdtemp(prefix="upsert_idem_")
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
def test_upsert_sink_zero_batch_stream_is_empty_state(spark):
    """A stream over an empty landing dir runs zero batches; the sink must
    return empty state (not IndexError on a fresh versionless path —
    ADVICE r3)."""
    import tempfile

    from shuttle_spark.sources.io import read_stream
    from shuttle_spark.streaming import run_upsert_sink

    landing = tempfile.mkdtemp(prefix="upsert_empty_landing_")
    state_path = tempfile.mkdtemp(prefix="upsert_empty_state_")
    stream = read_stream(
        spark,
        landing,
        "event_id long, user_id long, event_type string,"
        " ts timestamp, value double, props string",
    )
    state = run_upsert_sink(stream, state_path, shuffle_partitions=2)
    assert state.count() == 0
    assert set(state.columns) == {"user_id", "ts", "event_id", "event_type"}


def test_stream_keep_latest_tws_matches_batch(spark):
    """transformWithState (Spark 4 successor stateful API) twin of
    stream_keep_latest: the last update per key equals the batch
    keep-latest.  Requires google.protobuf (the TWS python runner's
    state-server protocol); where it is absent the operator must fail
    fast with a clear ImportError BEFORE any query starts — both branches
    are asserted, so this test never skips."""
    import pytest

    from shuttle_spark.streaming.core import tws_available

    if not tws_available():
        from shuttle_spark.streaming.core import (
            events_stream_multi,
            stream_keep_latest_tws,
        )

        with pytest.raises(ImportError, match="google.protobuf"):
            stream_keep_latest_tws(
                events_stream_multi(spark, "/root/testdata/sf0.001", n_files=4)
            )
        return

    from pyspark.sql import functions as F

    from shuttle_spark.catalog import load_table
    from shuttle_spark.operators import dedup as D
    from shuttle_spark.streaming.core import (
        events_stream_multi,
        run_available_now,
        stream_keep_latest_tws,
    )

    sf = "/root/testdata/sf0.001"
    out = run_available_now(
        stream_keep_latest_tws(events_stream_multi(spark, sf, n_files=4)),
        output_mode="update",
        shuffle_partitions=4,
        session_conf={
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
        },
    )
    final = D.keep_latest(
        out, ["user_id"], [F.col("ts_us").desc(), F.col("event_id").desc()]
    )
    want = D.keep_latest(
        load_table(spark, sf, "events"),
        ["user_id"],
        [F.col("ts").desc(), F.col("event_id").desc()],
    ).select("user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "event_type")
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, want.collect()))


def test_decontaminate_sink_zero_batch_stream_is_empty_corpus(spark):
    """The decontaminate sink's twin of the upsert zero-batch guard: a
    stream over an empty landing dir runs zero batches, so no b{batch_id}
    dir ever exists — the sink must return the empty corpus, not die on
    an unmatchable b* glob (PATH_NOT_FOUND)."""
    import tempfile

    from shuttle_spark.catalog import load_table
    from shuttle_spark.sources.io import read_stream
    from shuttle_spark.streaming import run_stream_decontaminate

    landing = tempfile.mkdtemp(prefix="decon_empty_landing_")
    out = tempfile.mkdtemp(prefix="decon_empty_out_")
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


def test_decontaminate_sink_ignores_uncommitted_batch_dir(spark):
    """A b{batch_id} dir without _SUCCESS (crash mid-write) must be
    invisible to the returned corpus."""
    import os
    import tempfile

    from shuttle_spark.catalog import load_table
    from shuttle_spark.sources.io import read_stream
    from shuttle_spark.streaming import run_stream_decontaminate

    landing = tempfile.mkdtemp(prefix="decon_crash_landing_")
    out = tempfile.mkdtemp(prefix="decon_crash_out_")
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


def test_upsert_sink_never_reads_uncommitted_only_version(spark):
    """Zero-batch run over a state path whose ONLY version dir lacks
    _SUCCESS (crash before first commit): the sink must return empty
    state, not read the partial dir its own guard says it never picks."""
    import os
    import tempfile

    from shuttle_spark.catalog import load_table
    from shuttle_spark.sources.io import read_stream
    from shuttle_spark.streaming import run_upsert_sink

    landing = tempfile.mkdtemp(prefix="upsert_uncommitted_landing_")
    state_path = tempfile.mkdtemp(prefix="upsert_uncommitted_state_")
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
    caller's floor (ADVICE r6) and fall back to the disk tempdir."""
    import os

    from shuttle_spark.streaming import core as SC

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    # nothing has an exbibyte free -> the tmpfs path must be refused
    assert SC._scratch_root(min_free_bytes=1 << 60) is None
    root = SC._scratch_root(min_free_bytes=0)
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        assert root is not None and root.startswith("/dev/shm")
    # scratch_tempdir always yields a usable directory either way
    d = SC.scratch_tempdir()
    assert os.path.isdir(d)
    # the explicit override wins over any free-space verdict
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", d)
    assert SC._scratch_root(min_free_bytes=1 << 60) == d


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


def test_stream_locf_equals_batch_single_and_multi_batch(spark):
    """stream_locf == relational.locf_impute (cents domain) on the
    finalized subset, in both replay shapes — cross-batch carry of the
    last observation is the multi-batch case's whole point."""
    from shuttle_spark.operators import relational as R
    from shuttle_spark.streaming import events_stream_multi
    from shuttle_spark.streaming.core import stream_locf

    # inject NULLs deterministically: sf0.001's value column has none,
    # and a fill-free parity run would prove nothing about the carry
    null_if = lambda c: F.when(  # noqa: E731
        F.col("event_id") % 5 == 0, F.lit(None)
    ).otherwise(c)
    ev = _events(spark).select(
        "user_id", "ts", "event_id",
        null_if(F.col("value")).alias("value"),
        null_if(F.col("value")).alias("__orig"),
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
    for src, name in (
        (events_stream(spark, SF), "slocf_one"),
        (events_stream_multi(spark, SF, n_files=4), "slocf_multi"),
    ):
        src = src.withColumn("value", null_if(F.col("value")))
        got = _rows(
            run_available_now(stream_locf(src), name, shuffle_partitions=4)
            .filter(F.col("ts_us") <= cutoff_us)
        )
        assert got == want, f"{name}: stream != batch"
    assert any(r[-1] for r in want)  # the data exercises real fills


@pytest.mark.slow
def test_stream_locf_packed_parity_and_batch_equality(spark):
    """stream_locf_packed == stream_locf row-for-row (exceptAll both
    ways, full output including the not-yet-finalized-free tail) AND ==
    the batch LOCF on the finalized subset, single- and multi-batch —
    packing keys into shared state groups is a pure physical-layout
    change, so ANY divergence is a bug.  Also pins the packed operator
    at a bucket count that forces real multi-key packing (sf0.001 has
    ~150 keys -> ~19 keys per bucket at 8 buckets)."""
    from shuttle_spark.streaming import events_stream_multi
    from shuttle_spark.streaming.core import stream_locf, stream_locf_packed

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
        packed = run_available_now(
            stream_locf_packed(
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
def test_stream_keep_latest_packed_parity(spark):
    """stream_keep_latest_packed == stream_keep_latest row-for-row
    (exceptAll both ways), single- and multi-batch — the packed form is
    a pure physical-layout change (shared state groups + vectorized
    per-bucket argmax), so ANY divergence is a bug.  Bucket count forces
    real multi-key packing (sf0.001 has ~150 keys -> ~19/bucket at 8)."""
    from shuttle_spark.streaming import events_stream_multi
    from shuttle_spark.streaming.core import (
        stream_keep_latest,
        stream_keep_latest_packed,
    )

    cols = ["user_id", "ts_us", "event_id", "event_type"]
    for mk, name in (
        (lambda: events_stream(spark, SF), "pkl_one"),
        (lambda: events_stream_multi(spark, SF, n_files=4), "pkl_multi"),
    ):
        plain = run_available_now(
            stream_keep_latest(mk()), f"{name}_a", shuffle_partitions=4
        ).select(*cols)
        packed = run_available_now(
            stream_keep_latest_packed(mk(), n_state_buckets=8),
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
def test_stream_ewma_packed_parity(spark):
    """stream_ewma_packed == stream_ewma_deviants row-for-row (exceptAll
    both ways), single- and multi-batch — packing is a physical layout
    change; the per-key FIR recurrence walk is byte-identical, so ANY
    divergence is a bug.  8 buckets force real multi-key packing."""
    from shuttle_spark.streaming import events_stream_multi
    from shuttle_spark.streaming.core import (
        stream_ewma_deviants,
        stream_ewma_packed,
    )

    cols = ["user_id", "event_id", "ts_us", "cents", "wsum", "denom"]
    for mk, name in (
        (lambda: events_stream(spark, SF), "pew_one"),
        (lambda: events_stream_multi(spark, SF, n_files=4), "pew_multi"),
    ):
        plain = run_available_now(
            stream_ewma_deviants(mk()), f"{name}_a", shuffle_partitions=4
        ).select(*cols)
        packed = run_available_now(
            stream_ewma_packed(mk(), n_state_buckets=8),
            f"{name}_b",
            shuffle_partitions=4,
        ).select(*cols)
        assert plain.count() == packed.count() > 0, name
        assert plain.exceptAll(packed).count() == 0, name
        assert packed.exceptAll(plain).count() == 0, name


def test_stream_ewma_packed_all_null_values_clean(spark):
    """ADVICE r11 state hygiene: a bucket whose every ingested value is
    NULL (the upstream filter drops them all) must not park an empty,
    timeout-less state entry — the fold skips update / removes instead.
    Externally: empty output, clean replay, no crash."""
    from shuttle_spark.streaming import events_stream
    from shuttle_spark.streaming.core import stream_ewma_packed

    src = events_stream(spark, SF).withColumn(
        "value", F.lit(None).cast("double")
    )
    out = run_available_now(
        stream_ewma_packed(src, n_state_buckets=8),
        "pew_allnull",
        shuffle_partitions=4,
    )
    assert out.count() == 0


def test_stream_cusum_rejects_non_integral_tiebreak(spark):
    """ADVICE r10: a non-integral tiebreak_col must raise up front (the
    value rides a LongType state/output schema), not truncate silently
    or die inside Arrow conversion mid-stream."""
    import pytest

    from shuttle_spark.streaming import events_stream
    from shuttle_spark.streaming.core import stream_cusum
    from shuttle_spark.streaming.core import stream_cusum_packed

    src = events_stream(spark, SF)
    with pytest.raises(ValueError, match="must be an integral column"):
        stream_cusum(src, tiebreak_col="value")  # value is a double
    with pytest.raises(ValueError, match="must be an integral column"):
        stream_cusum_packed(src, tiebreak_col="value")


@pytest.mark.slow
def test_stream_cusum_packed_parity(spark):
    """stream_cusum_packed == stream_cusum row-for-row (exceptAll both
    ways), single- and multi-batch — packing is a physical layout
    change; the two-counter recurrence walk is byte-identical per key,
    so ANY divergence is a bug.  The key space is inflated (event_type
    x user_id % 7) so 8 buckets force real multi-key packing, and the
    output must contain real alerts (the dials bite)."""
    from shuttle_spark.streaming import events_stream_multi
    from shuttle_spark.streaming.core import stream_cusum, stream_cusum_packed

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
        packed = run_available_now(
            stream_cusum_packed(
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
    # bounds are parameters, not constants
    assert replay_partitions(spark, lo=2, hi=8) <= 8


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

    from shuttle_spark.streaming.core import replay_partitions

    fake = SimpleNamespace(
        sparkContext=SimpleNamespace(master=master, defaultParallelism=7)
    )
    assert replay_partitions(fake, lo=1, hi=64) == cores
    assert replay_partitions(fake) == max(4, min(16, cores))
