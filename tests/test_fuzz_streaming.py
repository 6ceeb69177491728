"""Streaming-parity differential fuzzer (VERDICT r5 item 7).

The batch fuzzer (test_fuzz_differential.py) searches the spec space for
Spark-vs-DuckDB semantic gaps; this module searches the REPLAY space for
stream-vs-batch gaps: hypothesis-generated window/dedup specs are compiled
to BOTH a real Structured Streaming replay (file stream -> watermark ->
stateful op -> Trigger.AvailableNow into a memory sink, the
stream_window_agg machinery) and the identical batch plan over the same
events parquet, and the finalized subsets must agree row-for-row.

The bug class this pins is watermark-finalize vs batch-subset drift —
which windows the watermark has closed, how the closed set is selected,
and whether the stateful aggregate's contents equal the batch aggregate —
the class hand-written contracts cover only pointwise (one window size,
one delay, one key set).  Here window duration, slide, watermark delay,
key sets, aggregate subsets, and pre-filters vary per case.

Determinism discipline (same as the contracts):

* sums ride the scaled-long form (round(value*1e6) as long) — no double
  association drift between the 4-partition streaming agg and the batch
  agg;
* the finalized subset is window_end <= max(ts) - delay computed from the
  SAME filtered relation both sides (the stream_window_agg boundary
  convention, oracle-gated since round 3);
* dedup specs aggregate COUNT only: dropDuplicates keeps one
  representative row per key, and which row is kept is
  arrival-order-dependent — counts are key-determined, value aggregates
  are not (the value-carrying dedup parity lives in stream_keep_latest,
  where (ts, event_id) makes the winner total-ordered).
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from shuttle_spark.catalog import load_table
from shuttle_spark.testing import canon_rows

SF = "/root/testdata/sf0.001"

# ~55 examples x 2 modes ≈ 110 replayed streaming queries per run (each is
# a real AvailableNow query, ~0.5 s); FUZZ_STREAM_EXAMPLES scales deeper
# sweeps.
FUZZ = settings(
    max_examples=int(os.environ.get("FUZZ_STREAM_EXAMPLES", "55")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_WINDOWS = ["30 minutes", "1 hour", "2 hours", "3 hours"]
_DELAYS = {"1 hour": 1.0, "2 hours": 2.0, "4 hours": 4.0}

_KEYS = {
    "event_type": lambda: F.col("event_type"),
    "user_bucket": lambda: (F.col("user_id") % 5).alias("user_bucket"),
}

_AGGS = {
    "cnt": lambda: F.count("*").alias("cnt"),
    "sv": lambda: F.sum(
        F.round(F.col("value") * 1000000).cast("long")
    ).alias("sv"),
    "min_eid": lambda: F.min("event_id").alias("min_eid"),
    "max_eid": lambda: F.max("event_id").alias("max_eid"),
}

# lazy (lambdas): Column construction needs an active SparkContext, which
# does not exist at collection time
_FILTERS = {
    "none": None,
    "value_pos": lambda: F.col("value") > 0,
    "even_user": lambda: F.col("user_id") % 2 == 0,
}


def _spec():
    return st.fixed_dictionaries(
        {
            "window": st.sampled_from(_WINDOWS),
            "slide_half": st.booleans(),
            "delay": st.sampled_from(sorted(_DELAYS)),
            "keys": st.lists(
                st.sampled_from(sorted(_KEYS)), unique=True, max_size=2
            ),
            "aggs": st.lists(
                st.sampled_from(sorted(_AGGS)),
                unique=True,
                min_size=1,
                max_size=3,
            ),
            "filter": st.sampled_from(sorted(_FILTERS)),
        }
    )


def _windowed(df, spec):
    """The agg plan under test — IDENTICAL code applied to the stream and
    the batch relation (only the input differs), so any divergence is the
    runtime's, not the spec compiler's."""
    pred = _FILTERS[spec["filter"]]
    if pred is not None:
        df = df.filter(pred())
    win = (
        F.window("ts", spec["window"], _half(spec["window"]))
        if spec["slide_half"]
        else F.window("ts", spec["window"])
    )
    keys = [_KEYS[k]() for k in spec["keys"]]
    return (
        df.groupBy(win.alias("win"), *keys)
        .agg(*[_AGGS[a]() for a in spec["aggs"]])
        .select(
            F.col("win.start").alias("w"),
            F.col("win.end").alias("w_end"),
            *[F.col(k) for k in spec["keys"]],
            *[F.col(a) for a in spec["aggs"]],
        )
    )


def _half(window: str) -> str:
    n, unit = window.split(" ", 1)
    mins = int(n) * (60 if unit.startswith("hour") else 1)
    return f"{mins // 2} minutes"


def _finalized(df, cutoff, delay_hours):
    return df.filter(
        F.col("w_end") <= F.lit(cutoff - dt.timedelta(hours=delay_hours))
    ).drop("w_end")


def _replay_vs_batch(spark, build, filt="none"):
    """Run `build` on the stream and on the batch table; compare the
    finalized subsets.

    The finalize cutoff is max(ts) over the FILTERED relation: Catalyst
    pushes deterministic pre-filters below the EventTimeWatermark node
    (source pruning), so the stream's watermark derives from filtered
    rows — a cutoff from the unfiltered max would declare windows
    finalized that the watermark has not closed (found live by this
    fuzzer's first run).  The cutoff trims BOTH sides, so a plan that
    happens not to push the filter (watermark from unfiltered rows, a
    superset emitted) compares identically."""
    from shuttle_spark.streaming import events_stream, run_available_now

    ev = load_table(spark, SF, "events")
    pred = _FILTERS[filt]
    flt = ev.filter(pred()) if pred is not None else ev
    cutoff = flt.agg(F.max("ts")).collect()[0][0]

    streamed, delay_hours = build(events_stream(spark, SF))
    out = run_available_now(streamed, shuffle_partitions=4)
    batch, _ = build(ev)

    got = canon_rows(
        [tuple(r) for r in _finalized(out, cutoff, delay_hours).collect()]
    )
    want = canon_rows(
        [tuple(r) for r in _finalized(batch, cutoff, delay_hours).collect()]
    )
    assert got == want, (
        f"stream/batch divergence: {len(got)} vs {len(want)} rows; "
        f"first diff: {next((p for p in zip(got, want) if p[0] != p[1]), None)}"
    )
    assert len(want) > 0, "vacuous case: no finalized windows"


# ---------------------------------------------------------------------------
# Mode 1: windowed aggregation parity (window x slide x delay x keys x aggs
# x filter)
# ---------------------------------------------------------------------------

@pytest.mark.slow
@given(spec=_spec())
@FUZZ
def test_fuzz_stream_window_parity(spark, spec):
    def build(df):
        if hasattr(df, "isStreaming") and df.isStreaming:
            df = df.withWatermark("ts", spec["delay"])
        return _windowed(df, spec), _DELAYS[spec["delay"]]

    _replay_vs_batch(spark, build, spec["filter"])


# ---------------------------------------------------------------------------
# Mode 2: stateful dedup -> windowed count parity.  dropDuplicates on the
# stream is the stateful dedup operator (state = seen keys); the batch twin
# is the same call on the static relation.  COUNT only (see module
# docstring).
# ---------------------------------------------------------------------------

@pytest.mark.slow
@given(
    window=st.sampled_from(_WINDOWS),
    delay=st.sampled_from(sorted(_DELAYS)),
    filt=st.sampled_from(sorted(_FILTERS)),
    by_type=st.booleans(),
)
@FUZZ
def test_fuzz_stream_dedup_window_parity(spark, window, delay, filt, by_type):
    # the dedup key INCLUDES the window struct itself — dropDuplicates
    # keeps an arbitrary representative per key, so every column the
    # downstream agg depends on must be key-determined or the comparison
    # tests arrival order, not the engine
    def build(df):
        if hasattr(df, "isStreaming") and df.isStreaming:
            df = df.withWatermark("ts", delay)
        pred = _FILTERS[filt]
        if pred is not None:
            df = df.filter(pred())
        keyed = df.withColumn("win", F.window("ts", window))
        keys = ["user_id", "win"] + (["event_type"] if by_type else [])
        out = (
            keyed.dropDuplicates(keys)
            .groupBy("win")
            .agg(F.count("*").alias("cnt"))
            .select(
                F.col("win.start").alias("w"),
                F.col("win.end").alias("w_end"),
                "cnt",
            )
        )
        return out, _DELAYS[delay]

    _replay_vs_batch(spark, build, filt)


# ---------------------------------------------------------------------------
# Packed-state LOCF parity: stream_locf packed must equal per-key
# row-for-row under randomized bucket counts (1 bucket = every key in one
# group; large = effectively per-key), NULL moduli, and replay shapes.
# Each example runs TWO real AvailableNow replays (~4 s/example), so the
# default example count is small; FUZZ_STREAM_PACKED_EXAMPLES deepens.
# ---------------------------------------------------------------------------

FUZZ_PACKED = settings(
    max_examples=int(os.environ.get("FUZZ_STREAM_PACKED_EXAMPLES", "8")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@pytest.mark.slow
@given(
    n_buckets=st.sampled_from([1, 2, 7, 32]),
    null_mod=st.integers(2, 9),
    multi=st.booleans(),
)
@FUZZ_PACKED
def test_fuzz_stream_locf_packed_parity(spark, n_buckets, null_mod, multi):
    from shuttle_spark.streaming import (
        events_stream,
        events_stream_multi,
        run_available_now,
    )
    from shuttle_spark.streaming.core import stream_locf

    tag = f"{n_buckets}_{null_mod}_{int(multi)}"

    def src():
        s = (
            events_stream_multi(spark, SF, n_files=4)
            if multi
            else events_stream(spark, SF)
        )
        return s.withColumn(
            "value",
            F.when(F.col("event_id") % null_mod == 0, F.lit(None)).otherwise(
                F.col("value")
            ),
        )

    cols = ["user_id", "event_id", "ts_us", "cents", "was_filled"]
    plain = run_available_now(
        stream_locf(src()), f"fzl_{tag}", shuffle_partitions=4
    ).select(*cols)
    packed = run_available_now(
        stream_locf(src(), n_state_buckets=n_buckets),
        f"fzp_{tag}",
        shuffle_partitions=4,
    ).select(*cols)
    assert plain.count() == packed.count() > 0
    assert plain.exceptAll(packed).count() == 0
    assert packed.exceptAll(plain).count() == 0


@pytest.mark.slow
@given(
    n_buckets=st.sampled_from([1, 2, 7, 32]),
    key_mod=st.sampled_from([1, 3, 10]),
    multi=st.booleans(),
)
@FUZZ_PACKED
def test_fuzz_stream_keep_latest_packed_parity(
    spark, n_buckets, key_mod, multi
):
    """r11 packed twin under the same replay-space fuzz: bucket counts
    from degenerate (1 = every key in one group) to one-key-per-bucket,
    key-space inflation (key_mod folds event_id bits into user_id so
    winners and bucket occupancy reshuffle), single- and multi-batch."""
    from shuttle_spark.streaming import (
        events_stream,
        events_stream_multi,
        run_available_now,
    )
    from shuttle_spark.streaming.core import stream_keep_latest

    tag = f"kl_{n_buckets}_{key_mod}_{int(multi)}"

    def src():
        s = (
            events_stream_multi(spark, SF, n_files=4)
            if multi
            else events_stream(spark, SF)
        )
        if key_mod > 1:
            s = s.withColumn(
                "user_id",
                F.col("user_id") * key_mod + F.col("event_id") % key_mod,
            )
        return s

    cols = ["user_id", "ts_us", "event_id", "event_type"]
    plain = run_available_now(
        stream_keep_latest(src()), f"fkl_{tag}", shuffle_partitions=4
    ).select(*cols)
    packed = run_available_now(
        stream_keep_latest(src(), n_state_buckets=n_buckets),
        f"fkp_{tag}",
        shuffle_partitions=4,
    ).select(*cols)
    assert plain.count() == packed.count() > 0
    assert plain.exceptAll(packed).count() == 0
    assert packed.exceptAll(plain).count() == 0


@pytest.mark.slow
@given(
    n_buckets=st.sampled_from([1, 2, 7, 32]),
    window=st.sampled_from([4, 8]),
    min_lags=st.integers(2, 5),
    multi=st.booleans(),
)
@FUZZ_PACKED
def test_fuzz_stream_ewma_packed_parity(
    spark, n_buckets, window, min_lags, multi
):
    """r11 third packed family under replay-space fuzz: the FIR
    recurrence's dials (window width, warm-up lag floor) vary with the
    bucket count and batch split — history handoff across micro-batch
    boundaries must stay bit-equal to the per-key operator.

    min_lags > window is degenerate by the operator's own contract
    (history is capped at ``window`` entries, so the warm-up floor is
    unreachable and BOTH forms correctly emit nothing — found by this
    fuzzer's first full-suite run); clamp instead of assume() so the
    example still exercises a real dial pair."""
    min_lags = min(min_lags, window)
    from shuttle_spark.streaming import (
        events_stream,
        events_stream_multi,
        run_available_now,
    )
    from shuttle_spark.streaming.core import stream_ewma_deviants

    tag = f"ew_{n_buckets}_{window}_{min_lags}_{int(multi)}"
    dials = dict(window=window, min_lags=min_lags)

    def src():
        return (
            events_stream_multi(spark, SF, n_files=4)
            if multi
            else events_stream(spark, SF)
        )

    cols = ["user_id", "event_id", "ts_us", "cents", "wsum", "denom"]
    plain = run_available_now(
        stream_ewma_deviants(src(), **dials),
        f"fep_{tag}", shuffle_partitions=4,
    ).select(*cols)
    packed = run_available_now(
        stream_ewma_deviants(src(), n_state_buckets=n_buckets, **dials),
        f"fep2_{tag}",
        shuffle_partitions=4,
    ).select(*cols)
    assert plain.count() == packed.count() > 0
    assert plain.exceptAll(packed).count() == 0
    assert packed.exceptAll(plain).count() == 0


@pytest.mark.slow
@given(
    n_buckets=st.sampled_from([1, 2, 7, 32]),
    key_mod=st.sampled_from([1, 3, 11]),
    dials=st.sampled_from(
        [
            dict(target_cents=5000, slack_cents=200, threshold_cents=20000),
            dict(target_cents=4000, slack_cents=0, threshold_cents=5000),
            dict(target_cents=6000, slack_cents=500, threshold_cents=50000),
        ]
    ),
    multi=st.booleans(),
)
@FUZZ_PACKED
def test_fuzz_stream_cusum_packed_parity(
    spark, n_buckets, key_mod, dials, multi
):
    """r12 fourth packed family under replay-space fuzz: CUSUM's
    two-counter recurrence must hand off across micro-batch boundaries
    bit-equal to the per-key operator while bucket counts go from
    degenerate (1 = every key in one group) to effectively-per-key,
    the key space inflates (event_type x user_id % key_mod reshuffles
    bucket occupancy), and the drift/threshold dials move the alert
    rate from dense to sparse."""
    from shuttle_spark.streaming import (
        events_stream,
        events_stream_multi,
        run_available_now,
    )
    from shuttle_spark.streaming.core import stream_cusum

    tag = f"cu_{n_buckets}_{key_mod}_{dials['threshold_cents']}_{int(multi)}"

    def src():
        s = (
            events_stream_multi(spark, SF, n_files=4)
            if multi
            else events_stream(spark, SF)
        )
        if key_mod > 1:
            s = s.withColumn(
                "event_type",
                F.concat_ws(
                    "_", F.col("event_type"), F.col("user_id") % key_mod
                ),
            )
        return s

    cols = ["event_type", "event_id", "ts_us", "stat_cents", "is_alert"]
    plain = run_available_now(
        stream_cusum(src(), **dials), f"fcu_{tag}", shuffle_partitions=4
    ).select(*cols)
    packed = run_available_now(
        stream_cusum(src(), n_state_buckets=n_buckets, **dials),
        f"fcp_{tag}",
        shuffle_partitions=4,
    ).select(*cols)
    assert plain.count() == packed.count() > 0
    assert plain.exceptAll(packed).count() == 0
    assert packed.exceptAll(plain).count() == 0
