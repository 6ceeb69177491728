"""Structured Streaming operators (SURVEY.md §2.B B24–B25, §7 Phase 3).

The reference's finalize barrier — reducers poll the partition dir until every
worker file is `_final` before reading (/root/reference/src/main/java/com/oppo/
shuttle/rss/clients/ShufflePartitionReader.java:134-153) — is the moral
ancestor of the watermark: both declare "this slice of input is complete, you
may emit".  Our engine exposes the Spark-native version: file-source streams,
event-time watermarks, tumbling/session windows, stream dedup, and a custom
stateful keep-latest built on ``applyInPandasWithState``.

Correctness protocol (tested in tests/test_streaming.py): every streaming
operator replayed to completion over a static directory must equal its batch
twin — the strongest available oracle for stream semantics.

Scale notes (100 TB / real cluster):

* File-source streams list incrementally; ``maxFilesPerTrigger`` is the
  backpressure knob (the engine twin of the reference's token-bucket flow
  control, FlowController.java:160-202).
* Watermark + append mode bounds state: window state is dropped once the
  watermark passes window end.  Without a watermark, 100 TB of keys would pin
  unbounded state — every stateful op here therefore requires one.
* ``applyInPandasWithState`` state lives in the state store (RocksDB in
  production via ``spark.sql.streaming.stateStore.providerClass``); the
  shuffle before it hash-partitions by key — the same exchange shape the
  reference's workers implement server-side.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
import time
import uuid
from collections.abc import Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from shuttle_spark.catalog import normalize_events_ts, table_path


def events_raw_schema(sf_dir: str) -> T.StructType:
    """Stream-source schema matching the physical events parquet.

    The driver has shipped events.ts as parquet TIMESTAMP(NANOS) (read as
    epoch-nanos long under nanosAsLong) and as timestamp[us] (read as
    TIMESTAMP_NTZ) in different rounds; probe the footer so the declared
    stream schema always matches the file.  Parquet file streams match
    columns by name, so field order is immaterial.
    """
    import pyarrow.parquet as pq

    ts_type = pq.read_schema(table_path(sf_dir, "events")).field("ts").type
    spark_ts: T.DataType
    if str(ts_type) == "int64" or str(ts_type).startswith("timestamp[ns"):
        # Deliberately BEFORE the tz branch: ns+tz ("timestamp[ns, tz=...]")
        # must also be LongType.  Spark has no nanosecond timestamp type —
        # declaring TimestampType over TIMESTAMP(NANOS) parquet throws
        # SchemaColumnConvertNotSupportedException (verified on 4.1.2,
        # adjusted and unadjusted alike); under nanosAsLong both read as
        # epoch-nano bigint, which normalize_events_ts converts (nanos are
        # UTC-anchored either way, so the conversion is tz-exact).
        spark_ts = T.LongType()
    elif getattr(ts_type, "tz", None):
        # tz-annotated (isAdjustedToUTC) micros/millis: Spark's parquet
        # reader refuses to read these as TIMESTAMP_NTZ; declare TIMESTAMP.
        spark_ts = T.TimestampType()
    else:
        spark_ts = T.TimestampNTZType()
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", spark_ts),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


_TMP_DIRS: list[str] = []


def _scratch_root(min_free_bytes: int = 1 << 30) -> str | None:
    """Preferred base for streaming scratch (checkpoints, staged landing
    dirs, sink versions): a tmpfs mount when one exists AND has headroom.
    Checkpoint commits fsync every delta/offset file; on tmpfs that's a
    memory write, which removes the per-micro-batch disk floor from
    replay-style tests (measured ~15% off each streaming contract at
    sf0.1).  In production the checkpoint location is a DURABLE path the
    caller passes — this root only serves the harness's ephemeral replay
    checkpoints, which die with the process anyway.

    tmpfs is RAM-backed (typically capped at 50% of memory), so it
    COMPETES with executor memory: writing data-sized scratch there at
    larger SF risks ENOSPC with no recovery.  The gate is a free-space
    check (``os.statvfs``) against ``min_free_bytes`` — callers staging
    data-sized fixtures pass a much larger floor than checkpoint writers
    (ADVICE r6).  SPARK_GRAFT_SCRATCH overrides unconditionally; None
    falls back to the system tempdir."""
    override = os.environ.get("SPARK_GRAFT_SCRATCH")
    if override:
        os.makedirs(override, exist_ok=True)
        return override
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize < min_free_bytes:
                return None
        except OSError:
            return None
        d = os.path.join(shm, "shuttle_spark_scratch")
        try:
            os.makedirs(d, exist_ok=True)
            return d
        except OSError:
            return None
    return None


def scratch_tempdir() -> str:
    """The scratch base for fixture/sink dirs that manage their own
    age-gated GC (contracts._fixture_dir/_scratch_dir).  These hold FULL
    parquet fixture copies and sink versions — data-sized, unlike the
    kilobyte-scale checkpoint deltas — so tmpfs is used only with a
    generous floor (8 GiB free); otherwise the disk tempdir, which
    degrades to slower-but-correct instead of ENOSPC."""
    return _scratch_root(min_free_bytes=8 << 30) or tempfile.gettempdir()


def tracked_mkdtemp(prefix: str) -> str:
    """mkdtemp whose directory is removed at interpreter exit — staging
    dirs, checkpoints, and sink scratch would otherwise leak disk across
    repeated harness/bench runs (ADVICE r3).  Lands on tmpfs when
    available (see _scratch_root)."""
    d = tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())
    _TMP_DIRS.append(d)
    return d


def track_tmp_dir(path: str) -> str:
    """Register an externally-created scratch path for exit-time removal."""
    _TMP_DIRS.append(path)
    return path


@atexit.register
def _cleanup_tmp_dirs() -> None:
    for d in _TMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)


_staged: dict[str, str] = {}


def _staged_events_dir(sf_dir: str) -> str:
    """Temp directory containing (a symlink to) the events parquet file."""
    cached = _staged.get(sf_dir)
    if cached is not None:
        return cached
    d = tracked_mkdtemp("events_stream_")
    os.symlink(table_path(sf_dir, "events"), os.path.join(d, "events-000.parquet"))
    _staged[sf_dir] = d
    return d


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The events table as a file-source stream (replay of a static dir).

    In production the same code reads a landing directory that receivers
    append to; ``max_files_per_trigger`` rate-limits each micro-batch.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # FileStreamSource ingests *directories* (a landing zone receivers append
    # to).  The testdata table is a single file, so stage it into a temp dir
    # by symlink — zero-copy, and the same code path production would use.
    stream_dir = _staged_events_dir(sf_dir)
    reader = spark.readStream.schema(events_raw_schema(sf_dir))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # The NTZ->TIMESTAMP cast inside normalize_events_ts resolves the
    # session timezone at ANALYSIS time, i.e. right here — pin UTC for the
    # build exactly like the batch twin (catalog.load_table), else a
    # driver-created session in another zone shifts stream timestamps
    # against batch and breaks the module's stream == batch protocol.
    prev_tz = spark.conf.get("spark.sql.session.timeZone", None)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        df = normalize_events_ts(reader.parquet(stream_dir))
    finally:
        if prev_tz is None:
            spark.conf.unset("spark.sql.session.timeZone")
        else:
            spark.conf.set("spark.sql.session.timeZone", prev_tz)
    return df


def windowed_agg_stream(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    keys: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Tumbling-window count+sum with an event-time watermark (B24).

    Append-mode-safe: windows finalize (and state is freed) when the
    watermark passes window end.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *keys)
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("w"), *keys, "cnt", "sum_value")
    )


def session_agg_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    keys: Sequence[str] = ("user_id",),
) -> DataFrame:
    """Gap-based session windows per key (B25) — Spark's native
    ``session_window`` merges adjacent state; watermark closes sessions."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sw"), *keys)
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            *keys,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: Sequence[str],
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once by key on a stream — the streaming twin of the
    reference's duplicate-block seen-set (ShufflePartitionReader.java:378-393),
    with the watermark bounding the seen-set the way the reference's stage
    TTL bounds its state (ShuffleDataExecutor.java:279-313)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_keep_latest(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Custom stateful operator: latest row per key, emitted once the
    watermark closes the key's quiet period (B8's streaming twin — the
    stale-attempt filter of PartitionPipeReader.java:150-170 as a live op).

    Built on ``applyInPandasWithState``: state = the current winner per key;
    each micro-batch folds its rows in; on event-time timeout the winner is
    emitted and state freed.  The payload is the events-table shape
    (event_id tiebreak + event_type), FIXED: a payload_cols parameter
    previously accepted here was silently ignored — for arbitrary payload
    columns use the batch twin ``dedup.keep_latest`` or the foreachBatch
    sink ``run_upsert_sink``, which honor them.  Output schema: key,
    ts_us (epoch micros), event_id, event_type.
    """
    out_fields = [
        T.StructField(key_col, T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ]
    state_schema = T.StructType(
        [
            T.StructField("ts_us", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )

    def fold(key, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            ts_us, event_id, event_type = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "ts_us": [ts_us],
                    "event_id": [event_id],
                    "event_type": [event_type],
                }
            )
            return
        best = state.get if state.exists else None
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            # total order (ts, event_id) — deterministic like the
            # reference's attemptId tiebreak.  Pure-numpy argmax: this
            # closure runs once per KEY per batch (tens of thousands of
            # calls), so pandas sort_values/assign copies here were the
            # dominant stream cost.
            us = pdf[ts_col].values.astype("datetime64[us]").astype("int64")
            eid = pdf["event_id"].values.astype("int64")
            i = int(np.lexsort((eid, us))[-1])
            cand = (int(us[i]), int(eid[i]), str(pdf["event_type"].values[i]))
            if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                best = cand
        if best is not None:
            state.update(best)
            # emit once the watermark passes the key's last-seen event time
            # (timeout must stay ahead of the current watermark)
            state.setTimeoutTimestamp(
                max(best[0] // 1000 + 1, state.getCurrentWatermarkMs() + 1)
            )
        return
        yield  # pragma: no cover — marks this function as a generator

    return (
        events.withWatermark(ts_col, "2 hours")
        .groupBy(key_col)
        .applyInPandasWithState(
            fold,
            T.StructType(out_fields),
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_keep_latest_packed(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "2 hours",
    n_state_buckets: int = 32,
) -> DataFrame:
    """``stream_keep_latest`` with PACKED state (VERDICT r10 item 6) —
    the second family to ship the ``stream_locf_packed`` transform, the
    100 TB state-scaling answer to applyInPandasWithState's per GROUP
    INVOCATION constant, re-measured at ~1.1 ms of wall per group
    (see ``replay_partitions``): per-key state pays keys x batches x
    that constant (the whole budget at a 10M-key stream), packed state
    pays it once per BUCKET per batch and runs the per-key argmax
    vectorized over the bucket's rows.

    At bench scale the per-group constant was not this operator's main
    cost: the contract replay (sf0.1, local[4], median of 3 warm runs)
    read 3.07 s with Spark's stock worker daemon, mostly because every
    Python task re-read the Spark jar and pyspark.zip directories
    (0.17-0.35 s per task).  With the engine daemon
    (``shuttle_spark.pydaemon``) it reads 1.90 s; the per-key
    ``stream_keep_latest`` went 5.00 -> 4.17 s.

    Bucketing is ``pmod(key, n_state_buckets)`` like the locf twin;
    state per bucket = the pending winners as flat parallel arrays
    (key, ts_us, event_id, event_type) — O(quiescing keys/bucket), and
    a key's entry is freed the moment its row is emitted.

    Emission protocol is OBSERVATIONALLY IDENTICAL to the per-key
    operator (asserted by the packed-vs-per-key parity test and by
    sharing the batch keep-latest oracle verbatim): a key's winner — the
    max row under the total (ts, event_id) order — is emitted once the
    watermark passes its event time (``ts_ms < watermark_ms``, exactly
    the per-key ``setTimeoutTimestamp(best_ts_ms + 1)`` firing rule),
    and the bucket re-arms its timeout at the EARLIEST pending winner's
    emission time, so every key emits in the same micro-batch the
    per-key form would have emitted it."""
    out_schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("k_ids", T.ArrayType(T.LongType())),
            T.StructField("k_ts", T.ArrayType(T.LongType())),
            T.StructField("k_eid", T.ArrayType(T.LongType())),
            T.StructField("k_type", T.ArrayType(T.StringType())),
        ]
    )

    def fold(key, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            k_ids = np.asarray(state.get[0], dtype="int64")
            k_ts = np.asarray(state.get[1], dtype="int64")
            k_eid = np.asarray(state.get[2], dtype="int64")
            k_type = np.asarray(list(state.get[3]), dtype=object)
        else:
            k_ids = k_ts = k_eid = np.empty(0, dtype="int64")
            k_type = np.empty(0, dtype=object)
        wm_ms = state.getCurrentWatermarkMs()
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                if not len(pdf):
                    continue
                us = pdf[ts_col].values.astype("datetime64[us]").astype(
                    "int64"
                )
                k_ids = np.concatenate(
                    [k_ids, pdf[key_col].values.astype("int64")]
                )
                k_ts = np.concatenate([k_ts, us])
                k_eid = np.concatenate(
                    [k_eid, pdf["event_id"].values.astype("int64")]
                )
                k_type = np.concatenate(
                    [k_type, pdf["event_type"].values.astype(object)]
                )
        if len(k_ids):
            # per-key winner under the total (ts, event_id) order: sort
            # by (key, ts, eid) and keep each key's LAST row — one
            # vectorized pass for the whole bucket instead of a group
            # invocation per key
            order = np.lexsort((k_eid, k_ts, k_ids))
            sorted_keys = k_ids[order]
            last = np.empty(len(sorted_keys), dtype=bool)
            last[:-1] = sorted_keys[1:] != sorted_keys[:-1]
            last[-1] = True
            sel = order[last]
            k_ids, k_ts, k_eid, k_type = (
                k_ids[sel], k_ts[sel], k_eid[sel], k_type[sel],
            )
            emit = (k_ts // 1000) < wm_ms
            out = None
            if emit.any():
                out = pd.DataFrame(
                    {
                        key_col: k_ids[emit],
                        "ts_us": k_ts[emit],
                        "event_id": k_eid[emit],
                        "event_type": k_type[emit],
                    }
                )
                keep = ~emit
                k_ids, k_ts, k_eid, k_type = (
                    k_ids[keep], k_ts[keep], k_eid[keep], k_type[keep],
                )
            if len(k_ids):
                state.update(
                    (
                        [int(x) for x in k_ids],
                        [int(x) for x in k_ts],
                        [int(x) for x in k_eid],
                        [str(x) for x in k_type],
                    )
                )
                state.setTimeoutTimestamp(
                    max(int(k_ts.min()) // 1000 + 1, wm_ms + 1)
                )
            elif state.exists:
                state.remove()
            if out is not None and len(out):
                yield out
        elif state.exists:
            state.remove()

    bucketed = events.withColumn(
        "__bucket", F.pmod(F.col(key_col), F.lit(n_state_buckets))
    )
    return (
        bucketed.withWatermark(ts_col, watermark)
        .groupBy("__bucket")
        .applyInPandasWithState(
            fold,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def tws_available() -> bool:
    """Whether Spark's transformWithStateInPandas runner can execute here:
    its state-server protocol needs ``google.protobuf`` at runtime."""
    try:
        import google.protobuf.descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_keep_latest_tws(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Keep-latest on Spark 4's ``transformWithStateInPandas`` — the
    successor API to ``applyInPandasWithState`` (typed ValueState handles,
    RocksDB-backed).  Each micro-batch emits the key's current winner
    (update mode); the winner sequence per key is monotone in
    (ts_us, event_id), so the LAST update per key is the stream's final
    answer — the contract reduces the update log with the batch
    keep-latest and matches the all-events oracle.

    Same semantics as stream_keep_latest (the reference's stale-attempt
    filter, PartitionPipeReader.java:150-170); kept separate so both
    stateful APIs stay covered.  On this machine google.protobuf is
    absent and unobtainable, so this path raises the gated ImportError —
    closed as a documented environment constraint (ENVIRONMENT.md §1);
    stream_keep_latest is the shipped engine path.

    ENVIRONMENT NOTE: the transformWithState Python runner requires the
    ``google.protobuf`` package (its state-server protocol) and the
    RocksDB state store provider; without protobuf the runner would crash
    mid-query with an opaque executor error, so this operator probes the
    import up front and fails fast with a clear message.  The parity test
    (tests/test_streaming.py) asserts BOTH branches — protobuf present =>
    batch equality, absent => this exact fail-fast — so the suite carries
    no environment skip; the contract (stream_keep_latest_tws) is
    registered only where the runtime can execute it, and the
    applyInPandasWithState path (stream_keep_latest) plus the foreachBatch
    sink (run_upsert_sink) carry the always-on oracle gates.
    """
    if not tws_available():
        raise ImportError(
            "transformWithStateInPandas requires the google.protobuf package"
            " (the state-server protocol of Spark's Python TWS runner),"
            " which is not installed in this environment; use"
            " stream_keep_latest (applyInPandasWithState) or run_upsert_sink"
            " (foreachBatch) for the same keep-latest semantics."
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ts_us", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )

    class KeepLatest(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._winner = handle.getValueState("winner", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            best = tuple(self._winner.get()) if self._winner.exists() else None
            for pdf in rows:
                for ts_us, event_id, event_type in zip(
                    pdf["ts_us"], pdf["event_id"], pdf["event_type"]
                ):
                    cand = (int(ts_us), int(event_id), str(event_type))
                    if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                        best = cand
            self._winner.update(best)
            yield pd.DataFrame(
                [(key[0], *best)],
                columns=[key_col, "ts_us", "event_id", "event_type"],
            )

        def close(self) -> None:
            pass

    # fixed events-table payload, matching the state/output schemas above
    # (see stream_keep_latest's docstring for the generic-payload routes)
    prepared = events.select(
        F.col(key_col),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col("event_id"),
        F.col("event_type"),
    )
    return prepared.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=KeepLatest(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: right events that follow a left
    event on the same key within ``within``.

    Both sides carry a watermark and the join condition bounds BOTH event
    times, so Spark can evict buffered rows once the watermark passes —
    without the time bound, each side's join state grows without limit (the
    streaming analog of the reference's stage-TTL cleanup,
    ShuffleDataExecutor.java:279-313).  Inner-join matches are emitted as
    they arrive; the watermark governs state size only, so a full replay
    equals the batch join exactly.

    Output: key, l_id/l_ts from the left event, r_id/r_ts from the right.
    """
    lw = left.withWatermark(ts_col, watermark).select(
        F.col(key).alias("l_key"),
        F.col("event_id").alias("l_id"),
        F.col(ts_col).alias("l_ts"),
    )
    rw = right.withWatermark(ts_col, watermark).select(
        F.col(key).alias("r_key"),
        F.col("event_id").alias("r_id"),
        F.col(ts_col).alias("r_ts"),
    )
    return lw.join(
        rw,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    ).select(F.col("l_key").alias(key), "l_id", "l_ts", "r_id", "r_ts")


_staged_multi: dict[tuple[str, str, str, int], str] = {}


def _staged_table_files(
    spark: SparkSession, sf_dir: str, table: str, range_col: str, n_files: int
) -> str:
    """A testdata table staged as ``n_files`` range-ordered parquet files
    in a temp dir — a realistic landing zone whose replay under
    ``maxFilesPerTrigger=1`` yields ``n_files`` real micro-batches (the
    single-file symlink staging gives exactly one)."""
    # every parameter that changes the layout is in the key — staging the
    # same table by a different range_col must not hit the other's cache
    key = (sf_dir, table, range_col, n_files)
    cached = _staged_multi.get(key)
    if cached is not None:
        return cached
    from shuttle_spark.catalog import load_table

    d = tracked_mkdtemp(f"{table}_multi_")
    load_table(spark, sf_dir, table).repartitionByRange(
        n_files, range_col
    ).write.mode("overwrite").parquet(d)
    # FileStreamSource picks files oldest-modtime-first, but the range
    # buckets are WRITTEN by parallel tasks whose completion order is
    # arbitrary — a later range file finishing first would replay first,
    # advance the watermark past the earlier buckets, and turn their rows
    # into droppable late data (observed: stream_ewma parity flaked run to
    # run).  Pin modtimes to part-file NAME order (== sorted range order)
    # so every replay delivers buckets in range order, the in-order
    # landing-zone contract a production receiver provides by arrival.
    parts = sorted(
        f for f in os.listdir(d) if f.endswith(".parquet")
    )
    base = time.time() - len(parts)
    for i, f in enumerate(parts):
        os.utime(os.path.join(d, f), (base + i, base + i))
    _staged_multi[key] = d
    return d


def staged_events_files(spark: SparkSession, sf_dir: str, n_files: int) -> str:
    return _staged_table_files(spark, sf_dir, "events", "ts", n_files)


def events_stream_multi(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 4,
    files_per_trigger: int = 1,
) -> DataFrame:
    """events as a multi-batch stream: n_files staged files,
    ``files_per_trigger`` per micro-batch.  Replay-style contracts pass 2
    (4 files -> 2 real micro-batches): per-batch fixed cost — trigger
    scheduling, state-store commit, sink version write — is the dominant
    replay cost at test SF, and 2 batches still exercise every cross-batch
    code path (state carry-over, predecessor-version merge).  Production
    sizes this by arrival rate, not by this harness."""
    from shuttle_spark.sources.io import read_stream

    d = staged_events_files(spark, sf_dir, n_files)
    return read_stream(
        spark,
        d,
        "event_id long, user_id long, event_type string,"
        " ts timestamp, value double, props string",
        max_files_per_trigger=files_per_trigger,
    )


def _scoped_conf(spark: SparkSession, overrides: dict[str, str]):
    """Set session confs, returning a restore closure that puts back the
    explicit prior value or UNSETS keys that had none (a bare
    ``conf.get(k, None)``-then-``set`` restore would leak the override
    into the shared session forever)."""
    saved: dict[str, str | None] = {}
    for k, v in overrides.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)

    def restore() -> None:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)

    return restore


def _run_foreach_batch(
    stream_df: DataFrame,
    fn,
    query_name: str,
    shuffle_partitions: int | None,
) -> None:
    """Run a foreachBatch query to completion (AvailableNow) with a
    scoped shuffle-partition override."""
    spark = stream_df.sparkSession
    ckpt = tracked_mkdtemp(f"ckpt_{query_name}_")
    overrides = {}
    if shuffle_partitions is not None:
        overrides["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    restore = _scoped_conf(spark, overrides)
    try:
        q = (
            stream_df.writeStream.foreachBatch(fn)
            .queryName(query_name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        restore()


def run_upsert_sink(
    events: DataFrame,
    path: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    payload_cols: Sequence[str] = ("event_id", "event_type"),
    query_name: str | None = None,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Durable keep-latest state via ``foreachBatch``: every micro-batch
    merges the previous state version with the batch and commits a NEW
    versioned directory ``v{batch_id}`` (read newest v{k<batch_id} ->
    union batch -> keep latest per key -> write v{batch_id} -> GC older
    versions).  Prior versions are never deleted before the new one is
    fully written, so there is no crash window that loses state: a batch
    replayed after a crash re-reads the same predecessor version and
    rewrites the same v{batch_id} — exactly-once under checkpoint
    recovery, the durable twin of the reference's latest-attempt-wins
    block replacement (PartitionPipeReader.java:150-170) and its
    rename-commit finalize (ShuffleDataExecutor.java:119-138).

    Cost per batch is bounded by STATE size (distinct keys), not stream
    length.  On a transactional table format (Delta/Iceberg) the same
    operator is a MERGE INTO; this is the format-free portable form.

    Returns the final state as a batch DataFrame.
    """
    from pyspark.sql import Window

    spark = events.sparkSession
    sel_cols = [key_col, ts_col, *payload_cols]
    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in payload_cols]

    def _fs():
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        return p, p.getFileSystem(spark._jsc.hadoopConfiguration())

    def _versions(fs, root) -> list[int]:
        if not fs.exists(root):
            return []
        out = []
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("v") and name[1:].isdigit():
                out.append(int(name[1:]))
        return sorted(out)

    last_batch: dict[str, int] = {}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        last_batch["v"] = batch_id
        root, fs = _fs()
        incoming = batch_df.select(*sel_cols)
        # newest COMMITTED predecessor (strictly older than this batch —
        # a replayed batch must not read its own partial output, and a
        # crash-truncated or stale uncommitted version dir must never be
        # merged into new state: same _SUCCESS gate as the read-back path)
        jvm = spark._jvm
        preds = [
            v
            for v in _versions(fs, root)
            if v < batch_id
            and fs.exists(
                jvm.org.apache.hadoop.fs.Path(f"{path}/v{v}/_SUCCESS")
            )
        ]
        if preds:
            incoming = spark.read.parquet(f"{path}/v{preds[-1]}").unionByName(
                incoming
            )
        w = Window.partitionBy(key_col).orderBy(*order)
        merged = (
            incoming.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        merged.write.mode("overwrite").parquet(f"{path}/v{batch_id}")
        # GC AFTER the new version is complete, and always RETAIN the
        # newest predecessor: if the process dies after this GC but before
        # the streaming checkpoint commits batch_id, the replayed batch
        # still finds v{batch_id-1} to merge from.  Two generations on
        # disk, zero crash windows; a crash mid-GC leaves extras, which is
        # harmless (readers take the max).
        jvm = spark._jvm
        for v in preds[:-1]:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/v{v}"), True)

    name = query_name or f"upsert_{uuid.uuid4().hex[:8]}"
    _run_foreach_batch(events, merge, name, shuffle_partitions)
    # Read THIS run's final version (not the directory max: a previous
    # differently-batched run may have left a stale higher version that
    # this run's GC retained as its own batch ids never reached it).
    if "v" in last_batch:
        return spark.read.parquet(f"{path}/v{last_batch['v']}")
    # merge() never ran (zero-batch stream / fully-caught-up checkpoint):
    # fall back to the newest COMMITTED version — _SUCCESS is written last
    # by the parquet committer, so a partially-written dir left by a crash
    # mid-write is never picked.  A fresh path with no versions at all is
    # legitimately empty state, not an error.
    root, fs = _fs()
    jvm = spark._jvm
    versions = _versions(fs, root)
    committed = [
        v
        for v in versions
        if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/v{v}/_SUCCESS"))
    ]
    if not committed:
        # versions may exist with no _SUCCESS anywhere: a crash before the
        # FIRST commit left only partial output.  That is empty state, not
        # data — falling back to an uncommitted dir would read truncated
        # rows (or die on a corrupt footer), exactly what the guard above
        # promises never happens.
        return spark.createDataFrame([], events.select(*sel_cols).schema)
    return spark.read.parquet(f"{path}/v{committed[-1]}")


def staged_documents_files(spark: SparkSession, sf_dir: str, n_files: int) -> str:
    """The documents table staged as ``n_files`` parquet files — the
    landing zone of a daily-ingest corpus pipeline."""
    return _staged_table_files(spark, sf_dir, "documents", "doc_id", n_files)


def run_stream_decontaminate(
    docs_stream: DataFrame,
    benchmark: DataFrame,
    out_path: str,
    n: int = 5,
    query_name: str | None = None,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Streaming corpus decontamination — the daily-ingest shape: documents
    arrive in micro-batches, each batch is n-gram-decontaminated against
    the FIXED benchmark set (operators/pipeline.decontaminate — the
    benchmark gram broadcast is per-plan, amortized by Spark's broadcast
    reuse), and the clean survivors are appended durably.  Per-doc
    decontamination against a static benchmark is batch-local, so the
    incremental result equals the all-at-once batch result exactly.

    Exactly-once append: each batch writes its own ``b{batch_id}``
    directory with overwrite, so a replayed batch overwrites rather than
    duplicates (same versioned-commit idea as run_upsert_sink and the
    reference's rename finalize, ShuffleDataExecutor.java:119-138).
    ``out_path``'s lifetime must match the checkpoint's: reusing a
    populated out_path with a FRESH checkpoint re-processes the same
    documents into new batch ids alongside the old dirs — duplicates by
    construction, whatever the sink does.

    Returns the clean corpus as a batch DataFrame: every COMMITTED batch
    dir (``_SUCCESS`` present — a crashed mid-write batch is invisible,
    and a zero-batch run over a caught-up checkpoint returns the empty
    corpus instead of dying on an unmatchable glob).
    """
    import glob as _glob
    import os as _os

    from shuttle_spark.operators import pipeline as P

    spark = docs_stream.sparkSession

    def clean_batch(batch_df: DataFrame, batch_id: int) -> None:
        clean = P.decontaminate(batch_df, benchmark, n=n)
        clean.write.mode("overwrite").parquet(f"{out_path}/b{batch_id}")

    name = query_name or f"decon_{uuid.uuid4().hex[:8]}"
    _run_foreach_batch(docs_stream, clean_batch, name, shuffle_partitions)
    dirs = sorted(
        d
        for d in _glob.glob(f"{out_path}/b*")
        if _os.path.exists(_os.path.join(d, "_SUCCESS"))
    )
    if not dirs:
        return spark.createDataFrame(
            [],
            P.decontaminate(
                spark.createDataFrame([], docs_stream.schema), benchmark, n=n
            ).schema,
        )
    return spark.read.parquet(*dirs)


def _local_cores(master: str) -> int | None:
    """Worker threads of a ``local[N]``, ``local[*]``, ``local[N,F]`` or
    ``local[*,F]`` master (``F`` is the task-failure limit); None for any
    other master."""
    m = re.fullmatch(r"local\[(\*|\d+)(?:,\d+)?\]", master)
    if m is None:
        return None
    return (os.cpu_count() or 1) if m.group(1) == "*" else int(m.group(1))


def replay_partitions(spark: SparkSession, lo: int = 4, hi: int = 16) -> int:
    """Bench-scale partition count for PER-KEY Python-state replays
    (applyInPandasWithState over a wide key space): the per-GROUP runner
    constant parallelizes across partitions while each partition adds a
    fixed state-store commit, so the sweet spot tracks the local core
    count.  Measured at sf0.1 (round 13, interleaved medians):
    stream_locf at local[32] reads 5.85/4.07/3.48/4.01 s for 4/8/16/32
    partitions and at local[8] reads 6.49/5.29/6.87/9.82 —
    ``min(cores, 16)`` picks the winner at both; keep_latest and ewma
    show the same shape (4.72→3.8, 5.17→4.52 at local[32]).  JVM-state
    operators (packed buckets, stream-stream join, session windows) are
    commit-dominated and measured WORSE above 4 partitions (ssjoin
    3.19→8.68) — they keep the fixed small count.  Production sizes
    stateful partitions by state volume, not by this bench dial (see
    run_available_now).  Results are partition-count-invariant (per-key
    state is key-local); only scheduling changes.

    Those figures predate the engine worker daemon (``pydaemon``), so
    they also carried 0.17-0.35 s per Python TASK of zip-directory
    re-reads, which penalized extra partitions.  Re-measured with it
    (sf0.1, one micro-batch, local[4], median of 3 warm runs, a trivial
    count fold): 1,500 keys 2.69 s vs 10 keys 1.05 s at 4 partitions,
    i.e. ~1.1 ms of wall per group, the same as with Spark's stock
    daemon (2.53 vs 1.18 s) — the per-group constant is real and the
    daemon does not move it, so the ``min(cores, 16)`` dial stands.
    16 partitions read 3.02 s (3.87 s stock)."""
    cores = _local_cores(spark.sparkContext.master or "")
    if cores is None:
        cores = spark.sparkContext.defaultParallelism
    return max(lo, min(hi, cores))


def run_available_now(
    stream_df: DataFrame,
    query_name: str | None = None,
    shuffle_partitions: int | None = None,
    output_mode: str = "append",
    session_conf: dict[str, str] | None = None,
) -> DataFrame:
    """Replay a stream to completion (Trigger.AvailableNow) into a memory
    sink and return the result as a batch DataFrame — the harness that lets
    tests assert stream == batch.  Complete/append mode is chosen by Spark
    from the plan; we use append for watermarked aggs (final results only)
    and update for transformWithState operators.  ``session_conf`` entries
    are set for the query and restored afterwards (e.g. the RocksDB state
    store provider transformWithState requires).

    ``shuffle_partitions`` sizes the stateful-operator partition count for
    THIS query only (pinned into its checkpoint at first start; the session
    value is restored afterwards).  State-store commit cost scales with
    partition count, so small replays want few partitions (4 at bench SF
    measured 2-3x faster than 32) while a 100 TB stream wants hundreds —
    it is the streaming twin of the reference's workers-per-app sizing
    (Ors2ShuffleManager.scala:372-398).
    """
    name = query_name or f"q_{uuid.uuid4().hex[:8]}"
    ckpt = tracked_mkdtemp(f"ckpt_{name}_")
    spark = stream_df.sparkSession
    overrides = dict(session_conf or {})
    if shuffle_partitions is not None:
        overrides["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    restore = _scoped_conf(spark, overrides)
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        restore()
    return spark.table(name)


def stream_ewma_deviants(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    threshold_cents: int = 10000,
    window: int = 8,
    min_lags: int = 4,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``relational.ewma_deviants``: per-key EWMA anomaly
    detection as a live stateful operator (``applyInPandasWithState``).

    Micro-batches deliver rows in arrival order, but the EWMA recurrence is
    defined over EVENT-time order — so rows buffer in state and score only
    once the watermark passes them (the finalize-at-watermark pattern of
    this module's window/session operators, applied to a custom
    recurrence).  A finalized row's predecessors have smaller-or-equal
    event time, hence are finalized with or before it, so the scored
    history is exactly the batch operator's lag window: stream == batch on
    the watermark-finalized subset, bit-for-bit (the arithmetic is the
    same all-integer FIR — cents, dyadic weights, integer
    cross-multiplied threshold).

    State per key = (last ``window`` finalized cents, pending rows); the
    watermark bounds pending state exactly like the reference's stage TTL
    bounds its seen-sets (ShuffleDataExecutor.java:279-313).  At scale the
    state is O(window + in-flight disorder) per key and spills to RocksDB.
    """
    out_schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("cents", T.LongType()),
            T.StructField("wsum", T.LongType()),
            T.StructField("denom", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("hist", T.ArrayType(T.LongType())),
            T.StructField("p_ts", T.ArrayType(T.LongType())),
            T.StructField("p_eid", T.ArrayType(T.LongType())),
            T.StructField("p_cents", T.ArrayType(T.LongType())),
        ]
    )
    weights = [1 << (window - j) for j in range(1, window + 1)]
    thr = int(threshold_cents)

    def fold(key, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        hist, p_ts, p_eid, p_c = (
            ([*state.get[0]], [*state.get[1]], [*state.get[2]], [*state.get[3]])
            if state.exists
            else ([], [], [], [])
        )
        wm_us = state.getCurrentWatermarkMs() * 1000
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                if not len(pdf):
                    continue
                pdf = pdf[pdf[value_col].notna()]
                if not len(pdf):
                    continue
                us = pdf[ts_col].values.astype("datetime64[us]").astype("int64")
                # true-late rows (event time strictly before the batch's
                # watermark) are DROPPED, the same rule the built-in
                # stateful operators apply: their predecessors were already
                # finalized, so scoring them now would replay history out
                # of order.  Rows AT the watermark are kept (>=): the
                # finalize step below scores pending rows at p_ts <= wm_us,
                # so a strict > here would silently drop an at-watermark
                # row the finalizer would have scored — batch/stream
                # divergence on the boundary (ADVICE r6).  In-order
                # sources (range-staged replay, a production landing zone)
                # never produce late rows at all.
                live = us >= wm_us
                if not live.all():
                    pdf = pdf[live]
                    us = us[live]
                    if not len(pdf):
                        continue
                # same double expression as the batch twin / oracle:
                # floor(value*100 + 0.5) on the identical float64 inputs
                cents = np.floor(
                    pdf[value_col].values.astype("float64") * 100 + 0.5
                ).astype("int64")
                p_ts.extend(int(x) for x in us)
                p_eid.extend(int(x) for x in pdf["event_id"].values)
                p_c.extend(int(x) for x in cents)
        out_rows = []
        if p_ts:
            order = np.lexsort((np.asarray(p_eid), np.asarray(p_ts)))
            rem_ts, rem_eid, rem_c = [], [], []
            for i in order:
                i = int(i)
                if p_ts[i] > wm_us:
                    rem_ts.append(p_ts[i])
                    rem_eid.append(p_eid[i])
                    rem_c.append(p_c[i])
                    continue
                x = p_c[i]
                n_hist = len(hist)
                if n_hist >= min_lags:
                    k = min(window, n_hist)
                    wsum = sum(hist[-j] * weights[j - 1] for j in range(1, k + 1))
                    denom = sum(weights[:k])
                    if abs(x * denom - wsum) > thr * denom:
                        out_rows.append(
                            (key[0], p_eid[i], p_ts[i], x, wsum, denom)
                        )
                hist.append(x)
                if len(hist) > window:
                    hist = hist[-window:]
            p_ts, p_eid, p_c = rem_ts, rem_eid, rem_c
        state.update((hist[-window:], p_ts, p_eid, p_c))
        if p_ts:
            state.setTimeoutTimestamp(
                max(min(p_ts) // 1000 + 1, state.getCurrentWatermarkMs() + 1)
            )
        if out_rows:
            yield pd.DataFrame(
                out_rows,
                columns=[key_col, "event_id", "ts_us", "cents", "wsum", "denom"],
            )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fold,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_ewma_packed(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    threshold_cents: int = 10000,
    window: int = 8,
    min_lags: int = 4,
    watermark: str = "2 hours",
    n_state_buckets: int = 32,
) -> DataFrame:
    """``stream_ewma_deviants`` with PACKED state — third family on the
    packed-state transform (after locf and keep-latest): keys share
    ``pmod`` hash buckets so the ~1.3 ms applyInPandasWithState
    per-group constant is paid per BUCKET per batch, not per key.

    The EWMA recurrence is history-dependent per key, so unlike locf's
    groupby-ffill the finalize walk stays a Python loop — but the SAME
    per-row loop the per-key operator runs; what packing removes is the
    Arrow slicing + state round-trip per key, which dominates (the fold
    body is microseconds/row).  State per bucket = per-key histories as
    (u_ids, flattened last-``window`` cents, per-key lengths) plus the
    pending-row arrays; identical finalize rule (score rows once the
    watermark passes them, drop true-late rows, (ts, event_id) order).

    Emission parity with the per-key operator is exceptAll-both-ways
    tested (single- and multi-batch) and the contract shares
    ``stream_ewma_deviants``' batch oracle shape."""
    out_schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("cents", T.LongType()),
            T.StructField("wsum", T.LongType()),
            T.StructField("denom", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("u_ids", T.ArrayType(T.LongType())),
            T.StructField("h_flat", T.ArrayType(T.LongType())),
            T.StructField("h_len", T.ArrayType(T.LongType())),
            T.StructField("p_u", T.ArrayType(T.LongType())),
            T.StructField("p_ts", T.ArrayType(T.LongType())),
            T.StructField("p_eid", T.ArrayType(T.LongType())),
            T.StructField("p_cents", T.ArrayType(T.LongType())),
        ]
    )
    weights = [1 << (window - j) for j in range(1, window + 1)]
    cumdenom = [sum(weights[:k]) for k in range(window + 1)]
    thr = int(threshold_cents)

    def fold(key, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        hist: dict = {}
        if state.exists:
            u_ids, h_flat, h_len, p_u, p_ts, p_eid, p_c = state.get
            pos = 0
            for uid, ln in zip(u_ids, h_len):
                hist[int(uid)] = [int(x) for x in h_flat[pos:pos + ln]]
                pos += ln
            p_u = [int(x) for x in p_u]
            p_ts = [int(x) for x in p_ts]
            p_eid = [int(x) for x in p_eid]
            p_c = [int(x) for x in p_c]
        else:
            p_u, p_ts, p_eid, p_c = [], [], [], []
        wm_us = state.getCurrentWatermarkMs() * 1000
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                if not len(pdf):
                    continue
                pdf = pdf[pdf[value_col].notna()]
                if not len(pdf):
                    continue
                us = pdf[ts_col].values.astype("datetime64[us]").astype(
                    "int64"
                )
                # same boundary rule as the per-key operator: true-late
                # rows (strictly before the watermark) drop, at-watermark
                # rows stay
                live = us >= wm_us
                if not live.all():
                    pdf = pdf[live]
                    us = us[live]
                    if not len(pdf):
                        continue
                cents = np.floor(
                    pdf[value_col].values.astype("float64") * 100 + 0.5
                ).astype("int64")
                p_u.extend(int(x) for x in pdf[key_col].values)
                p_ts.extend(int(x) for x in us)
                p_eid.extend(int(x) for x in pdf["event_id"].values)
                p_c.extend(int(x) for x in cents)
        out_rows = []
        if p_ts:
            # finalize in (key, ts, eid) order: per-key subsequences come
            # out contiguous and event-time-ordered, so the sequential
            # recurrence walk below is key-correct in one pass
            order = np.lexsort(
                (np.asarray(p_eid), np.asarray(p_ts), np.asarray(p_u))
            )
            rem_u, rem_ts, rem_eid, rem_c = [], [], [], []
            for i in order:
                i = int(i)
                if p_ts[i] > wm_us:
                    rem_u.append(p_u[i])
                    rem_ts.append(p_ts[i])
                    rem_eid.append(p_eid[i])
                    rem_c.append(p_c[i])
                    continue
                u = p_u[i]
                x = p_c[i]
                h = hist.get(u)
                if h is None:
                    h = hist[u] = []
                n_hist = len(h)
                if n_hist >= min_lags:
                    k = min(window, n_hist)
                    wsum = sum(
                        h[-j] * weights[j - 1] for j in range(1, k + 1)
                    )
                    denom = cumdenom[k]
                    if abs(x * denom - wsum) > thr * denom:
                        out_rows.append(
                            (u, p_eid[i], p_ts[i], x, wsum, denom)
                        )
                h.append(x)
                if len(h) > window:
                    del h[:-window]
            p_u, p_ts, p_eid, p_c = rem_u, rem_ts, rem_eid, rem_c
        u_ids = sorted(hist)
        h_flat: list = []
        h_len = []
        for u in u_ids:
            h = hist[u][-window:]
            h_flat.extend(h)
            h_len.append(len(h))
        if not u_ids and not p_ts:
            # fully drained (timeout flushed the last pending rows, or
            # every ingested value was null): drop the entry instead of
            # storing empty arrays with no timeout that nothing would
            # ever remove — state-store hygiene, matching
            # keep_latest_packed's remove-on-empty (ADVICE r11)
            if state.exists:
                state.remove()
            return
        state.update((u_ids, h_flat, h_len, p_u, p_ts, p_eid, p_c))
        if p_ts:
            state.setTimeoutTimestamp(
                max(min(p_ts) // 1000 + 1, state.getCurrentWatermarkMs() + 1)
            )
        if out_rows:
            yield pd.DataFrame(
                out_rows,
                columns=[
                    key_col, "event_id", "ts_us", "cents", "wsum", "denom",
                ],
            )

    bucketed = events.withColumn(
        "__bucket", F.pmod(F.col(key_col), F.lit(n_state_buckets))
    )
    return (
        bucketed.withWatermark(ts_col, watermark)
        .groupBy("__bucket")
        .applyInPandasWithState(
            fold,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_mv_maintenance(
    base_totals: DataFrame,
    changes: DataFrame,
    group_col: str,
    value_col: str,
    key_cols: Sequence[str],
    n_batches: int = 4,
    scale: int = 2,
) -> DataFrame:
    """Per-group (count, scaled-long sum) totals maintained through a
    STREAM of arriving changesets — the live twin of
    ``lineage.incremental_group_totals``: changeset files land in a
    directory, a file-source stream delivers them one per micro-batch,
    and ``foreachBatch`` folds each batch into the running totals
    (retract-then-add, exact integer domain), exactly how a production
    MV sits downstream of a CDC feed.

    The arriving changeset is split into ``n_batches`` files by a
    deterministic key hash, so each key's single op lands in exactly one
    batch — the standard CDC-compaction invariant (at most one op per
    key per changeset) that makes maintenance COMMUTE over any batch
    partitioning: the final totals are independent of micro-batch
    boundaries and arrival interleaving, which is what lets the
    stream_mv_maintenance contract share the batch oracle verbatim.
    Totals are eagerly ``localCheckpoint``-ed after every fold: O(1)
    plan lineage over unbounded maintenance cycles (the same discipline
    as the k-core peel), and the scaled-long domain means no float
    drift accumulates, ever."""
    from shuttle_spark.operators.lineage import incremental_group_totals

    spark = changes.sparkSession
    land = tracked_mkdtemp("mvstream_land_")
    res = F.pmod(
        F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_batches)
    )
    ch = changes.withColumn("__b", res)
    schema = ch.drop("__b").schema
    # ONE partitioned staging write instead of n_batches sequential
    # coalesce(1) jobs (guide §1.2): repartition on __b puts each bucket
    # in exactly one task, so every __b=i dir holds exactly one part
    # file (partitionBy strips __b from the file contents, identical to
    # the old per-bucket drop("__b") writes).
    stage = tracked_mkdtemp("mvstream_stage_")
    (
        ch.repartition(n_batches, "__b")
        .write.partitionBy("__b")
        .mode("overwrite")
        .parquet(stage)
    )
    for i in range(n_batches):
        part_dir = os.path.join(stage, f"__b={i}")
        data = (
            [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
            if os.path.isdir(part_dir)
            else []
        )
        if len(data) == 1:
            shutil.move(
                os.path.join(part_dir, data[0]),
                os.path.join(land, f"changeset-{i:04d}.parquet"),
            )
        elif not data:
            # empty bucket (no key hashed to it): stage an empty
            # changeset file so the micro-batch count is unchanged
            empty_dir = tracked_mkdtemp(f"mvstream_empty{i}_")
            spark.createDataFrame([], schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(empty_dir)
            f0 = [
                f for f in os.listdir(empty_dir) if f.endswith(".parquet")
            ][0]
            shutil.move(
                os.path.join(empty_dir, f0),
                os.path.join(land, f"changeset-{i:04d}.parquet"),
            )
        else:  # pragma: no cover - repartition("__b") pins one task/bucket
            raise RuntimeError(
                f"staging bucket {i} produced {len(data)} files; expected 1"
            )
    # lazy: the first fold's merge materializes the base totals inside
    # its own batch job (r12)
    state = {"totals": base_totals.localCheckpoint(eager=False)}

    def _fold(batch_df: DataFrame, _batch_id: int) -> None:
        state["totals"] = incremental_group_totals(
            state["totals"], batch_df, group_col, value_col, scale
        ).localCheckpoint(eager=True)

    ckpt = tracked_mkdtemp("mvstream_ckpt_")
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
        .writeStream.foreachBatch(_fold)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return state["totals"]


def stream_locf(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``relational.locf_impute``: last-observation-
    carried-forward as a live stateful operator (applyInPandasWithState)
    — the online feature-serving shape, where each event's NULL value
    must be filled with the key's most recent observation AT ARRIVAL.

    Same finalize-at-watermark protocol as ``stream_ewma_deviants``:
    rows (NULL values included — they're what gets imputed) buffer in
    state and emit only once the watermark passes them, processed in
    (ts, event_id) order.  A finalized row's predecessors are finalized
    with or before it, so the carried value is exactly the batch
    operator's unbounded-preceding window: stream == batch on the
    finalized subset, bit-for-bit in the cents domain
    (floor(value*100 + 0.5), this module's money convention).

    State per key = (last finalized cents, pending rows) — O(1 +
    in-flight disorder), the smallest state any operator in this module
    carries.  Emits (key, event_id, ts_us, cents, was_filled): cents
    NULL only for leading-NULL rows with no prior observation."""
    NULL_SENT = -(2**62)  # NULL cents inside the long-array state
    out_schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("cents", T.LongType()),
            T.StructField("was_filled", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_cents", T.LongType()),
            T.StructField("p_ts", T.ArrayType(T.LongType())),
            T.StructField("p_eid", T.ArrayType(T.LongType())),
            T.StructField("p_cents", T.ArrayType(T.LongType())),
        ]
    )

    def fold(key, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        last, p_ts, p_eid, p_c = (
            (state.get[0], [*state.get[1]], [*state.get[2]], [*state.get[3]])
            if state.exists
            else (NULL_SENT, [], [], [])
        )
        wm_us = state.getCurrentWatermarkMs() * 1000
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                if not len(pdf):
                    continue
                us = pdf[ts_col].values.astype("datetime64[us]").astype("int64")
                live = us >= wm_us  # same boundary rule as stream_ewma
                pdf, us = pdf[live], us[live]
                if not len(pdf):
                    continue
                vals = pdf[value_col].values.astype("float64")
                nan = np.isnan(vals)
                # mask BEFORE the int64 cast: NaN->int is undefined-result
                # territory and numpy emits a RuntimeWarning per micro-batch
                # (the sentinel overwrite below made it benign but noisy)
                cents = np.where(nan, 0.0, np.floor(vals * 100 + 0.5)).astype(
                    "int64"
                )
                cents[nan] = NULL_SENT
                p_ts.extend(int(x) for x in us)
                p_eid.extend(int(x) for x in pdf["event_id"].values)
                p_c.extend(int(x) for x in cents)
        out_rows = []
        if p_ts:
            order = np.lexsort((np.asarray(p_eid), np.asarray(p_ts)))
            rem_ts, rem_eid, rem_c = [], [], []
            for i in order:
                i = int(i)
                if p_ts[i] > wm_us:
                    rem_ts.append(p_ts[i])
                    rem_eid.append(p_eid[i])
                    rem_c.append(p_c[i])
                    continue
                raw = p_c[i]
                filled = raw == NULL_SENT and last != NULL_SENT
                eff = last if raw == NULL_SENT else raw
                out_rows.append(
                    (
                        key[0],
                        p_eid[i],
                        p_ts[i],
                        None if eff == NULL_SENT else eff,
                        bool(filled),
                    )
                )
                if raw != NULL_SENT:
                    last = raw
            p_ts, p_eid, p_c = rem_ts, rem_eid, rem_c
        state.update((last, p_ts, p_eid, p_c))
        if p_ts:
            state.setTimeoutTimestamp(
                max(min(p_ts) // 1000 + 1, state.getCurrentWatermarkMs() + 1)
            )
        if out_rows:
            yield pd.DataFrame(
                out_rows,
                columns=[key_col, "event_id", "ts_us", "cents", "was_filled"],
            )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fold,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_locf_packed(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 hours",
    n_state_buckets: int = 32,
) -> DataFrame:
    """``stream_locf`` with PACKED state: many logical keys share one
    physical state group — the 100 TB state-scaling technique this
    module's per-key operators eventually need.

    Why it exists (measured, round 9): ``applyInPandasWithState`` costs
    ~1.3 ms per GROUP INVOCATION regardless of fold body (a trivial
    count-fold at 1500 keys replays in 2.9 s vs 0.96 s at 10 keys on
    the same data — pure Arrow group slicing + state round-trip), so a
    per-key operator pays keys x batches x 1.3 ms: at a production
    10M-key stream that is the whole budget.  Packing keys into
    ``n_state_buckets`` hash buckets (pmod of the key — deterministic,
    uniform for long ids) makes the per-group constant pay once per
    BUCKET per batch, and the per-key logic runs vectorized
    (pandas groupby-ffill over the bucket's rows) instead of once per
    key.  Size ``n_state_buckets`` ~= shuffle partitions x small
    constant: enough groups to keep every core busy, few enough that
    the group constant vanishes.

    Semantics are IDENTICAL to ``stream_locf`` (same watermark boundary
    rule, same finalize-in-(ts,event_id)-order, same carry/was_filled
    definitions) — asserted by the packed-vs-per-key parity test and by
    sharing the batch census oracle verbatim.  State per bucket =
    (keys with a last observation, their last cents) + pending rows as
    flat parallel arrays — O(keys/bucket + in-flight disorder)."""
    NULL_SENT = -(2**62)
    out_schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("cents", T.LongType()),
            T.StructField("was_filled", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("u_ids", T.ArrayType(T.LongType())),
            T.StructField("u_last", T.ArrayType(T.LongType())),
            T.StructField("p_u", T.ArrayType(T.LongType())),
            T.StructField("p_ts", T.ArrayType(T.LongType())),
            T.StructField("p_eid", T.ArrayType(T.LongType())),
            T.StructField("p_cents", T.ArrayType(T.LongType())),
        ]
    )

    def fold(key, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            u_ids, u_last, p_u, p_ts, p_eid, p_c = (
                np.asarray(x, dtype="int64") for x in state.get
            )
        else:
            u_ids = u_last = p_u = p_ts = p_eid = p_c = np.empty(
                0, dtype="int64"
            )
        wm_us = state.getCurrentWatermarkMs() * 1000
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                if not len(pdf):
                    continue
                us = pdf[ts_col].values.astype("datetime64[us]").astype(
                    "int64"
                )
                live = us >= wm_us  # same boundary rule as stream_locf
                if not live.any():
                    continue
                pdf, us = pdf[live], us[live]
                vals = pdf[value_col].values.astype("float64")
                nan = np.isnan(vals)
                cents = np.where(
                    nan, 0.0, np.floor(vals * 100 + 0.5)
                ).astype("int64")
                cents[nan] = NULL_SENT
                p_u = np.concatenate(
                    [p_u, pdf[key_col].values.astype("int64")]
                )
                p_ts = np.concatenate([p_ts, us])
                p_eid = np.concatenate(
                    [p_eid, pdf["event_id"].values.astype("int64")]
                )
                p_c = np.concatenate([p_c, cents])
        out = None
        if len(p_ts):
            fin = p_ts <= wm_us
            if fin.any():
                fu, ft, fe, fc = p_u[fin], p_ts[fin], p_eid[fin], p_c[fin]
                order = np.lexsort((fe, ft, fu))
                fu, ft, fe, fc = fu[order], ft[order], fe[order], fc[order]
                raw = fc.astype("float64")
                raw[fc == NULL_SENT] = np.nan
                # last-known value per key, seeded from bucket state
                seed_map = pd.Series(
                    u_last.astype("float64"), index=u_ids
                )
                seed_map[seed_map == float(NULL_SENT)] = np.nan
                eff = (
                    pd.Series(raw)
                    .groupby(pd.Series(fu), sort=False)
                    .ffill()
                    .to_numpy()
                )
                head = np.isnan(eff)  # rows before a key's first non-NULL
                if head.any():
                    eff[head] = seed_map.reindex(fu[head]).to_numpy()
                filled = np.isnan(raw) & ~np.isnan(eff)
                # new last per key = last non-NULL RAW in (ts, eid) order
                valid = ~np.isnan(raw)
                if valid.any():
                    lasts = (
                        pd.Series(raw[valid])
                        .groupby(pd.Series(fu[valid]), sort=False)
                        .last()
                    )
                    seed_map = seed_map.reindex(
                        seed_map.index.union(lasts.index)
                    )
                    seed_map[lasts.index] = lasts.to_numpy()
                u_ids = seed_map.index.to_numpy(dtype="int64")
                u_last = np.where(
                    np.isnan(seed_map.to_numpy()),
                    NULL_SENT,
                    np.nan_to_num(seed_map.to_numpy()),
                ).astype("int64")
                out = pd.DataFrame(
                    {
                        key_col: fu,
                        "event_id": fe,
                        "ts_us": ft,
                        "cents": pd.array(
                            np.where(np.isnan(eff), 0, eff).astype("int64"),
                            dtype="Int64",
                        ),
                        "was_filled": filled,
                    }
                )
                out.loc[np.isnan(eff), "cents"] = None
                rem = ~fin
                p_u, p_ts, p_eid, p_c = (
                    p_u[rem], p_ts[rem], p_eid[rem], p_c[rem],
                )
        state.update(
            (
                [int(x) for x in u_ids],
                [int(x) for x in u_last],
                [int(x) for x in p_u],
                [int(x) for x in p_ts],
                [int(x) for x in p_eid],
                [int(x) for x in p_c],
            )
        )
        if len(p_ts):
            state.setTimeoutTimestamp(
                max(
                    int(p_ts.min()) // 1000 + 1,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        if out is not None and len(out):
            yield out

    bucketed = events.withColumn(
        "__bucket", F.pmod(F.col(key_col), F.lit(n_state_buckets))
    )
    return (
        bucketed.withWatermark(ts_col, watermark)
        .groupBy("__bucket")
        .applyInPandasWithState(
            fold,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_cusum(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    target_cents: int = 5000,
    slack_cents: int = 200,
    threshold_cents: int = 20000,
    watermark: str = "2 hours",
    tiebreak_col: str = "event_id",
    scale: int = 2,
) -> DataFrame:
    """Streaming twin of ``relational.cusum_points``: Page's one-sided
    CUSUM drift detector as a live stateful operator — the online
    alerting shape ("page me when the metric stream drifts"), where the
    batch closed form (cumsum - clamped running min) becomes TWO long
    counters of carried state: ``c`` (running deviation sum) and ``m``
    (min(0, running min of c)), updated per finalized row in (ts,
    event_id) order; the emitted statistic is ``c - m``, bit-equal to
    the batch operator on the finalized subset.

    Same finalize-at-watermark protocol as ``stream_locf``: rows buffer
    in state, emit once the watermark passes them, late/disordered rows
    inside the watermark are re-sorted before folding.  NULL values are
    excluded upstream (they carry no evidence, matching the batch
    operator's filter).  State per key = two longs + the in-flight
    disorder buffer — CUSUM is the textbook case for why streaming drift
    detection is cheap: the entire history compresses to (c, m).

    ``tiebreak_col`` and ``scale`` mirror ``cusum_points``' signature
    exactly (defaults ``event_id`` / 2), so non-default batch callers
    get the same stream twin, not a silently divergent one.
    ``tiebreak_col`` MUST be an integral column (it is carried through
    state arrays and the output schema as a long) — validated below
    rather than failing at Arrow conversion or silently truncating a
    float (ADVICE r10).

    Emits ``(key, tiebreak, ts_us, stat_cents, is_alert)``."""
    tb_type = {f.name: f.dataType for f in events.schema.fields}.get(
        tiebreak_col
    )
    if tb_type is not None and not isinstance(
        tb_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise ValueError(
            f"stream_cusum tiebreak_col {tiebreak_col!r} must be an"
            f" integral column (got {tb_type.simpleString()}); its value"
            " rides the LongType state/output schema exactly like batch"
            " cusum_points' long tiebreak"
        )
    drift = target_cents + slack_cents
    m_scale = 10 ** scale
    out_schema = T.StructType(
        [
            T.StructField(key_col, T.StringType()),
            T.StructField(tiebreak_col, T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("stat_cents", T.LongType()),
            T.StructField("is_alert", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("c_cum", T.LongType()),
            T.StructField("c_min", T.LongType()),
            T.StructField("p_ts", T.ArrayType(T.LongType())),
            T.StructField("p_eid", T.ArrayType(T.LongType())),
            T.StructField("p_cents", T.ArrayType(T.LongType())),
        ]
    )

    def fold(key, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        c, mn, p_ts, p_eid, p_c = (
            (
                state.get[0],
                state.get[1],
                [*state.get[2]],
                [*state.get[3]],
                [*state.get[4]],
            )
            if state.exists
            else (0, 0, [], [], [])
        )
        wm_us = state.getCurrentWatermarkMs() * 1000
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                if not len(pdf):
                    continue
                us = pdf[ts_col].values.astype("datetime64[us]").astype(
                    "int64"
                )
                live = us >= wm_us
                pdf, us = pdf[live], us[live]
                if not len(pdf):
                    continue
                vals = pdf[value_col].values.astype("float64")
                ok = ~np.isnan(vals)
                cents = np.zeros(len(vals), dtype="int64")
                cents[ok] = np.floor(vals[ok] * m_scale + 0.5).astype(
                    "int64"
                )
                p_ts.extend(int(x) for x in us[ok])
                p_eid.extend(int(x) for x in pdf[tiebreak_col].values[ok])
                p_c.extend(int(x) for x in cents[ok])
        out_rows = []
        if p_ts:
            order = np.lexsort((np.asarray(p_eid), np.asarray(p_ts)))
            rem_ts, rem_eid, rem_c = [], [], []
            for i in order:
                i = int(i)
                if p_ts[i] > wm_us:
                    rem_ts.append(p_ts[i])
                    rem_eid.append(p_eid[i])
                    rem_c.append(p_c[i])
                    continue
                c += p_c[i] - drift
                mn = min(mn, c)
                s = c - mn
                out_rows.append(
                    (key[0], p_eid[i], p_ts[i], s, s > threshold_cents)
                )
            p_ts, p_eid, p_c = rem_ts, rem_eid, rem_c
        state.update((c, mn, p_ts, p_eid, p_c))
        if p_ts:
            state.setTimeoutTimestamp(
                max(min(p_ts) // 1000 + 1, state.getCurrentWatermarkMs() + 1)
            )
        if out_rows:
            yield pd.DataFrame(
                out_rows,
                columns=[key_col, tiebreak_col, "ts_us", "stat_cents",
                         "is_alert"],
            )

    return (
        events.filter(F.col(value_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fold,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_cusum_packed(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    target_cents: int = 5000,
    slack_cents: int = 200,
    threshold_cents: int = 20000,
    watermark: str = "2 hours",
    tiebreak_col: str = "event_id",
    scale: int = 2,
    n_state_buckets: int = 32,
) -> DataFrame:
    """``stream_cusum`` with PACKED state — fourth family on the
    packed-state transform (after locf, keep-latest and ewma): keys
    share ``pmod(hash(key), n_state_buckets)`` buckets so the measured
    ~1.3 ms applyInPandasWithState per-GROUP-invocation constant is
    paid per bucket per batch, not per key — at a 10M-key stream the
    per-key form's whole budget is that constant.

    CUSUM is the friendliest recurrence for packing: the entire per-key
    history compresses to TWO long counters (``c`` running deviation
    sum, ``m`` its clamped running min), so bucket state is three flat
    parallel arrays (key, c, m) plus the in-flight disorder buffer.
    The finalize walk stays the per-key operator's fold VERBATIM — rows
    sort by (key, ts, tiebreak) so per-key subsequences come out
    contiguous and event-time-ordered, and the two counters thread
    through exactly as the per-key state would.  The hash bucketing
    (rather than locf/ewma's ``pmod(key)``) keeps the transform
    key-type-generic: ``stream_cusum`` keys on a STRING metric name.

    Emission protocol, null handling, the true-late drop rule
    (``ts < watermark`` drops, at-watermark stays), the
    round-half-up cents conversion and the integral-tiebreak
    validation are all identical to ``stream_cusum``; packed == per-key
    is exceptAll-both-ways parity-tested and the contract shares the
    per-key operator's batch-closed-form oracle verbatim.

    Emits ``(key, tiebreak, ts_us, stat_cents, is_alert)``."""
    tb_type = {f.name: f.dataType for f in events.schema.fields}.get(
        tiebreak_col
    )
    if tb_type is not None and not isinstance(
        tb_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise ValueError(
            f"stream_cusum_packed tiebreak_col {tiebreak_col!r} must be"
            f" an integral column (got {tb_type.simpleString()}); its"
            " value rides the LongType state/output schema exactly like"
            " batch cusum_points' long tiebreak"
        )
    drift = target_cents + slack_cents
    m_scale = 10 ** scale
    out_schema = T.StructType(
        [
            T.StructField(key_col, T.StringType()),
            T.StructField(tiebreak_col, T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("stat_cents", T.LongType()),
            T.StructField("is_alert", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("k_ids", T.ArrayType(T.StringType())),
            T.StructField("k_c", T.ArrayType(T.LongType())),
            T.StructField("k_min", T.ArrayType(T.LongType())),
            T.StructField("p_k", T.ArrayType(T.StringType())),
            T.StructField("p_ts", T.ArrayType(T.LongType())),
            T.StructField("p_eid", T.ArrayType(T.LongType())),
            T.StructField("p_cents", T.ArrayType(T.LongType())),
        ]
    )

    def fold(key, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        counters: dict = {}
        if state.exists:
            k_ids, k_c, k_min, p_k, p_ts, p_eid, p_c = state.get
            for kk, cc, mm in zip(k_ids, k_c, k_min):
                counters[str(kk)] = [int(cc), int(mm)]
            p_k = [str(x) for x in p_k]
            p_ts = [int(x) for x in p_ts]
            p_eid = [int(x) for x in p_eid]
            p_c = [int(x) for x in p_c]
        else:
            p_k, p_ts, p_eid, p_c = [], [], [], []
        wm_us = state.getCurrentWatermarkMs() * 1000
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                if not len(pdf):
                    continue
                us = pdf[ts_col].values.astype("datetime64[us]").astype(
                    "int64"
                )
                # same boundary rule as the per-key operator: true-late
                # rows (strictly before the watermark) drop
                live = us >= wm_us
                pdf, us = pdf[live], us[live]
                if not len(pdf):
                    continue
                vals = pdf[value_col].values.astype("float64")
                ok = ~np.isnan(vals)
                cents = np.zeros(len(vals), dtype="int64")
                cents[ok] = np.floor(vals[ok] * m_scale + 0.5).astype(
                    "int64"
                )
                p_k.extend(str(x) for x in pdf[key_col].values[ok])
                p_ts.extend(int(x) for x in us[ok])
                p_eid.extend(int(x) for x in pdf[tiebreak_col].values[ok])
                p_c.extend(int(x) for x in cents[ok])
        out_rows = []
        if p_ts:
            # finalize in (key, ts, eid) order: per-key subsequences come
            # out contiguous and event-time-ordered, so the two-counter
            # walk below threads each key's state exactly like the
            # per-key fold
            kidx = {}
            k_codes = np.fromiter(
                (kidx.setdefault(k, len(kidx)) for k in p_k),
                dtype="int64",
                count=len(p_k),
            )
            order = np.lexsort(
                (np.asarray(p_eid), np.asarray(p_ts), k_codes)
            )
            rem_k, rem_ts, rem_eid, rem_c = [], [], [], []
            for i in order:
                i = int(i)
                if p_ts[i] > wm_us:
                    rem_k.append(p_k[i])
                    rem_ts.append(p_ts[i])
                    rem_eid.append(p_eid[i])
                    rem_c.append(p_c[i])
                    continue
                k = p_k[i]
                st = counters.get(k)
                if st is None:
                    st = counters[k] = [0, 0]
                st[0] += p_c[i] - drift
                if st[0] < st[1]:
                    st[1] = st[0]
                s = st[0] - st[1]
                out_rows.append(
                    (k, p_eid[i], p_ts[i], s, s > threshold_cents)
                )
            p_k, p_ts, p_eid, p_c = rem_k, rem_ts, rem_eid, rem_c
        if not counters and not p_ts:
            # fully drained: no counters and nothing pending — drop the
            # entry instead of parking empty arrays with no timeout
            # (the ADVICE r11 hygiene rule all packed families follow)
            if state.exists:
                state.remove()
            return
        k_ids = sorted(counters)
        state.update(
            (
                k_ids,
                [counters[k][0] for k in k_ids],
                [counters[k][1] for k in k_ids],
                p_k,
                p_ts,
                p_eid,
                p_c,
            )
        )
        if p_ts:
            state.setTimeoutTimestamp(
                max(min(p_ts) // 1000 + 1, state.getCurrentWatermarkMs() + 1)
            )
        if out_rows:
            yield pd.DataFrame(
                out_rows,
                columns=[key_col, tiebreak_col, "ts_us", "stat_cents",
                         "is_alert"],
            )

    bucketed = events.filter(F.col(value_col).isNotNull()).withColumn(
        "__bucket", F.pmod(F.hash(F.col(key_col)), F.lit(n_state_buckets))
    )
    return (
        bucketed.withWatermark(ts_col, watermark)
        .groupBy("__bucket")
        .applyInPandasWithState(
            fold,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
