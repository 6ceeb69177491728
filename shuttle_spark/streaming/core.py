"""Structured Streaming operators (SURVEY.md §2.B B24–B25, §7 Phase 3).

The reference's finalize barrier — reducers poll the partition dir until every
worker file is `_final` before reading (/root/reference/src/main/java/com/oppo/
shuttle/rss/clients/ShufflePartitionReader.java:134-153) — is the moral
ancestor of the watermark: both declare "this slice of input is complete, you
may emit".  Our engine exposes the Spark-native version: file-source streams,
event-time watermarks, tumbling/session windows, stream dedup, and four
stateful keyed recurrences (keep-latest, EWMA, LOCF, CUSUM) on one fold,
``_keyed_recurrence``: the JVM ``flatMapGroupsWithState`` kernel
``jvm/KeyedRecurrence.java`` in sessions ``get_session`` built, its
``applyInPandasWithState`` twin elsewhere.

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
* Keyed-recurrence state lives in the state store (RocksDB in
  production via ``spark.sql.streaming.stateStore.providerClass``); the
  shuffle before it hash-partitions by key — the same exchange shape the
  reference's workers implement server-side.
"""

from __future__ import annotations

import os
import re
import shutil
import struct
import time
import uuid
import weakref
from collections.abc import Callable, Iterable, Sequence
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark import Accumulator
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from shuttle_spark import session as S
from shuttle_spark.cache import scratch_dir, staged_dir
from shuttle_spark.catalog import normalize_events_ts, table_path
from shuttle_spark.observability import record_replay


def events_raw_schema(sf_dir: str) -> T.StructType:
    """Stream-source schema matching the physical events parquet.

    The driver has shipped events.ts as parquet TIMESTAMP(NANOS) (read as
    epoch-nanos long under nanosAsLong) and as timestamp[us] in different
    rounds; probe the footer so the declared stream schema always matches
    the file.  Parquet file streams match columns by name, so field order
    is immaterial.
    """
    import pyarrow.parquet as pq

    ts_type = pq.read_schema(table_path(sf_dir, "events")).field("ts").type
    spark_ts: T.DataType
    if str(ts_type) == "int64" or str(ts_type).startswith("timestamp[ns"):
        # Spark has no nanosecond timestamp type: declaring TimestampType
        # over TIMESTAMP(NANOS) parquet throws
        # SchemaColumnConvertNotSupportedException (verified on 4.1.2,
        # with and without a zone); under nanosAsLong both read as
        # epoch-nano bigint, which normalize_events_ts converts (nanos are
        # UTC-anchored either way, so the conversion is tz-exact).
        spark_ts = T.LongType()
    else:
        # micros or millis, with a zone or without: Spark reads the stored
        # value as the instant, whatever the session zone, so the stream
        # needs no per-row zone cast (a TIMESTAMP_NTZ read would).
        spark_ts = T.TimestampType()
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


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The events table as a file-source stream (replay of a static dir).

    In production the same code reads a landing directory that receivers
    append to; ``max_files_per_trigger`` rate-limits each micro-batch.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # FileStreamSource ingests *directories* (a landing zone receivers append
    # to).  The testdata table is a single file, so stage it into a
    # directory by symlink — zero-copy, and the same code path production
    # would use.
    src = table_path(sf_dir, "events")
    stream_dir = staged_dir(
        spark, src, params=("events_stream",),
        build=lambda d: os.symlink(src, os.path.join(d, "events-000.parquet")),
    )
    reader = spark.readStream.schema(events_raw_schema(sf_dir))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_events_ts(reader.parquet(stream_dir))


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


# ---------------------------------------------------------------------------
# Keyed recurrences: one stateful fold, four families
# ---------------------------------------------------------------------------

_NULL_CENTS = -(2**62)  # a NULL cents value inside the long-array state
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


class _Family(NamedTuple):
    """One keyed recurrence, as a spec for ``_keyed_recurrence``.

    * ``out``: the output columns after the key, in order.  The kernel
      fills ``ts_us`` and the order column; ``step`` fills the rest.
    * ``inputs``: the one event column ``ingest`` reads.
    * ``ingest(pdf) -> (ok, payload)``: the per-row arrays kept while a
      row is pending, plus a mask of the rows to ingest (None = all).
    * ``payload``: the state types of those arrays.
    * ``carry``: per-key carry fields as ``(name, shape, initial)``.
    * ``step(k, ts, payload, carry, wm_us) -> (emit, cols, keep,
      carry)``: takes the pending rows sorted by (key, ts, order), with
      ``k`` indexing the per-key ``carry`` arrays, and returns the
      indices of the emitted rows, their ``cols``, the mask of rows
      still pending and the new carry.
    * ``kernel``: the family's ``KeyedRecurrence`` factory in
      ``jvm/KeyedRecurrence.java`` and its arguments after the late-row
      accumulator; the kernel's step is ``step`` in Java."""

    out: list[tuple[str, T.DataType]]
    inputs: list[str]
    ingest: Callable
    payload: list[tuple[str, T.DataType]]
    carry: list[tuple[str, tuple[int, ...], int]]
    step: Callable
    kernel: tuple


def _keyed_recurrence(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    order_col: str,
    family: _Family,
    n_state_buckets: int | None,
    watermark: str,
) -> DataFrame:
    """The one stateful fold behind every keyed stream family in this
    module (keep-latest, EWMA, LOCF, CUSUM).

    Rows buffer in state as pending ``(ts_us, order, payload)`` rows next
    to a per-key carry.  Each invocation drops true-late rows, sorts the
    pending rows by (key, ts, order) and hands them to the family's step,
    which emits what the watermark has finalized and threads the carry
    through.  A finalized row's predecessors have smaller or equal event
    time, so they finalized with or before it, and a step sees each key's
    history in batch order: stream == batch on the finalized subset.

    **Kernel.**  In a session ``get_session`` built (``kernel_session``)
    the fold is ``shuttle_spark/jvm/KeyedRecurrence.java``, applied per
    key by ``flatMapGroupsWithState`` with no Python worker; its four
    steps are the integer arithmetic of the numpy steps below.  Elsewhere
    (no ``javac``) the fold is the ``applyInPandasWithState`` twin below,
    whose state encoding differs; the parity tests pin the two together.

    **Late rule.**  A row whose event time is strictly before the
    batch's watermark (``us < wm_us``) is dropped; a row AT the
    watermark is kept, because the ewma/locf/cusum steps finalize
    ``ts_us <= wm_us``.  On Spark 4.1.2 this rule is the only filter:
    Spark passes strictly-late rows into either fold and reports
    ``numRowsDroppedByWatermark = 0``, so the fold counts its drops into
    the context's late-row counters (``late_rows``), which
    ``run_available_now`` reports as ``last_replay().rows_dropped_late``.
    In-order sources (a range-staged replay, a production landing zone)
    produce no late rows.

    **Timeout.**  While rows are pending, the event-time timeout is
    re-armed at ``max(min_pending_ms + 1, wm_ms + 1)``, so the group is
    invoked again, with or without new rows, once the watermark passes
    its oldest pending row.

    **State hygiene.**  Keys whose carry equals its initial value are
    not stored, and a group with no stored key and nothing pending is
    removed, so no drained entry without a timeout is left behind.

    **Layouts** (the Python twin only; the kernel is always per key).
    ``n_state_buckets=None`` makes each key its own state group.  An int
    packs keys into ``pmod(hash(key), n_state_buckets)`` groups; the fold
    is the same, so the layout changes only how many groups exist.  That
    count is the twin's cost model: Spark's Python runner costs ~1.1 ms
    of wall per group invocation whatever the fold does (local[4], sf0.1,
    engine worker daemon: a trivial count fold over 1,500 keys replays in
    2.69 s vs 1.05 s over 10 keys).  Per-key state pays keys x batches x
    that constant, packed state pays it per bucket per batch, and the
    steps are vectorized numpy over a group's rows.  Size
    ``n_state_buckets`` ~= shuffle partitions x a small constant: enough
    groups to keep every core busy, few enough that the per-group
    constant vanishes.

    ``order_col`` must be integral: it rides the LongType state and
    output schemas."""
    types = {f.name: f.dataType for f in events.schema.fields}
    if not isinstance(types.get(order_col), _INTEGRAL):
        got = types.get(order_col)
        raise ValueError(
            f"order column {order_col!r} must be an integral column (got"
            f" {got.simpleString() if got else 'no such column'}); it rides"
            " the LongType state and output schemas"
        )
    key_type = types[key_col]
    out_schema = T.StructType(
        [T.StructField(key_col, key_type)]
        + [T.StructField(name, t) for name, t in family.out]
    )
    src = events.select(
        *dict.fromkeys([key_col, ts_col, order_col, *family.inputs])
    )
    late = _late_counters(events.sparkSession)
    if S.kernel_session():
        return _kernel_fold(
            src, key_col, ts_col, order_col, family, out_schema, watermark,
            late.jvm,
        )
    key_np = "int64" if isinstance(key_type, _INTEGRAL) else object
    row_np = ["int64", "int64"] + [
        "int64" if isinstance(t, T.LongType) else object
        for _, t in family.payload
    ]
    longs = T.ArrayType(T.LongType())
    # keys holding a carry or pending rows, their carry, how many pending
    # rows each holds, then the pending rows in key-run order
    state_schema = T.StructType(
        [T.StructField("keys", T.ArrayType(key_type))]
        + [T.StructField(name, longs) for name, _, _ in family.carry]
        + [
            T.StructField("p_count", longs),
            T.StructField("p_ts", longs),
            T.StructField("p_ord", longs),
        ]
        + [T.StructField(name, T.ArrayType(t)) for name, t in family.payload]
    )
    n_carry = len(family.carry)
    py_late = late.python  # the closure must not capture the JVM handle

    def fold(_key, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        s = state.get if state.exists else [[]] * len(state_schema)
        keys = np.asarray(s[0], dtype=key_np)
        carry = [
            np.asarray(s[1 + i], dtype="int64").reshape(len(keys), *shape)
            for i, (_, shape, _) in enumerate(family.carry)
        ]
        counts = np.asarray(s[1 + n_carry], dtype="int64")
        rows = [np.repeat(np.arange(len(keys)), counts)] + [
            np.asarray(v, dtype=d) for v, d in zip(s[2 + n_carry:], row_np)
        ]
        new, dropped = [], 0
        for pdf in pdf_iter:
            us = pdf[ts_col].values.astype("datetime64[us]").astype("int64")
            ok, payload = family.ingest(pdf)
            live = us >= wm_us  # the late rule
            dropped += int(len(us) - live.sum())
            if ok is not None:
                live &= ok
            cols = (pdf[key_col].to_numpy(), us, pdf[order_col].to_numpy())
            new.append([a[live] for a in (*cols, *payload)])
        if dropped:
            py_late.add(dropped)
        if new:
            new_keys, *new_rows = map(np.concatenate, zip(*new))
            # codes in first-appearance order keep the stored keys' codes
            codes, keys = pd.factorize(
                np.concatenate([keys, new_keys.astype(key_np)]),
                use_na_sentinel=False,
            )
            new_rows.insert(0, codes[len(codes) - len(new_keys):])
            rows = [np.concatenate(r) for r in zip(rows, new_rows)]
            carry = [
                np.concatenate(
                    [c, np.full((len(keys) - len(c), *shape), init, "int64")]
                )
                for c, (_, shape, init) in zip(carry, family.carry)
            ]
        k, ts, order, *payload = rows
        out = None
        if len(ts):
            o = np.lexsort((order, ts, k))
            k, ts, order = k[o], ts[o], order[o]
            payload = [p[o] for p in payload]
            emit, cols, keep, carry = family.step(k, ts, payload, carry, wm_us)
            if len(emit):
                cols[key_col], cols[order_col] = keys[k[emit]], order[emit]
                cols["ts_us"] = ts[emit]
                out = pd.DataFrame({c.name: cols[c.name] for c in out_schema})
            k, ts, order = k[keep], ts[keep], order[keep]
            payload = [p[keep] for p in payload]
        counts = np.bincount(k, minlength=len(keys))
        stored = counts > 0
        for c, (_, _, init) in zip(carry, family.carry):
            stored |= (c != init).any(axis=tuple(range(1, c.ndim)))
        if not stored.any():
            if state.exists:
                state.remove()
        else:
            state.update(
                (
                    keys[stored].tolist(),
                    *(c[stored].ravel().tolist() for c in carry),
                    counts[stored].tolist(),
                    ts.tolist(),
                    order.tolist(),
                    *(p.tolist() for p in payload),
                )
            )
            if len(ts):
                state.setTimeoutTimestamp(
                    max(int(ts.min()) // 1000 + 1, wm_ms + 1)
                )
        if out is not None:
            yield out

    if n_state_buckets is None:
        grouped = src.withWatermark(ts_col, watermark).groupBy(key_col)
    else:
        grouped = (
            src.withColumn(
                "__bucket",
                F.pmod(F.hash(F.col(key_col)), F.lit(n_state_buckets)),
            )
            .withWatermark(ts_col, watermark)
            .groupBy("__bucket")
        )
    return grouped.applyInPandasWithState(
        fold,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def _kernel_fold(
    src: DataFrame,
    key_col: str,
    ts_col: str,
    order_col: str,
    family: _Family,
    out_schema: T.StructType,
    watermark: str,
    late,
) -> DataFrame:
    """``_keyed_recurrence`` as ``jvm/KeyedRecurrence.java`` applied per
    key by ``flatMapGroupsWithState``.  The kernel reads
    ``(key, ts, ts_us, order, payload)`` rows; strictly-late rows are
    added to ``late``, the context's JVM late-row accumulator.

    Each key's state is one ``BinaryType`` value that the kernel packs
    with a big-endian ``ByteBuffer``: an int carry length ``c`` and ``c``
    carry longs, an int pending count ``n``, ``n`` ``(ts_us, order)``
    long pairs, then ``n`` payloads, each a long (cents) or, for text, an
    int byte length (-1 for NULL) and that many bytes of UTF-8.
    ``_kernel_state`` decodes it.  A binary state needs no per-field
    (de)serializer projections in the state store."""
    spark = src.sparkSession
    jvm = spark._jvm
    (payload_col,) = family.inputs
    ((_, kept),) = family.payload
    # a step reads a payload kept as text as a string and one kept as
    # cents as a double, from any numeric column, as the twin's ingest does
    read = kept if isinstance(kept, T.StringType) else T.DoubleType()
    rows = src.select(
        key_col,
        ts_col,
        F.unix_micros(ts_col).alias("__us"),
        F.col(order_col).cast("long").alias("__order"),
        F.col(payload_col).cast(read).alias("__payload"),
    ).withWatermark(ts_col, watermark)

    def encoder(schema: T.StructType):
        return jvm.org.apache.spark.sql.Encoders.row(
            spark._jsparkSession.parseDataType(schema.json())
        )

    factory, *args = family.kernel
    kernel = getattr(jvm.shuttle_spark.jvm.KeyedRecurrence, factory)(late, *args)
    streaming = jvm.org.apache.spark.sql.streaming
    # The kernel never reads the value rows' ts (the watermark column the
    # child must keep): decode it to an Instant, not a rebased
    # java.sql.Timestamp.  The encoder reads this conf when it is made.
    restore = S._scoped_conf(spark, {"spark.sql.datetime.java8API.enabled": "true"})
    try:
        values = encoder(rows.schema)
    finally:
        restore()
    by_key = getattr(rows.groupBy(key_col)._jgd, "as")(
        encoder(rows.select(key_col).schema), values
    )
    return DataFrame(
        by_key.flatMapGroupsWithState(
            kernel,
            streaming.OutputMode.Append(),
            jvm.org.apache.spark.sql.Encoders.BINARY(),
            encoder(out_schema),
            streaming.GroupStateTimeout.EventTimeTimeout(),
        ),
        spark,
    )


def _kernel_state(blob: bytes, text: bool) -> tuple[list[int], list[tuple]]:
    """One key's kernel state (``_kernel_fold``'s layout) as its carry
    and its pending ``(ts_us, order, payload)`` rows; ``text`` says the
    payloads are strings (keep-latest), else longs."""
    (c,) = struct.unpack_from(">i", blob)
    carry = list(struct.unpack_from(f">{c}q", blob, 4))
    (n,) = struct.unpack_from(">i", blob, 4 + 8 * c)
    pairs = struct.unpack_from(f">{2 * n}q", blob, 8 + 8 * c)
    off = 8 + 8 * c + 16 * n
    payload = []
    for _ in range(n):
        if not text:
            payload.append(struct.unpack_from(">q", blob, off)[0])
            off += 8
            continue
        (size,) = struct.unpack_from(">i", blob, off)
        off += 4 + max(size, 0)
        payload.append(None if size < 0 else blob[off - size:off].decode())
    return carry, list(zip(pairs[0::2], pairs[1::2], payload))


class _LateCounters(NamedTuple):
    """Strictly-late rows the keyed recurrences of one Spark context have
    dropped: ``jvm`` counts the kernel's (a ``LongAccumulator``),
    ``python`` the ``applyInPandasWithState`` twin's."""

    jvm: object
    python: Accumulator


_LATE_COUNTERS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _late_counters(spark: SparkSession) -> _LateCounters:
    sc = spark.sparkContext
    counters = _LATE_COUNTERS.get(sc)
    if counters is None:
        counters = _LateCounters(
            sc._jsc.sc().longAccumulator("shuttle_late_rows"), sc.accumulator(0)
        )
        _LATE_COUNTERS[sc] = counters
    return counters


def late_rows(spark: SparkSession) -> int:
    """Strictly-late rows the keyed recurrences of this Spark context have
    dropped so far (both folds; the count after a replay minus the count
    before it is the replay's, while no other replay runs)."""
    counters = _LATE_COUNTERS.get(spark.sparkContext)
    if counters is None:
        return 0
    return counters.jvm.value() + counters.python.value


def _segments(k: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """For key-sorted codes ``k``: the mask of each key run's first and
    last row, and each row's rank within its run."""
    start = np.ones(len(k), dtype=bool)
    start[1:] = k[1:] != k[:-1]
    end = np.ones(len(k), dtype=bool)
    end[:-1] = start[1:]
    idx = np.arange(len(k))
    return start, end, idx - np.maximum.accumulate(np.where(start, idx, 0))


def _cents(pdf: pd.DataFrame, col: str, scale: int):
    """``floor(value * scale + 0.5)`` as int64 (0 where NULL) and the
    non-NULL mask: the same double expression as the batch twins."""
    v = pdf[col].to_numpy(dtype="float64")
    ok = ~np.isnan(v)
    return np.floor(np.where(ok, v, 0.0) * scale + 0.5).astype("int64"), ok


def stream_keep_latest(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "2 hours",
    n_state_buckets: int | None = None,
) -> DataFrame:
    """Latest row per key, emitted once the watermark closes the key's
    quiet period (B8's streaming twin — the stale-attempt filter of
    PartitionPipeReader.java:150-170 as a live op).  A key's winner is
    its max row under the total (ts, event_id) order; it is emitted when
    ``ts_ms < watermark_ms`` and its pending entry is dropped.

    The payload is the events-table shape (event_id tiebreak +
    event_type), FIXED: for arbitrary payload columns use the batch twin
    ``dedup.keep_latest`` or the foreachBatch sink ``run_upsert_sink``.
    Output: key, ts_us (epoch micros), event_id, event_type.

    Strictly-late rows (before the watermark) are dropped by the kernel's
    late rule; earlier versions folded them into the winner.  No
    in-order replay produces such rows.  State, late rule, timeout and
    layouts: ``_keyed_recurrence``; the stream_replay benchmark runs the
    ``n_state_buckets=32`` contract, which the JVM kernel folds per key."""

    def step(k, ts, payload, carry, wm_us):
        _, last, _ = _segments(k)
        emit = last & (ts // 1000 < wm_us // 1000)
        cols = {"event_type": payload[0][emit]}
        return np.flatnonzero(emit), cols, last & ~emit, carry

    family = _Family(
        out=[
            ("ts_us", T.LongType()),
            ("event_id", T.LongType()),
            ("event_type", T.StringType()),
        ],
        inputs=["event_type"],
        ingest=lambda pdf: (None, [pdf["event_type"].to_numpy(object)]),
        payload=[("p_type", T.StringType())],
        carry=[],
        step=step,
        kernel=("keepLatest",),
    )
    return _keyed_recurrence(
        events, key_col, ts_col, "event_id", family, n_state_buckets, watermark
    )


def stream_ewma_deviants(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    threshold_cents: int = 10000,
    window: int = 8,
    min_lags: int = 4,
    watermark: str = "2 hours",
    n_state_buckets: int | None = None,
) -> DataFrame:
    """Streaming twin of ``relational.ewma_deviants``: per-key EWMA
    anomaly detection over EVENT-time order.  Rows with a NULL value are
    not ingested; the others score once the watermark finalizes them
    (``ts_us <= watermark_us``) against the key's last ``window``
    finalized cents — exactly the batch operator's lag window, with the
    same all-integer FIR (cents, dyadic weights, integer
    cross-multiplied threshold), so stream == batch bit-for-bit on the
    finalized subset.  Emits the deviant rows as (key, event_id, ts_us,
    cents, wsum, denom).

    Carry per key = the last ``window`` cents, right-aligned, and their
    count.  State, late rule, timeout and layouts:
    ``_keyed_recurrence``."""
    weights = np.array([1 << (window - j) for j in range(1, window + 1)])
    cumdenom = np.concatenate([[0], np.cumsum(weights)])
    lag = np.arange(window + 1)

    def step(k, ts, payload, carry, wm_us):
        hist, h_len = carry
        fin = ts <= wm_us
        f = np.flatnonzero(fin)
        x, kf = payload[0][f], k[f]
        _, end, r = _segments(kf)
        # lags[i, j] = the value j finalized rows before row i (j = 0 is
        # the row itself); lags past the row's own run read the carry
        back = lag - r[:, None]
        lags = np.where(
            back <= 0,
            x[np.maximum(np.arange(len(x))[:, None] - lag, 0)],
            hist[kf[:, None], np.clip(window - back, 0, window - 1)],
        )
        n_lags = np.minimum(window, h_len[kf] + r)
        wsum = (lags[:, 1:] * weights * (lag[1:] <= n_lags[:, None])).sum(1)
        denom = cumdenom[n_lags]
        alert = (n_lags >= min_lags) & (
            np.abs(x * denom - wsum) > threshold_cents * denom
        )
        n_new = np.minimum(window, h_len[kf[end]] + r[end] + 1)
        hist[kf[end]] = np.where(
            lag[:window] < n_new[:, None], lags[end, :window], 0
        )[:, ::-1]
        h_len[kf[end]] = n_new
        cols = {"cents": x[alert], "wsum": wsum[alert], "denom": denom[alert]}
        return f[alert], cols, ~fin, [hist, h_len]

    def ingest(pdf):
        cents, ok = _cents(pdf, value_col, 100)
        return ok, [cents]

    long = T.LongType()
    family = _Family(
        out=[
            ("event_id", long),
            ("ts_us", long),
            ("cents", long),
            ("wsum", long),
            ("denom", long),
        ],
        inputs=[value_col],
        ingest=ingest,
        payload=[("p_cents", long)],
        carry=[("hist", (window,), 0), ("h_len", (), 0)],
        step=step,
        kernel=("ewma", threshold_cents, window, min_lags),
    )
    return _keyed_recurrence(
        events, key_col, ts_col, "event_id", family, n_state_buckets, watermark
    )


def stream_locf(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 hours",
    n_state_buckets: int | None = None,
) -> DataFrame:
    """Streaming twin of ``relational.locf_impute``: last observation
    carried forward — the online feature-serving shape, where each
    event's NULL value is filled with the key's most recent observation.
    Every row (NULL values included: they are what gets imputed) is
    emitted once the watermark finalizes it (``ts_us <= watermark_us``),
    in (ts, event_id) order, so the carried value is exactly the batch
    operator's unbounded-preceding window, bit-for-bit in the cents
    domain (floor(value*100 + 0.5)).

    Carry per key = the last observed cents.  Emits (key, event_id,
    ts_us, cents, was_filled); cents is NULL only for leading-NULL rows
    with no prior observation.  State, late rule, timeout and layouts:
    ``_keyed_recurrence``."""

    def step(k, ts, payload, carry, wm_us):
        (last,) = carry
        fin = ts <= wm_us
        f = np.flatnonzero(fin)
        raw, kf = payload[0][f], k[f]
        _, end, r = _segments(kf)
        idx = np.arange(len(f))
        # the latest observation at or before each row, if in its own run
        seen = np.maximum.accumulate(np.where(raw != _NULL_CENTS, idx, -1))
        own = seen >= idx - r
        eff = np.where(own, raw[np.maximum(seen, 0)], last[kf])
        last[kf[end]] = eff[end]
        null = eff == _NULL_CENTS
        cols = {
            "cents": pd.arrays.IntegerArray(np.where(null, 0, eff), null),
            "was_filled": (raw == _NULL_CENTS) & ~null,
        }
        return f, cols, ~fin, [last]

    def ingest(pdf):
        cents, ok = _cents(pdf, value_col, 100)
        cents[~ok] = _NULL_CENTS
        return None, [cents]

    long = T.LongType()
    family = _Family(
        out=[
            ("event_id", long),
            ("ts_us", long),
            ("cents", long),
            ("was_filled", T.BooleanType()),
        ],
        inputs=[value_col],
        ingest=ingest,
        payload=[("p_cents", long)],
        carry=[("last_cents", (), _NULL_CENTS)],
        step=step,
        kernel=("locf",),
    )
    return _keyed_recurrence(
        events, key_col, ts_col, "event_id", family, n_state_buckets, watermark
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
    n_state_buckets: int | None = None,
) -> DataFrame:
    """Streaming twin of ``relational.cusum_points``: Page's one-sided
    CUSUM drift detector — the online alerting shape ("page me when the
    metric stream drifts").  The batch closed form (cumsum - clamped
    running min) becomes TWO long counters of carry per key: ``c``, the
    running deviation sum, and ``m``, min(0, running min of c), updated
    per finalized row (``ts_us <= watermark_us``) in (ts, tiebreak)
    order.  The emitted statistic ``c - m`` is bit-equal to the batch
    operator on the finalized subset.  NULL values are filtered before
    the watermark, like the batch operator's filter.

    ``tiebreak_col`` and ``scale`` mirror ``cusum_points``' signature
    (defaults ``event_id`` / 2); ``tiebreak_col`` must be integral.
    Emits ``(key, tiebreak, ts_us, stat_cents, is_alert)``.  State, late
    rule, timeout and layouts: ``_keyed_recurrence``."""
    drift = target_cents + slack_cents

    def step(k, ts, payload, carry, wm_us):
        c0, m0 = carry
        fin = ts <= wm_us
        f = np.flatnonzero(fin)
        d, kf = payload[0][f] - drift, k[f]
        start, end, r = _segments(kf)
        run = np.cumsum(d)
        first = np.arange(len(f)) - r
        c = c0[kf] + run - (run - d)[first]
        # running min of c restarted at every key run, exact: ranks of
        # later runs are offset below every rank of earlier runs
        uniq, rank = np.unique(c, return_inverse=True)
        off = (np.cumsum(start) - 1) * len(uniq)
        m = np.minimum(m0[kf], uniq[np.minimum.accumulate(rank - off) + off])
        c0[kf[end]], m0[kf[end]] = c[end], m[end]
        stat = c - m
        cols = {"stat_cents": stat, "is_alert": stat > threshold_cents}
        return f, cols, ~fin, [c0, m0]

    long = T.LongType()
    family = _Family(
        out=[
            (tiebreak_col, long),
            ("ts_us", long),
            ("stat_cents", long),
            ("is_alert", T.BooleanType()),
        ],
        inputs=[value_col],
        ingest=lambda pdf: (None, [_cents(pdf, value_col, 10**scale)[0]]),
        payload=[("p_cents", long)],
        carry=[("c", (), 0), ("m", (), 0)],
        step=step,
        kernel=("cusum", drift, threshold_cents, 10**scale),
    )
    return _keyed_recurrence(
        events.filter(F.col(value_col).isNotNull()),
        key_col,
        ts_col,
        tiebreak_col,
        family,
        n_state_buckets,
        watermark,
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


def _staged_table_files(
    spark: SparkSession, sf_dir: str, table: str, range_col: str, n_files: int
) -> str:
    """A testdata table staged as ``n_files`` range-ordered parquet files
    in a directory — a realistic landing zone whose replay under
    ``maxFilesPerTrigger=1`` yields ``n_files`` real micro-batches (the
    single-file symlink staging gives exactly one)."""
    from shuttle_spark.catalog import load_table

    def build(d: str) -> None:
        load_table(spark, sf_dir, table).repartitionByRange(
            n_files, range_col
        ).write.mode("overwrite").parquet(d)
        # FileStreamSource picks files oldest-modtime-first, but the range
        # buckets are WRITTEN by parallel tasks whose completion order is
        # arbitrary — a later range file finishing first would replay
        # first, advance the watermark past the earlier buckets, and turn
        # their rows into droppable late data (observed: stream_ewma
        # parity flaked run to run).  Pin modtimes to part-file NAME order
        # (== sorted range order) so every replay delivers buckets in
        # range order, the in-order landing-zone contract a production
        # receiver provides by arrival.
        parts = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        base = time.time() - len(parts)
        for i, f in enumerate(parts):
            os.utime(os.path.join(d, f), (base + i, base + i))

    return staged_dir(
        spark, table_path(sf_dir, table),
        params=("landing", range_col, n_files), build=build,
    )


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


def _replay(
    stream_df: DataFrame,
    query_name: str,
    shuffle_partitions: int | None,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
) -> None:
    """Run ``stream_df`` to completion (Trigger.AvailableNow) in append
    mode, into ``foreach_batch`` or else a memory sink named
    ``query_name``, from a fresh checkpoint and with the shuffle-partition
    override scoped to this query; its progress and late-row count become
    ``observability.last_replay()``."""
    spark = stream_df.sparkSession
    overrides = {}
    if shuffle_partitions is not None:
        overrides["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    restore = S._scoped_conf(spark, overrides)
    late_before = late_rows(spark)
    try:
        w = stream_df.writeStream.outputMode("append")
        w = w.foreachBatch(foreach_batch) if foreach_batch else w.format("memory")
        q = (
            w.queryName(query_name)
            .option("checkpointLocation", scratch_dir(f"ckpt_{query_name}_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        record_replay(
            query_name, q.recentProgress, late_rows(spark) - late_before
        )
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
    _replay(events, name, shuffle_partitions, merge)
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
    _replay(docs_stream, name, shuffle_partitions, clean_batch)
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


# Bounds of the per-key replay partition count (see replay_partitions).
_REPLAY_PARTITIONS_MIN = 4
_REPLAY_PARTITIONS_MAX = 16


def replay_partitions(spark: SparkSession) -> int:
    """Bench-scale partition count for PER-KEY keyed-recurrence replays
    over a wide key space (the ~1,500 user keys at sf0.1): the local core
    count, clamped to [4, 16].  Results are partition-count-invariant
    (per-key state is key-local); only scheduling changes.  Production
    sizes stateful partitions by state volume, not by this bench dial
    (see run_available_now).

    The dial was fitted to the ``applyInPandasWithState`` twin, whose
    Python runner costs ~1.1 ms of wall per group invocation whatever the
    fold does (sf0.1, local[4], engine worker daemon, a trivial count
    fold over 1,500 keys: 2.69 s vs 1.05 s over 10 keys), so more
    partitions spread that constant over more cores while each adds a
    state-store commit per micro-batch.  Measured at sf0.1 (interleaved
    medians, on Hadoop's stock local filesystem, where a commit cost
    ~95-145 ms per partition): stream_locf at local[32] read
    5.85/4.07/3.48/4.01 s for 4/8/16/32 partitions and at local[8]
    6.49/5.29/6.87/9.82 s, so ``min(cores, 16)`` picked the winner at
    both.

    The JVM kernel has no per-group constant, and JVM-state operators
    (stream-stream join, session windows) measured worse above 4
    partitions.  On a 4-core host the dial reads 4 either way; the one
    reading above that, ``tools/ab.py`` of the four per-key contracts at
    8 vs 4 partitions with local[8] on 4 cores (sf0.1, 6 interleaved
    rounds), favoured 4 (stream_keep_latest 0.80 -> 0.64 s,
    stream_cusum_census 1.56 -> 1.45 s), but 8 task threads on 4 cores
    is not an 8-core host, so the dial stays until one is measured."""
    cores = _local_cores(spark.sparkContext.master or "")
    if cores is None:
        cores = spark.sparkContext.defaultParallelism
    return max(_REPLAY_PARTITIONS_MIN, min(_REPLAY_PARTITIONS_MAX, cores))


def run_available_now(
    stream_df: DataFrame,
    query_name: str | None = None,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Replay a stream to completion (Trigger.AvailableNow) into a memory
    sink in append mode (watermarked operators emit final results only)
    and return the result as a batch DataFrame — the harness that lets
    tests assert stream == batch.

    The result is the sink's view.  Spark plans it as a local scan of
    the sink's rows, so collecting it as it is runs no job, while a
    projection or filter over it runs a job of
    ``spark.default.parallelism`` tasks: a caller that only reads the
    rows back shapes them inside the stream.  (Folding such work on the
    driver over a local relation instead costs more than the job once the
    output is large: ~0.3 s on the ~100k rows of stream_locf_census.)

    ``shuffle_partitions`` sizes the stateful-operator partition count for
    THIS query only (pinned into its checkpoint at first start; the session
    value is restored afterwards).  Each stateful partition commits its
    state store once per micro-batch: ~5-20 ms per partition on the engine
    filesystem (sf0.1, local[4], stream_window_agg and
    stream_keep_latest_packed).  A 100 TB stream still wants hundreds — it
    is the streaming twin of the reference's workers-per-app sizing
    (Ors2ShuffleManager.scala:372-398).  The finished query's progress
    stays readable as ``observability.last_replay()``.
    """
    name = query_name or f"q_{uuid.uuid4().hex[:8]}"
    _replay(stream_df, name, shuffle_partitions)
    return stream_df.sparkSession.table(name)


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
    land = scratch_dir("mvstream_land_")
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
    stage = scratch_dir("mvstream_stage_")
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
            empty_dir = scratch_dir(f"mvstream_empty{i}_")
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

    _replay(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land),
        f"mv_{uuid.uuid4().hex[:8]}",
        shuffle_partitions=None,
        foreach_batch=_fold,
    )
    return state["totals"]
