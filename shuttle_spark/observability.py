"""Engine observability: per-query row/byte metrics and per-stage shuffle
accounting.

Engine twin of the reference's worker health surface — ShuffleWorker
publishes throughput/latency/flow-control state to its master heartbeat
(/root/reference/src/main/java/com/oppo/shuttle/rss/server/worker/
ShuffleWorker.java:116-144) and the master load-balances on it.  In a
Spark-native engine the equivalent signals live in two places, both exposed
here:

* **`df.observe()`** (`observed`) — named row-level metrics (counts, sums,
  null rates) evaluated INSIDE the query at zero extra passes, the
  DataFrame-visible analog of the worker's per-partition byte counters.
  At 100 TB an extra `count()` is a full job; an observation is free.
* **AppStatusStore** (`stage_metrics` / `measure`) — Spark's own
  listener-fed store of per-stage input/output/shuffle-read/shuffle-write
  bytes+records, spill and executor run/CPU/GC time, the same data the
  UI/REST API serves (works with the UI disabled).  `measure(fn)`
  snapshots stage ids, runs an action, and returns only the stages that
  action created — per-contract shuffle-byte accounting with no extra
  listener plumbing on the Python side.

`tools/plan_report.py` uses `measure` to print a per-contract
stage/shuffle/spill table ("Observed runtime metrics"; it moves from run
to run, so it is kept out of PLANS.md), and `tools/ab.py` splits each
timed run of an interleaved A/B by it.

* **Streaming progress** (`last_replay`) — every AvailableNow replay
  the streaming module runs records the finished query's
  ``recentProgress``: per-micro-batch phase durations and, per stateful
  operator, state-store commit and update time and the rows the
  watermark dropped, the event-time watermark each batch ran under, and
  the strictly-late rows the keyed recurrences dropped.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def observed(
    df: DataFrame, name: str, *exprs: F.Column
) -> tuple[DataFrame, Observation]:
    """Attach named in-query metrics; default: row count + an order-free
    xxhash64 content checksum of all columns (decimal accumulator — no
    int64 wrap).  Read ``obs.get`` AFTER an action on the returned frame."""
    obs = Observation(name)
    if not exprs:
        exprs = (
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias(
                "content_hash"
            ),
        )
    return df.observe(obs, *exprs), obs


@dataclass
class StageMetrics:
    stage_id: int
    name: str
    status: str
    num_tasks: int
    input_bytes: int
    input_records: int
    output_bytes: int
    shuffle_read_bytes: int
    shuffle_read_records: int
    shuffle_write_bytes: int
    shuffle_write_records: int
    memory_spill_bytes: int
    disk_spill_bytes: int
    executor_run_ms: int  # wall time of the stage's tasks, summed
    executor_cpu_ns: int  # their executor-thread CPU time, summed
    gc_ms: int  # their JVM GC time, summed


@dataclass
class RunMetrics:
    stages: list[StageMetrics] = field(default_factory=list)

    @property
    def shuffle_write_bytes(self) -> int:
        return sum(s.shuffle_write_bytes for s in self.stages)

    @property
    def shuffle_read_bytes(self) -> int:
        return sum(s.shuffle_read_bytes for s in self.stages)

    @property
    def input_bytes(self) -> int:
        return sum(s.input_bytes for s in self.stages)

    @property
    def spill_bytes(self) -> int:
        return sum(s.memory_spill_bytes + s.disk_spill_bytes for s in self.stages)

    @property
    def n_stages(self) -> int:
        return len(self.stages)

    @property
    def executor_run_s(self) -> float:
        return sum(s.executor_run_ms for s in self.stages) / 1e3

    @property
    def executor_cpu_s(self) -> float:
        """Wall rising while this stays flat is host noise, not work."""
        return sum(s.executor_cpu_ns for s in self.stages) / 1e9

    @property
    def gc_s(self) -> float:
        return sum(s.gc_ms for s in self.stages) / 1e3


def _stage_list(spark: SparkSession):
    """The AppStatusStore's stages, newest first: its stage view is keyed
    by (stage id, attempt) and listed in reverse, and stage ids only grow."""
    sc = spark.sparkContext
    gw = sc._gateway
    return sc._jsc.sc().statusStore().stageList(
        gw.jvm.java.util.ArrayList(),  # all statuses
        False,  # details
        False,  # withSummaries
        gw.new_array(gw.jvm.double, 0),
        gw.jvm.java.util.ArrayList(),
    )


def _drain(spark: SparkSession) -> None:
    """Wait until the status store has seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_metrics(spark: SparkSession, min_stage_id: int = -1) -> list[StageMetrics]:
    """Per-stage metrics from Spark's AppStatusStore (listener-fed; the
    backing data of the UI/REST API, available even with the UI off) for
    the stages above ``min_stage_id``, oldest first.  The scan stops at the
    first stage at or below ``min_stage_id``, so it costs O(new stages),
    not O(retained stages)."""
    raw = _stage_list(spark)
    out = []
    for i in range(raw.size()):
        s = raw.apply(i)
        if s.stageId() <= min_stage_id:
            break
        out.append(
            StageMetrics(
                stage_id=s.stageId(),
                name=s.name(),
                status=str(s.status()),
                num_tasks=s.numTasks(),
                input_bytes=s.inputBytes(),
                input_records=s.inputRecords(),
                output_bytes=s.outputBytes(),
                shuffle_read_bytes=s.shuffleReadBytes(),
                shuffle_read_records=s.shuffleReadRecords(),
                shuffle_write_bytes=s.shuffleWriteBytes(),
                shuffle_write_records=s.shuffleWriteRecords(),
                memory_spill_bytes=s.memoryBytesSpilled(),
                disk_spill_bytes=s.diskBytesSpilled(),
                executor_run_ms=s.executorRunTime(),
                executor_cpu_ns=s.executorCpuTime(),
                gc_ms=s.jvmGcTime(),
            )
        )
    return out[::-1]


def measure(spark: SparkSession, action: Callable[[], object]) -> tuple[object, RunMetrics]:
    """Run ``action`` and return (its result, metrics of ONLY the stages it
    submitted) — per-query shuffle/spill accounting.  The listener bus is
    drained on both sides, so no earlier stage leaks in and none of the
    action's own stages is missed."""
    _drain(spark)
    head = _stage_list(spark)
    high = head.apply(0).stageId() if head.size() else -1
    result = action()
    _drain(spark)
    return result, RunMetrics(stage_metrics(spark, min_stage_id=high))


@dataclass(frozen=True)
class StateOperatorProgress:
    """One stateful operator in one micro-batch; times are summed over the
    operator's state-store instances (one per shuffle partition)."""

    name: str
    state_store_instances: int
    commit_ms: int
    all_updates_ms: int
    rows_dropped_by_watermark: int


@dataclass(frozen=True)
class BatchProgress:
    batch_id: int
    input_rows: int
    duration_ms: dict[str, int]  # StreamingQueryProgress.durationMs
    state_operators: tuple[StateOperatorProgress, ...]
    # the event-time watermark the batch ran under, epoch ms (None for a
    # query without one); append mode emits a window once its end is at
    # or before it
    watermark_ms: int | None


def _epoch_ms(iso: str) -> int:
    """Epoch milliseconds of a progress timestamp (``...T..:..:..sssZ``)."""
    t = dt.datetime.fromisoformat(iso.replace("Z", "+00:00"))
    return round(t.timestamp() * 1000)


@dataclass(frozen=True)
class ReplayProgress:
    """The micro-batches of one finished stream replay, in order, and the
    strictly-late rows its keyed recurrences dropped (Spark's
    ``numRowsDroppedByWatermark`` does not count them)."""

    query_name: str
    batches: tuple[BatchProgress, ...]
    rows_dropped_late: int


_last_replay: ReplayProgress | None = None


def record_replay(
    query_name: str, progress: Iterable, rows_dropped_late: int
) -> None:
    """Keep a finished query's ``recentProgress`` (pyspark
    ``StreamingQueryProgress`` objects) and its late-row count as the
    process's last replay."""
    global _last_replay
    _last_replay = ReplayProgress(
        query_name,
        tuple(
            BatchProgress(
                batch_id=p.batchId,
                input_rows=p.numInputRows,
                duration_ms=dict(p.durationMs),
                state_operators=tuple(
                    StateOperatorProgress(
                        name=op.operatorName,
                        state_store_instances=op.numStateStoreInstances,
                        commit_ms=op.commitTimeMs,
                        all_updates_ms=op.allUpdatesTimeMs,
                        rows_dropped_by_watermark=op.numRowsDroppedByWatermark,
                    )
                    for op in p.stateOperators
                ),
                watermark_ms=_epoch_ms(p.eventTime["watermark"])
                if "watermark" in p.eventTime
                else None,
            )
            for p in progress
        ),
        rows_dropped_late,
    )


def last_replay() -> ReplayProgress | None:
    """Progress of the last stream replayed in this process by
    ``streaming.run_available_now``, ``run_upsert_sink``,
    ``run_stream_decontaminate`` or ``stream_mv_maintenance`` (None
    before any)."""
    return _last_replay
