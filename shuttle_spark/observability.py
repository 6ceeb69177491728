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
  bytes+records and spill, the same data the UI/REST API serves (works with
  the UI disabled).  `measure(fn)` snapshots stage ids, runs an action, and
  returns only the stages that action created — per-contract shuffle-byte
  accounting with no extra listener plumbing on the Python side.

`tools/plan_report.py` uses `measure` to publish a per-contract
stage/shuffle/spill table into PLANS.md ("Observed runtime metrics").
"""

from __future__ import annotations

from collections.abc import Callable
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


def stage_metrics(spark: SparkSession, min_stage_id: int = -1) -> list[StageMetrics]:
    """Per-stage metrics from Spark's AppStatusStore (listener-fed; the
    backing data of the UI/REST API, available even with the UI off)."""
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    raw = store.stageList(
        gw.jvm.java.util.ArrayList(),  # all statuses
        False,  # details
        False,  # withSummaries
        gw.new_array(gw.jvm.double, 0),
        gw.jvm.java.util.ArrayList(),
    )
    out = []
    for i in range(raw.size()):
        s = raw.apply(i)
        if s.stageId() <= min_stage_id:
            continue
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
            )
        )
    return sorted(out, key=lambda m: m.stage_id)


def measure(spark: SparkSession, action: Callable[[], object]) -> tuple[object, RunMetrics]:
    """Run ``action`` and return (its result, metrics of ONLY the stages it
    submitted) — per-query shuffle/spill accounting."""
    before = stage_metrics(spark)
    high = max((s.stage_id for s in before), default=-1)
    result = action()
    return result, RunMetrics(stage_metrics(spark, min_stage_id=high))
