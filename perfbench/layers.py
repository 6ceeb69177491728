"""Per-layer probes for the traced benchmark run.

Every probe sits outside the engine: around the calls the benchmark makes
into a layer's public functions, and on Spark's public status surfaces.

* ``operators``: jobs and stages from the AppStatusStore.  Job and stage
  ids only grow, and the store lists newest first, so one query's work is
  the list head above the ids seen before it.
* ``functions``: the Python-worker SQL metrics of each SQL execution the
  query ran.  The store keeps them as display strings ("4.2 s",
  "41.9 KiB"), so their precision is about two digits.
* ``cache``: hits and misses counted by wrapping ``DFCache.get``.
* ``streaming``: a ``StreamingQueryListener`` collecting micro-batch
  progress.

``LAYERS`` names each per-layer metric with the end-to-end metric and the
workloads it should move; ``BENCHMARK.json`` lists those not in
``RECORD_ONLY``.  One rule picks them: a time that reads 0.0 on runs of
some workload (a layer that workload never or seldom enters) cannot be
told from a stuck clock, so it goes to the run record only.  Counts and
bytes are listed even where they are 0: a zero count is a measurement.
"""

from __future__ import annotations

import re

from pyspark.sql.streaming import StreamingQueryListener

from shuttle_spark.cache import DFCache

ALL = ("batch_sf1", "text_dedup", "stream_replay")

# name -> (unit, better, end-to-end metric it should move, workloads)
LAYERS: dict[str, tuple[str, str, str, tuple[str, ...]]] = {
    "session.start_s": ("s", "lower", "setup_s", ALL),
    "catalog.load_s": ("s", "lower", "setup_s", ALL),
    "contracts.build_s": ("s", "lower", "query_p50_s", ("stream_replay", "text_dedup")),
    "contracts.build_jobs": ("count", "lower", "query_p50_s", ("stream_replay", "text_dedup")),
    "contracts.idle_s": ("s", "lower", "query_p50_s", ALL),
    "operators.jobs": ("count", "lower", "query_p50_s", ("batch_sf1", "stream_replay")),
    "operators.stages": ("count", "lower", "query_p50_s", ("batch_sf1", "stream_replay")),
    "operators.tasks": ("count", "lower", "query_p50_s", ("batch_sf1", "stream_replay")),
    "operators.task_run_s": ("s", "lower", "pass_s", ("batch_sf1",)),
    "operators.task_cpu_s": ("s", "lower", "pass_s", ("batch_sf1",)),
    "operators.gc_s": ("s", "lower", "peak_rss_mb", ("batch_sf1",)),
    "operators.shuffle_write_bytes": ("bytes", "lower", "pass_s", ("batch_sf1",)),
    "operators.shuffle_read_bytes": ("bytes", "lower", "pass_s", ("batch_sf1",)),
    "operators.shuffle_write_s": ("s", "lower", "pass_s", ("batch_sf1",)),
    "operators.shuffle_fetch_wait_s": ("s", "lower", "pass_s", ("batch_sf1",)),
    "operators.spill_bytes": ("bytes", "lower", "pass_s", ("batch_sf1",)),
    "operators.failed_tasks": ("count", "lower", "failed_ratio", ALL),
    "functions.python_run_s": ("s", "lower", "pass_s", ("text_dedup",)),
    "functions.python_boot_s": ("s", "lower", "setup_s", ALL),
    "functions.python_bytes_sent": ("bytes", "lower", "pass_s", ("text_dedup",)),
    "functions.python_bytes_returned": ("bytes", "lower", "pass_s", ("text_dedup",)),
    "cache.hits": ("count", "higher", "pass_s", ("text_dedup",)),
    "cache.misses": ("count", "lower", "pass_s", ("text_dedup",)),
    "cache.hit_ratio": ("ratio", "higher", "pass_s", ("text_dedup",)),
    "streaming.batches": ("count", "lower", "pass_s", ("stream_replay",)),
    "streaming.trigger_s": ("s", "lower", "pass_s", ("stream_replay",)),
    "streaming.add_batch_s": ("s", "lower", "pass_s", ("stream_replay",)),
    "streaming.planning_s": ("s", "lower", "pass_s", ("stream_replay",)),
    "streaming.wal_commit_s": ("s", "lower", "pass_s", ("stream_replay",)),
    "streaming.outside_trigger_s": ("s", "lower", "query_p50_s", ("stream_replay",)),
    "streaming.state_commit_s": ("s", "lower", "pass_s", ("stream_replay",)),
    "streaming.state_update_s": ("s", "lower", "pass_s", ("stream_replay",)),
    "streaming.rows_dropped_late": ("count", "lower", "failed_ratio", ("stream_replay",)),
    "streaming.input_rows": ("count", "higher", "pass_s", ("stream_replay",)),
    "sources.write_bytes": ("bytes", "lower", "pass_s", ("batch_sf1",)),
    "trace.overhead_s": ("s", "lower", "pass_s", ALL),
}
# measured once per run, not per query
PER_RUN = ("session.start_s", "catalog.load_s", "cache.hit_ratio", "trace.overhead_s")
# Times that read 0.0 on runs of some workload (see the module doc),
# and the tracer's own overhead, which is no layer's and may be negative:
# run record, diagnostics line and compare.py only.
RECORD_ONLY = (
    "trace.overhead_s", "operators.gc_s", "operators.shuffle_fetch_wait_s",
    "functions.python_run_s", "functions.python_boot_s",
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.planning_s",
    "streaming.wal_commit_s", "streaming.outside_trigger_s",
    "streaming.state_commit_s", "streaming.state_update_s",
)

# Python-worker SQL metric display name -> per-layer metric
_PY_METRICS = {
    "time to run Python workers": "functions.python_run_s",
    "time to start Python workers": "functions.python_boot_s",
    "data sent to Python workers": "functions.python_bytes_sent",
    "data returned from Python workers": "functions.python_bytes_returned",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_TOTAL = re.compile(r"([0-9.]+) ?([A-Za-z]+)")


def parse_total(text: str) -> float:
    """The total of an SQL metric display string: the last line's leading
    "<number> <unit>", e.g. "total (min, ...)\\n4.2 s (1 ms, ...)" -> 4.2."""
    m = _TOTAL.match(text.strip().splitlines()[-1])
    return float(m.group(1)) * _UNITS.get(m.group(2), 1.0) if m else 0.0


class _Progress(StreamingQueryListener):
    def __init__(self, sink: list) -> None:
        self.sink = sink

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.sink.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Collects one query's per-layer numbers: ``begin()`` before
    ``build()``, ``built()`` after it, ``end(t0, t1, build_s)`` after the
    action, with the query's wall-clock bounds in epoch seconds."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = spark.sparkContext._gateway
        self._stage_args = (
            gw.jvm.java.util.ArrayList(), False, False,
            gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList(),
        )
        self._progress: list = []
        self._listener = _Progress(self._progress)
        self.hits = self.misses = 0
        original = DFCache.get

        def counted_get(cache, key):
            hit = original(cache, key)
            if hit is None:
                self.misses += 1
            else:
                self.hits += 1
            return hit

        DFCache.get = counted_get

    def attach(self) -> None:
        """Start receiving streaming progress (traced passes only)."""
        self.spark.streams.addListener(self._listener)

    def detach(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    def _newest_job(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _newest_stage(self) -> int:
        stages = self._store.stageList(*self._stage_args)
        return stages.apply(0).stageId() if stages.size() else -1

    def _newest_execution(self) -> int:
        n = self._sql.executionsCount()
        return self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def begin(self) -> None:
        self._drain()
        self._job0 = self._newest_job()
        self._stage0 = self._newest_stage()
        self._exec0 = self._newest_execution()
        self._build_job = self._job0  # stays if build() raises
        self._hits0, self._misses0 = self.hits, self.misses
        self._progress.clear()

    def built(self) -> None:
        self._build_job = self._newest_job()

    def end(self, t0: float, t1: float, build_s: float) -> dict[str, float]:
        self._drain()
        out = {k: 0.0 for k in LAYERS if k not in PER_RUN}
        out["contracts.build_s"] = build_s
        out["contracts.build_jobs"] = self._build_job - self._job0
        self._jobs(out, t0, t1)
        self._stages(out)
        self._functions(out)
        self._streaming(out, t1 - t0)
        out["cache.hits"] = self.hits - self._hits0
        out["cache.misses"] = self.misses - self._misses0
        return out

    def _jobs(self, out: dict, t0: float, t1: float) -> None:
        """Job count, and the query wall no job covered (idle time)."""
        jobs = self._store.jobsList(None)
        spans = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._job0:
                break
            out["operators.jobs"] += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                a = sub.get().getTime() / 1e3
                b = done.get().getTime() / 1e3 if done.isDefined() else t1
                spans.append((max(a, t0), min(b, t1)))
        covered, edge = 0.0, t0
        for a, b in sorted(spans):
            if b > edge:
                covered += b - max(a, edge)
                edge = b
        out["contracts.idle_s"] = max(0.0, (t1 - t0) - covered)

    def _stages(self, out: dict) -> None:
        stages = self._store.stageList(*self._stage_args)
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= self._stage0:
                break
            out["operators.stages"] += 1
            out["operators.tasks"] += s.numTasks()
            out["operators.failed_tasks"] += s.numFailedTasks()
            out["operators.task_run_s"] += s.executorRunTime() / 1e3
            out["operators.task_cpu_s"] += s.executorCpuTime() / 1e9
            out["operators.gc_s"] += s.jvmGcTime() / 1e3
            out["operators.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["operators.shuffle_read_bytes"] += s.shuffleReadBytes()
            out["operators.shuffle_write_s"] += s.shuffleWriteTime() / 1e9
            out["operators.shuffle_fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
            out["operators.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["sources.write_bytes"] += s.outputBytes()

    def _functions(self, out: dict) -> None:
        n = self._sql.executionsCount()
        execs = self._sql.executionsList(0, n)
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            if e.executionId() <= self._exec0:
                break
            wanted = {}
            plan_metrics = e.metrics()
            for k in range(plan_metrics.size()):
                m = plan_metrics.apply(k)
                layer = _PY_METRICS.get(m.name())
                if layer:
                    wanted[m.accumulatorId()] = layer
            if not wanted:
                continue
            values = self._sql.executionMetrics(e.executionId())
            for acc, layer in wanted.items():
                v = values.get(acc)
                if v.isDefined():
                    out[layer] += parse_total(v.get())

    def _streaming(self, out: dict, wall: float) -> None:
        trigger = 0.0
        for p in self._progress:
            d = p.durationMs
            out["streaming.batches"] += 1
            trigger += d.get("triggerExecution", 0) / 1e3
            out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            out["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
            out["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
            out["streaming.input_rows"] += p.numInputRows
            for op in p.stateOperators:
                out["streaming.state_commit_s"] += op.commitTimeMs / 1e3
                out["streaming.state_update_s"] += op.allUpdatesTimeMs / 1e3
                out["streaming.rows_dropped_late"] += op.numRowsDroppedByWatermark
        out["streaming.trigger_s"] = trigger
        if self._progress:
            out["streaming.outside_trigger_s"] = max(0.0, wall - trigger)
