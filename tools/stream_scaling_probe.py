"""Round-13: root-cause probe for the streaming family's 32-core
anti-scaling (VERDICT r12 item 3 — stream_ewma_packed_anomalies ratio 0.34,
stream_keep_latest 0.64, stream_stream_join 0.77 between local[8] and
local[32] in the driver's scaling block).

Runs ONE streaming contract cold + N warm times on a bench-profiled
session at the ambient $SPARK_GRAFT_CPUS and prints, per warm run, the
wall time plus each micro-batch's durationMs breakdown (captured via a
StreamingQueryListener), so the extra wall at high core counts can be
attributed to a phase (addBatch / walCommit / queryPlanning / ...) or to
the non-streaming parts of the contract (collect, source staging).

Usage:
    SPARK_GRAFT_CPUS=32 PYTHONPATH=/root/repo \
        python tools/stream_scaling_probe.py stream_ewma_packed_anomalies 4
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import StreamingQueryListener

from shuttle_spark import get_session
from shuttle_spark.contracts import REGISTRY


class _Capture(StreamingQueryListener):
    def __init__(self) -> None:
        self.progresses: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        try:
            self.progresses.append(json.loads(event.progress.json))
        except Exception:
            pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def main() -> None:
    name = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if name not in REGISTRY:
        raise SystemExit(f"unknown contract: {name}")
    spark = get_session("stream-probe", data_dir=sf)
    cap = _Capture()
    spark.streams.addListener(cap)
    REGISTRY["agg_tpch_q1"].build(spark, sf).collect()  # bench warm-up
    c = REGISTRY[name]

    t0 = time.perf_counter()
    c.build(spark, sf).collect()
    cold = time.perf_counter() - t0
    print(json.dumps({"cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
                      "name": name, "cold": round(cold, 3)}))

    keys = ("addBatch", "triggerExecution", "queryPlanning", "walCommit",
            "commitOffsets", "getBatch", "latestOffset")
    for i in range(runs):
        cap.progresses.clear()
        t0 = time.perf_counter()
        c.build(spark, sf).collect()
        wall = time.perf_counter() - t0
        batches = []
        for p in cap.progresses:
            d = p.get("durationMs", {})
            b = {k: d.get(k) for k in keys if k in d}
            b["rows"] = p.get("numInputRows")
            batches.append(b)
        stream_ms = sum(b.get("triggerExecution") or 0 for b in batches)
        print(json.dumps({"run": i, "wall": round(wall, 3),
                          "stream_ms_total": stream_ms,
                          "n_batches": len(batches), "batches": batches}))
    spark.stop()


if __name__ == "__main__":
    main()
