"""Benchmark harness (driver contract).

Runs the engine's contract queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "contract_suite_wall", "value": <total sec>, "unit": "sec",
     "queries": {"agg_tpch_q1": sec, ...}, "sf": 0.1}

Each query runs THREE times end-to-end (build the DataFrame plan + execute
+ collect).  The reported headline (`value`, `queries`) is the BEST OF THE
TWO post-cold runs — the same best-of-N convention tools/bench_scale.py has
always used: steady-state throughput with whole-stage-codegen compiled and
the session's staged relations (gram sets, pair lists, IVF index)
materialized, the regime a long-lived engine actually operates in.  A
single warm sample carries the ±30% machine noise documented in BASELINE.md
since round 2 (untouched sub-second queries drifting 2.8x between runs),
which is indistinguishable from real regressions; min-of-2 measures the
engine, not the neighbor's page cache.  First-run times are reported
alongside (`queries_cold`, `cold_total`): they additionally pay one-time
plan compilation (~0.3-0.7 s per unique query shape) and cache
materialization.  The round-4 convention (a SINGLE warm run) is also
recorded per query (`queries_warm1`, `warm1_total`) so cross-round
suite-wall comparisons can be made like-for-like instead of conflating
the min-of-2 change with engine work.  Streaming-replay contracts re-run the full stream every
time (fresh checkpoint each run), so their warm time is a genuine replay,
not a cache hit.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from shuttle_spark import get_session
from shuttle_spark.contracts import REGISTRY

# Headline set: every oracle-backed contract (completeness is the point);
# rows-only contracts are included too — they are real operators.
SKIP: set[str] = set()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    # Round 9 (VERDICT r8 item 1): the small-input dials (8 reduce
    # partitions, AQE off at MB-scale SF) moved INTO the engine —
    # session.profile_for_corpus sizes the session to the corpus it will
    # read, so the config this benchmark measures IS the config
    # get_session(data_dir=...) ships.  No bench-local conf here;
    # SPARK_GRAFT_SHUFFLE_PARTITIONS / SPARK_GRAFT_AQE env dials are
    # honored by get_session itself.
    spark = get_session("shuttle-bench", data_dir=sf_dir)

    # Warm-up: JVM, parquet footer caches, Arrow lanes.
    REGISTRY["agg_tpch_q1"].build(spark, sf_dir).collect()
    # Streaming-machinery warm-up (round 13, declared in
    # OPTIMIZATION_r13.md): the first streaming replay of a session pays a
    # one-time micro-batch-engine + state-store + Python-state-runner
    # class-load/JIT cost that has nothing to do with the query it lands
    # on.  The first streaming contract sits at registry position 6, so
    # that cost (measured 6-15 s, amplified when the session starts in a
    # slow host window) landed inside stream_ewma_packed_anomalies' timed
    # runs — three independent 32-core suite runs read it at 10.6-11.0 s
    # vs 2.7-3.2 s isolated (git show d5ab06c:tools/stream_scaling_probe.py), which is also
    # what produced the r12 scaling block's spurious <1 low/high-core
    # ratios on streaming rows.  One throwaway stateful replay here moves
    # the machinery cost into the (unmeasured) warm-up, exactly like the
    # agg_tpch_q1 batch warm-up above; every streaming contract still
    # re-runs its full replay from the parquet inputs on every timed run
    # (fresh checkpoint each time — nothing is cached across runs).
    REGISTRY["stream_keep_latest_packed"].build(spark, sf_dir).collect()

    # Measured per-query floor: the wall cost of a trivial job (plan +
    # schedule + collect of one row) on this warm session.  Every contract
    # pays roughly this much regardless of data volume; it amortizes away
    # at real scale, so the marginal-cost view of any ratio below is
    # (spark_sec - floor_sec) / duckdb_sec.
    floor_samples = []
    for _ in range(7):
        t0 = time.perf_counter()
        spark.range(1).collect()
        floor_samples.append(time.perf_counter() - t0)
    floor_sec = round(sorted(floor_samples)[len(floor_samples) // 2], 4)

    def _host_probe() -> float:
        """Fixed CPU loop — pure host-speed indicator (seconds).  This
        guest shares a hypervisor whose neighbor load is invisible to
        loadavg; the probe (quiet host ~0.16-0.24 s, hot neighbor 0.3+)
        makes a slow-host suite wall identifiable from the artifact
        alone, the same discipline as tools/bench_ratio.py."""
        t0 = time.perf_counter()
        acc = 0
        for i in range(3_000_000):
            acc += i * i
        return round(time.perf_counter() - t0, 4)

    probe_start = _host_probe()

    cold: dict[str, float] = {}
    warm1: dict[str, float] = {}
    timings: dict[str, float] = {}
    for name, c in REGISTRY.items():
        if name in SKIP:
            continue
        t0 = time.perf_counter()
        c.build(spark, sf_dir).collect()
        cold[name] = round(time.perf_counter() - t0, 4)
        warm = []
        for _ in range(2):
            t0 = time.perf_counter()
            c.build(spark, sf_dir).collect()
            warm.append(time.perf_counter() - t0)
        timings[name] = round(min(warm), 4)
        warm1[name] = round(warm[0], 4)

    total = round(sum(timings.values()), 4)
    families: dict[str, float] = {}
    for name, secs in timings.items():
        fam = (REGISTRY[name].tags or ("other",))[0]
        families[fam] = round(families.get(fam, 0.0) + secs, 2)

    full = {
        "metric": "contract_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "families": families,
        "sf": sf,
        "n_queries": len(timings),
        "floor_sec": floor_sec,
        "host_probe_start_sec": probe_start,
        "host_probe_end_sec": _host_probe(),
        # non-default paths whose wall must not be read as the engine's
        # story for that family (e.g. json_extract_agg_compat's raw-Jackson
        # compat twin next to the staged-VARIANT default)
        "labels": {
            name: "compat"
            for name in timings
            if "compat" in (REGISTRY[name].tags or ())
        },
        "timing": "warm (best of runs 2-3, bench_scale convention);"
        " first-run times in queries_cold; single-warm-run (round-4"
        " convention, for like-for-like cross-round comparison) in"
        " queries_warm1",
        "cold_total": round(sum(cold.values()), 4),
        "queries_cold": cold,
        "warm1_total": round(sum(warm1.values()), 4),
        "queries_warm1": warm1,
    }
    # Full per-query record -> file (the driver's stdout capture keeps only a
    # tail, which truncated round 1's single long line into unparseable JSON).
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_FULL.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(full))
    # LAST line is compact (summary + slowest 15) so a tail capture always
    # ends with one short, complete, spec-shaped JSON line.
    slowest = dict(
        sorted(((k, round(v, 2)) for k, v in timings.items()),
               key=lambda kv: -kv[1])[:15]
    )
    print(
        json.dumps(
            {
                "metric": "contract_suite_wall",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "sf": sf,
                "n_queries": len(timings),
                "floor_sec": floor_sec,
                "host_probe_start_sec": full["host_probe_start_sec"],
                "host_probe_end_sec": full["host_probe_end_sec"],
                "cold_total": round(sum(cold.values()), 4),
                "families": families,
                "full": "BENCH_FULL.json",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
