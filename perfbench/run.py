"""Layer-by-layer benchmark of the shuttle_spark engine.

    python3 perfbench/run.py --workload batch_sf1 --seed 1 --seconds 6 --trace 0

Run from the repository root.  One process, one Spark session on
``local[<cores>]``, one client in a closed loop running one contract at a
time.  A pass runs the workload's contract list once, in an order permuted
by ``--seed``, and starts with every staged-relation cache of the engine
cleared through its public ``clear_*`` function, so each pass costs what a
fresh corpus costs.

* Set-up (``setup_s``): session start, catalog load of the workload's
  tables, and one untimed warm-up pass (JIT, codegen, Python-worker boot).
* Timed passes run until ``--seconds`` have passed, and at least two;
  the pass under way finishes.  Every result is checked against its DuckDB oracle rows,
  computed once per data directory outside every timed interval.
* ``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
  untraced and traced passes and prints the per-layer metrics of the
  traced ones (``layers.py``), plus the tracing overhead on ``pass_s``.

The last stdout line is the result object (``correct``, ``attempted``,
``failed``, ``metrics``).  The line before it, and a file under
``perfbench/results/``, hold the diagnostics: host sizing, data
generation and oracle times, host-probe and trivial-job floor samples at
start and end, and every query's wall time.

Inputs are the sf0.1 fixture tables, the directory ``bench.py`` and
``tools/make_scale_data.py`` read (read only, never written), and sf1
derived from them by ``tools/make_scale_data.py --replicas 10`` into
``perfbench/.data/``, reused while that script and the fixtures are
unchanged.  Spark's scratch, local and warehouse directories live under
``perfbench/.work/<pid>/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE_TOOL = os.path.join(ROOT, "tools", "make_scale_data.py")

# Each workload: scale factor, the tables its contracts read, and the
# contracts a pass runs.  The lists are short so that one run, set-up
# included, stays near 45 s on 4 cores.
WORKLOADS = {
    "batch_sf1": {
        "sf": 1.0,
        "tables": ("customer", "orders", "lineitem", "events"),
        # agg_tpch_q1 is left out to keep a run near 45 s
        "contracts": ("tpch_q3_shape", "keep_latest", "time_window_agg",
                      "write_roundtrip_checksum"),
    },
    "text_dedup": {
        "sf": 0.1,
        "tables": ("documents",),
        # ngram_jaccard_pairs and near_dup_dedup_count share one staged
        # pair relation: the first of them in a pass builds it (~3 s), the
        # other reads it (0.1-0.5 s).  grouped_map_normalize (~0.9 s) lies
        # between every cheap wall and every dear one, so the per-query
        # median is its walls whatever the order (with quality_score_avg
        # there, the median moved with the order: spread 0.18).
        # near_dup_clusters is left out: its component map sits in a cache
        # with no public clear_*, so every timed run of it was a hit.
        "contracts": ("exact_dedup_docs", "ngram_jaccard_pairs",
                      "near_dup_dedup_count", "pandas_udf_bucket",
                      "grouped_map_normalize"),
    },
    "stream_replay": {
        "sf": 0.1,
        "tables": ("events",),
        "contracts": ("stream_window_agg", "stream_keep_latest_packed"),
    },
}


def size_host(work: str) -> dict[str, str]:
    """Engine env dials sized to this host; scratch kept inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    dirs = {k: os.path.join(work, k) for k in ("tmp", "scratch", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # a quarter of the host: the session default (48g) is sized for a
        # 128 GiB machine, and Python workers need room beside the heap
        "SPARK_GRAFT_DRIVER_MEM": f"{max(2, min(8, int(mem_gib // 4)))}g",
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_SCRATCH": dirs["scratch"],
        "TMPDIR": dirs["tmp"],
        # the spark-submit launcher JVM would write /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # Python workers import shuttle_spark whatever their cwd
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    tempfile.tempdir = None
    return env


def fingerprint(*parts: bytes) -> str:
    return hashlib.sha1(b"\0".join(parts)).hexdigest()[:12]


def fixture_sizes(src: str) -> bytes:
    return ",".join(f"{n}:{os.path.getsize(os.path.join(src, n))}"
                    for n in sorted(os.listdir(src))).encode()


def fixtures() -> str:
    """The sf0.1 fixture directory, as the scale tool names it."""
    sys.path.insert(0, os.path.dirname(SCALE_TOOL))
    try:
        from make_scale_data import SRC
    finally:
        sys.path.pop(0)
    return SRC


def data_dir(sf: float, work: str) -> tuple[str, float | None]:
    """The data directory for ``sf``: the fixtures for sf0.1, and for sf1
    the scale tool's tenfold replica of them, built outside every timed
    interval and reused while the tool and the fixtures are unchanged.
    Returns (dir, seconds spent generating or None)."""
    src = fixtures()
    if sf == 0.1:
        return src, None
    with open(SCALE_TOOL, "rb") as f:
        tool = f.read()
    base = os.path.join(HERE, ".data")
    out = os.path.join(base, f"sf{sf:g}-{fingerprint(tool, fixture_sizes(src))}")
    if os.path.isdir(out):
        return out, None
    if os.path.isdir(base):
        for d in os.listdir(base):
            if d.startswith(f"sf{sf:g}-"):
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    tmp = f"{out}.tmp{os.getpid()}"
    env = dict(os.environ, JAVA_TOOL_OPTIONS=(
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"))
    t0 = time.perf_counter()
    # cwd=work: the tool's session leaves its derby/warehouse files there
    subprocess.run([sys.executable, SCALE_TOOL, "--replicas", str(round(sf * 10)),
                    "--out", tmp], cwd=work, env=env, check=True, stdout=sys.stderr)
    os.replace(tmp, out)
    return out, time.perf_counter() - t0


def digest(rows) -> str:
    from shuttle_spark.testing import canon_rows

    h = hashlib.sha256()
    for row in canon_rows(rows):
        h.update("\x1f".join(row).encode() + b"\n")
    return h.hexdigest()


def ensure_oracles(sf_dir: str, names) -> tuple[dict[str, str], float]:
    """Oracle row digests per contract, cached in ``perfbench/.data/`` per
    data directory and keyed by the oracle SQL.  Returns (digests, seconds
    spent computing)."""
    from shuttle_spark.contracts import REGISTRY
    from shuttle_spark.testing import duckdb_views

    os.makedirs(os.path.join(HERE, ".data"), exist_ok=True)
    key = fingerprint(sf_dir.encode(), fixture_sizes(fixtures()))
    path = os.path.join(HERE, ".data", f"oracles-{key}.json")
    cached = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    t0 = time.perf_counter()
    con = None
    for n in names:
        key = hashlib.sha1(REGISTRY[n].oracle.encode()).hexdigest()
        if cached.get(n, {}).get("sql") == key:
            continue
        con = con or duckdb_views(sf_dir)
        cached[n] = {"sql": key, "digest": digest(con.sql(REGISTRY[n].oracle).fetchall())}
    secs = time.perf_counter() - t0
    if con is not None:
        con.close()
        with open(path + ".tmp", "w") as f:
            json.dump(cached, f, indent=1)
        os.replace(path + ".tmp", path)
    return {n: cached[n]["digest"] for n in names}, secs


def cache_clearers() -> tuple:
    """The engine's public staged-relation cache clears, named here so that
    only a benchmark change alters what a pass clears."""
    from shuttle_spark.cache import clear_quantile_cache
    from shuttle_spark.operators.neardup import clear_gram_cache
    from shuttle_spark.operators.pipeline import clear_text_caches
    from shuttle_spark.operators.relational import clear_bucket_counts_cache
    from shuttle_spark.operators.similarity import clear_ivf_cache
    from shuttle_spark.sources.io import clear_zvalue_cache

    return (clear_quantile_cache, clear_gram_cache, clear_text_caches,
            clear_bucket_counts_cache, clear_ivf_cache, clear_zvalue_cache)


def host_probe() -> float:
    """Fixed CPU loop (bench.py's host-speed indicator), seconds."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i
    return time.perf_counter() - t0


def trivial_floor(spark) -> float:
    """Median wall of a one-row job (bench.py's per-query floor), seconds."""
    samples = []
    for _ in range(7):
        t0 = time.perf_counter()
        spark.range(1).collect()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def run_pass(spark, sf_dir, order, oracles, clearers, tracer=None) -> dict:
    from shuttle_spark.contracts import REGISTRY

    for clear in clearers:
        clear()
    t_pass = time.perf_counter()
    queries, layers = [], {}
    for name in order:
        err = None
        if tracer:
            tracer.begin()
        e0, t0 = time.time(), time.perf_counter()
        try:
            df = REGISTRY[name].build(spark, sf_dir)
            tb = time.perf_counter()
            if tracer:
                tracer.built()
            rows = df.collect()
            t1, e1 = time.perf_counter(), time.time()
        except Exception as e:  # a failing contract counts, it does not stop the run
            t1, e1, tb = time.perf_counter(), time.time(), time.perf_counter()
            err = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        if tracer:
            for k, v in tracer.end(e0, e1, tb - t0).items():
                layers[k] = layers.get(k, 0.0) + v
        if err is None and digest(rows) != oracles[name]:
            err = "result differs from oracle"
        queries.append({"name": name, "wall_s": t1 - t0, "build_s": tb - t0, "error": err})
    pass_s = sum(q["wall_s"] for q in queries)
    return {"pass_s": pass_s, "elapsed_s": time.perf_counter() - t_pass,
            "queries": queries, "layers": layers}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "shuttle_spark")):
        print(f"perfbench: no shuttle_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    wl = WORKLOADS[args.workload]
    names = list(wl["contracts"])
    work = os.path.join(HERE, ".work", str(os.getpid()))
    try:
        return _run(args, wl, names, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass


def _run(args, wl, names, work) -> int:
    env = size_host(work)
    if not os.path.isdir(fixtures()):
        print(f"perfbench: no fixture directory {fixtures()}", file=sys.stderr)
        return 2
    sf_dir, gen_s = data_dir(wl["sf"], work)
    oracles, oracle_s = ensure_oracles(sf_dir, names)

    from shuttle_spark import get_session
    from shuttle_spark.catalog import load_table

    rng = random.Random(args.seed)
    clearers = cache_clearers()
    t0 = time.perf_counter()
    spark = get_session(
        f"perfbench-{args.workload}",
        data_dir=sf_dir,
        # -Xms pins the heap size: with a growing heap, peak RSS followed
        # G1's timing-driven expansions and spread ~30% between runs
        **{"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
           "spark.driver.extraJavaOptions":
               f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
               f" -Xms{env['SPARK_GRAFT_DRIVER_MEM']}"},
    )
    try:
        t_session = time.perf_counter()
        for t in wl["tables"]:
            load_table(spark, sf_dir, t)
        t_catalog = time.perf_counter()
        passes = [run_pass(spark, sf_dir, rng.sample(names, len(names)), oracles, clearers)]
        setup_s = time.perf_counter() - t0

        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark)
        start = {"host_probe_s": host_probe(), "floor_s": trivial_floor(spark)}
        timed: list[dict] = []
        t_loop = time.perf_counter()
        while time.perf_counter() - t_loop < args.seconds or len(timed) < 2:
            # traced and untraced passes alternate; the seed picks which goes
            # first, so across runs neither side always gets the warmer JIT
            traced = bool(tracer) and (len(timed) + args.seed) % 2 == 1
            if traced:
                tracer.attach()
            p = run_pass(spark, sf_dir, rng.sample(names, len(names)), oracles, clearers,
                         tracer if traced else None)
            if traced:
                tracer.detach()
            p["traced"] = traced
            timed.append(p)
        end = {"host_probe_s": host_probe(), "floor_s": trivial_floor(spark)}
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    finally:
        stop_spark(spark)

    untraced = [p for p in timed if not p["traced"]]
    walls = [q["wall_s"] for p in untraced for q in p["queries"]]
    executed = [q for p in passes + timed for q in p["queries"]]
    failed = [q for q in executed if q["error"]]
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(p["pass_s"] for p in untraced), "s"),
        "query_p50_s": (statistics.median(walls), "s"),
        "query_p90_s": (statistics.quantiles(walls, n=10, method="inclusive")[8], "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    if tracer:
        from layers import LAYERS, RECORD_ONLY

        traced = [p for p in timed if p["traced"]]
        layer = {k: statistics.median(p["layers"][k] for p in traced)
                 for k in traced[0]["layers"]}
        lookups = layer["cache.hits"] + layer["cache.misses"]
        layer["cache.hit_ratio"] = layer["cache.hits"] / lookups if lookups else 0.0
        layer["session.start_s"] = t_session - t0
        layer["catalog.load_s"] = t_catalog - t_session
        layer["trace.overhead_s"] = (statistics.median(p["pass_s"] for p in traced)
                                     - e2e["pass_s"][0])
        metrics = {k: {"value": layer[k], "unit": LAYERS[k][0]}
                   for k in LAYERS if k not in RECORD_ONLY}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "contracts": names, "sf_dir": sf_dir,
        "host": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                                     "SPARK_LOCAL_DIRS")},
        "data_gen_s": gen_s, "oracle_s": oracle_s,
        "session_s": t_session - t0, "catalog_s": t_catalog - t_session,
        "start": start, "end": end,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        "layers": layer if tracer else None,
        "failed_ratio": len(failed) / len(executed),
        "errors": sorted({f"{q['name']}: {q['error']}" for q in failed}),
        "warmup": passes[0],
        "passes": timed,
        "metrics": metrics,
    }
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(executed),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
