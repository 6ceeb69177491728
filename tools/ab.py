"""Interleaved A/B runs of contract variants, each run split by layer.

Usage:
    python tools/ab.py VARIANT [VARIANT ...] [--sf DIR] [--rounds N]

A VARIANT is a ``REGISTRY`` contract name, or ``module:function`` or
``path/to/file.py:function`` naming a function with the ``Contract.build``
signature ``(spark, sf_dir) -> DataFrame``; the file form lets an
experiment's variants live outside the tree.  ``--sf`` defaults to
``$SPARK_GRAFT_SF_DIR``, then the bench corpus (``catalog.DEFAULT_SF_DIR``).
Cores come from ``$SPARK_GRAFT_CPUS``, as for every engine session; a
session-level dial (cores, conf, env) needs its own session, so sweep it by
running the command once per value.

Protocol: one session (``main`` called in-process uses the active session
unchanged and never stops it); every run, warm-up included, starts with
every session cache cleared (``cache.clear_all``, outside the timed
interval), so a run pays for the staged relations it reads instead of
timing a hit left by the run before; one untimed warm-up run per variant,
whose canonical rows (``testing.canon_rows``) must be identical across
variants or the tool exits non-zero before timing anything; then N rounds,
in variant order on even rounds and reversed on odd ones, so no variant
always runs first.  Each timed run (``build`` + ``collect``) is wrapped in
``observability.measure``; a run that replayed a stream also reports its
``observability.last_replay()``.

Output: one JSON line per run, then one summary line with, per variant, the
median wall and its quartiles, the median of every layer field and
``wins_vs_first`` (rounds in which it beat variant 0; ties count for
neither), from which the 9-of-10 rule for a speed claim reads directly.

Run fields: ``wall_s``; ``jobs`` (jobs in the run's job group, named
afresh by every ``main`` call — a stream's micro-batch jobs run in the
query's own group); ``stages``, ``tasks``, ``executor_run_s``,
``executor_cpu_s``, ``gc_s``, ``shuffle_read_bytes``,
``shuffle_write_bytes``, ``spill_bytes``; for a stream replay also
``batches``, ``<phase>_ms`` (``durationMs`` summed over micro-batches) and
``state_commit_ms`` / ``state_update_ms`` (summed over batches and stateful
operators) and ``rows_dropped_late`` (strictly-late rows the keyed
recurrences dropped).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import runpy
import statistics
import sys
import time
import uuid
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from shuttle_spark import get_session  # noqa: E402
from shuttle_spark import observability as O  # noqa: E402
from shuttle_spark.cache import clear_all  # noqa: E402
from shuttle_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from shuttle_spark.contracts import REGISTRY  # noqa: E402
from shuttle_spark.testing import canon_rows  # noqa: E402


def resolve(variant: str) -> Callable:
    """The build function a VARIANT names."""
    if variant in REGISTRY:
        return REGISTRY[variant].build
    where, sep, fn = variant.rpartition(":")
    if not sep:
        raise SystemExit(f"ab.py: unknown contract {variant!r}")
    try:
        if where.endswith(".py"):
            return runpy.run_path(where)[fn]
        return getattr(importlib.import_module(where), fn)
    except (ImportError, OSError, KeyError, AttributeError) as e:
        raise SystemExit(f"ab.py: cannot load variant {variant!r}: {e}") from e


def timed_run(spark: SparkSession, build: Callable, sf: str, group: str) -> dict:
    """One timed ``build`` + ``collect`` from cleared session caches, and
    its layer fields."""
    sc = spark.sparkContext
    replay_before = O.last_replay()

    def action() -> float:
        t0 = time.perf_counter()
        build(spark, sf).collect()
        return time.perf_counter() - t0

    clear_all()
    sc.setJobGroup(group, "ab.py timed run")
    try:
        wall, m = O.measure(spark, action)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    rec = {
        "wall_s": round(wall, 4),
        "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        "stages": m.n_stages,
        "tasks": sum(s.num_tasks for s in m.stages),
        "executor_run_s": round(m.executor_run_s, 4),
        "executor_cpu_s": round(m.executor_cpu_s, 4),
        "gc_s": round(m.gc_s, 4),
        "shuffle_read_bytes": m.shuffle_read_bytes,
        "shuffle_write_bytes": m.shuffle_write_bytes,
        "spill_bytes": m.spill_bytes,
    }
    replay = O.last_replay()
    if replay is not replay_before:  # this run replayed a stream
        rec["batches"] = len(replay.batches)
        for b in replay.batches:
            for phase, ms in b.duration_ms.items():
                rec[f"{phase}_ms"] = rec.get(f"{phase}_ms", 0) + ms
        ops = [op for b in replay.batches for op in b.state_operators]
        rec["state_commit_ms"] = sum(op.commit_ms for op in ops)
        rec["state_update_ms"] = sum(op.all_updates_ms for op in ops)
        rec["rows_dropped_late"] = replay.rows_dropped_late
    return rec


def summarize(variants: list[str], runs: list[dict]) -> dict:
    """Per variant: wall median and quartiles, the median of every layer
    field, and the rounds in which it beat variant 0."""
    wall = {(r["round"], r["variant"]): r["wall_s"] for r in runs}
    out = []
    for i, name in enumerate(variants):
        mine = [r for r in runs if r["variant"] == i]
        q1, med, q3 = statistics.quantiles(
            [r["wall_s"] for r in mine], n=4, method="inclusive"
        )
        fields = [k for k in dict.fromkeys(k for r in mine for k in r)
                  if k not in ("round", "variant", "name")]
        out.append({
            "variant": i,
            "name": name,
            "rounds": len(mine),
            "wall_s_median": round(med, 4),
            "wall_s_q1": round(q1, 4),
            "wall_s_q3": round(q3, 4),
            "wins_vs_first": sum(r["wall_s"] < wall[r["round"], 0] for r in mine),
            "medians": {
                k: round(statistics.median(r.get(k, 0) for r in mine), 4)
                for k in fields
            },
        })
    return {"summary": out}


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("variants", nargs="+", metavar="VARIANT")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--rounds", type=int, default=10)
    args = ap.parse_args(argv)
    if args.rounds < 2:
        ap.error("--rounds must be at least 2 (the summary reports quartiles)")
    builds = [resolve(v) for v in args.variants]

    # An active session (a caller's, in-process) is used as it is:
    # get_session on it would re-apply the corpus profile to its conf.
    spark = SparkSession.getActiveSession()
    own_session = spark is None
    if own_session:
        spark = get_session("ab", data_dir=args.sf)
    try:
        expected = None
        for name, build in zip(args.variants, builds):
            clear_all()
            rows = canon_rows(build(spark, args.sf).collect())
            if expected is None:
                expected = rows
            elif rows != expected:
                raise SystemExit(
                    f"ab.py: {name} returns {len(rows)} rows that differ from"
                    f" {args.variants[0]}'s {len(expected)}; nothing was timed"
                )
        runs = []
        order = list(range(len(builds)))
        # job groups unique to this call: a group name reused by an
        # earlier call in the process would count that call's jobs too
        call = uuid.uuid4().hex[:8]
        for rnd in range(args.rounds):
            for i in order if rnd % 2 == 0 else order[::-1]:
                rec = {"round": rnd, "variant": i, "name": args.variants[i]}
                rec |= timed_run(spark, builds[i], args.sf, f"ab-{call}-{rnd}-{i}")
                runs.append(rec)
                print(json.dumps(rec), flush=True)
        summary = summarize(args.variants, runs)
        print(json.dumps(summary), flush=True)
        return summary
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    main()
