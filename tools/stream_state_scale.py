"""Packed-state streaming families on a KEY-COUNT curve (VERDICT r11
item 4).

The packed-state transform's whole claim is about key-count scaling:
``applyInPandasWithState`` costs ~1.1 ms of wall per GROUP invocation
(Arrow slicing + state round-trip, independent of the fold body; see
``streaming.core._keyed_recurrence``), so the per-key layout pays keys x
batches x that constant while the packed layout (``n_state_buckets``)
pays it once per BUCKET per batch.  The r11 evidence was two spot
walls; this study is the measured curve — each family's per-key and
packed forms replayed at 2-3 key-count points (the key space inflated
the same way the parity fuzzers do, so winners/histories reshuffle but
the data volume is constant), walls recorded into BENCH_SCALE.json as
``no-oracle`` rows like the bpe/kcore studies (the oracle never pays a
replay path, so a ratio row would measure DuckDB's absence, not the
engine).

Expected shape: per-key wall grows ~linearly with key count (the group
constant dominates); packed wall stays ~flat (bucket count is fixed at
32, per-bucket work is vectorized or a microseconds/row walk).  The
crossover is immediate — packed wins from the first point — and the GAP
is the per-key group constant priced at that key count.

Families: keep-latest (vectorized per-bucket argmax), EWMA (per-row FIR
walk, packing removes the round-trip), CUSUM (two-counter recurrence —
r12's fourth family).  LOCF's twin study ran in r9 (SCALING.md).

Run:  PYTHONPATH=/root/repo python tools/stream_state_scale.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# key-space multipliers: user_id -> user_id * m + event_id % m (the
# fuzzer's inflation — m x the distinct-key count, same row volume)
KEY_MULTS = [1, 8, 32]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pyspark.sql import functions as F

    from shuttle_spark import get_session
    from shuttle_spark.streaming import events_stream, run_available_now
    from shuttle_spark.streaming.core import (
        stream_cusum,
        stream_ewma_deviants,
        stream_keep_latest,
    )

    spark = get_session("stream-state-scale")

    def inflate_uid(s, m):
        if m > 1:
            s = s.withColumn(
                "user_id",
                F.col("user_id") * m + F.col("event_id") % m,
            )
        return s

    def inflate_type(s, m):
        if m > 1:
            s = s.withColumn(
                "event_type",
                F.concat_ws(
                    "_", F.col("event_type"), F.col("user_id") % m
                ),
            )
        return s

    FAMILIES = {
        # name -> (per_key_op, packed_op, key inflater, distinct-key col)
        "stream_keep_latest": (
            stream_keep_latest,
            lambda s: stream_keep_latest(s, n_state_buckets=32),
            inflate_uid,
            "user_id",
        ),
        "stream_ewma": (
            stream_ewma_deviants,
            lambda s: stream_ewma_deviants(s, n_state_buckets=32),
            inflate_uid,
            "user_id",
        ),
        "stream_cusum": (
            stream_cusum,
            lambda s: stream_cusum(s, n_state_buckets=32),
            inflate_type,
            "event_type",
        ),
    }

    path = os.path.join(REPO, "BENCH_SCALE.json")
    out: dict = {"points": {}, "queries": {}}
    if os.path.exists(path):
        with open(path) as f:
            out = json.load(f)
    out.setdefault("points", {})
    out.setdefault("queries", {})

    # one warm replay to absorb first-use codegen/Arrow setup so the
    # m=1 point isn't charged the session warmup
    run_available_now(
        stream_keep_latest(events_stream(spark, sf_dir)),
        "sss_warm",
        shuffle_partitions=4,
    ).count()

    for fam, (per_key, packed, inflate, key_col) in FAMILIES.items():
        row = out["queries"].setdefault(f"{fam}_packed_curve", {})
        row["label"] = "no-oracle"
        row["note"] = (
            "key-count replay-wall study (per-key vs packed state,"
            " 32 buckets): same rows, key space inflated m x like the"
            " parity fuzzers; walls are full AvailableNow replays at"
            f" {os.path.basename(sf_dir)}.  The per-key wall prices the"
            " ~1.1 ms/group applyInPandasWithState constant at that key"
            " count; the packed wall pays it per bucket per batch."
        )
        for m in KEY_MULTS:
            src = lambda: inflate(events_stream(spark, sf_dir), m)  # noqa: E731
            # distinct-key count from the BATCH twin of the same
            # inflation (a streaming relation can't run a batch count)
            from shuttle_spark.catalog import load_table

            n_keys = (
                inflate(load_table(spark, sf_dir, "events"), m)
                .select(key_col)
                .distinct()
                .count()
            )
            t0 = time.time()
            n_plain = run_available_now(
                per_key(src()), f"sss_{fam}_{m}_a", shuffle_partitions=4
            ).count()
            t_plain = time.time() - t0
            t0 = time.time()
            n_packed = run_available_now(
                packed(src()), f"sss_{fam}_{m}_b", shuffle_partitions=4
            ).count()
            t_packed = time.time() - t0
            if n_plain != n_packed:
                raise SystemExit(
                    f"{fam} m={m}: per-key {n_plain} rows !="
                    f" packed {n_packed} — parity broke under inflation"
                )
            row[f"keys_{n_keys}"] = {
                "per_key_sec": round(t_plain, 2),
                "packed_sec": round(t_packed, 2),
                "speedup": round(t_plain / t_packed, 2),
                "rows": n_plain,
            }
            print(
                f"{fam:20s} m={m:3d} keys={n_keys:7d} "
                f"per_key={t_plain:6.1f}s packed={t_packed:6.1f}s "
                f"speedup={t_plain / t_packed:5.2f}x rows={n_plain}",
                flush=True,
            )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
