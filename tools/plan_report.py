"""Generate PLANS.md: the physical-plan audit of every contract query.

Run: python tools/plan_report.py [sf_dir]

PLANS.md holds only what is stable between two runs of the same builders,
the plan-audit table, so a diff of it is a plan change.  Two sections move
from run to run and go to stdout: the observed runtime metrics (stages,
tasks, bytes per contract; AQE re-plans at run time) and the formatted
plans of the flagship queries (their scan paths name per-session scratch
directories and their expression ids depend on every plan built before).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shuttle_spark import get_session, plans as P
from shuttle_spark.contracts import REGISTRY

# Multi-job builders (drive several actions internally); audited by their
# component operators instead.
SKIP = {
    "minhash_recall_ok",
    "cosine_lsh_recall_ok",
    "ivf_partial_probe_recall_ok",
    "stream_window_agg",
    "stream_keep_latest",
    "stream_sessionize",
    # materialize inside build() (scoped-conf execution / write-observed
    # metrics) and return a LocalTableScan of the result — their plan
    # asserts live IN the contract (skew=true / PartitionFilters / span
    # checks) or in the audited operator (io.zorder_write)
    "skew_join_agg",
    "runtime_filter_join",
    "compact_roundtrip_checksum",
    "zorder_roundtrip_checksum",
    # round-6: both collect internally and return a LocalTableScan of
    # booleans; the pruned-scan assert (PartitionFilters on cell) lives IN
    # ivf_partitioned_probe, the numpy-replay equality IN
    # multimodal_expected_ok
    "ivf_partitioned_probe",
    "multimodal_expected_ok",
}

FLAGSHIPS = ("agg_tpch_q1", "join_3way_agg", "tpch_q3_shape", "topk_cosine")


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_session("plan-report")
    lines = [
        "# PLANS — physical-plan audit of every contract query",
        "",
        f"Generated by `tools/plan_report.py` at `{sf}`.  Budgets: no",
        "cartesian products anywhere; dims broadcast; top-k via",
        "TakeOrderedAndProject (never a global sort); aggregation splits",
        "partial/final (map-side combine); Python (Arrow) stages only in the",
        "operators designed around them (shingling, LSH, media decode).",
        "",
        "| contract | exchanges | broadcast joins | SMJ | BNLJ | cartesian |"
        " partial aggs | top-k | python stages | 1-part window |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    # single-partition windows (WindowExec with empty partition spec)
    # move ALL rows to one partition — a hidden scale-killer unless the
    # contract documents it as deliberate global-rank semantics.  The
    # allowlist is the complete set of documented instances; any OTHER
    # contract tripping the detector fails the regeneration loudly
    # (VERDICT r11 item 5).
    SINGLE_PARTITION_WINDOW_OK = {"window_ntile_pctrank"}
    undocumented: list[str] = []
    for name, c in REGISTRY.items():
        if name in SKIP:
            continue
        a = P.audit(c.build(spark, sf))
        spw = int(a["single_partition_windows"])
        if spw and name not in SINGLE_PARTITION_WINDOW_OK:
            undocumented.append(name)
        lines.append(
            f"| {name} | {a['exchanges']} | {a['broadcast_joins']} |"
            f" {a['sort_merge_joins']} | {a['nested_loop_joins']} |"
            f" {'YES' if a['cartesian'] else 'no'} | {a['partial_aggregates']} |"
            f" {'yes' if a['top_k'] else 'no'} | {a['python_stages']} |"
            f" {'YES (documented)' if spw and name in SINGLE_PARTITION_WINDOW_OK else ('YES' if spw else 'no')} |"
        )
    if undocumented:
        raise SystemExit(
            "UNDOCUMENTED single-partition window(s) in: "
            + ", ".join(undocumented)
            + " — either fix the plan or document the contract and add"
            " it to SINGLE_PARTITION_WINDOW_OK"
        )
    # Observed runtime metrics: the listener-fed per-stage accounting
    # (engine twin of the reference's worker health metrics,
    # ShuffleWorker.java:116-144) — shuffle volume is THE scale currency,
    # so every contract publishes what it actually moved.
    from shuttle_spark import observability as O

    mb = lambda b: round(b / 1048576, 2)  # noqa: E731
    printed = [
        f"## Observed runtime metrics (per contract, `{sf}`)",
        "",
        "Captured by `shuttle_spark.observability.measure` from Spark's",
        "status store: stages the contract actually ran, bytes scanned,",
        "bytes moved through the shuffle, and spill.  Shuffle volume is the",
        "quantity the reference's whole service exists to move; spill > 0",
        "flags a partition-sizing problem before it becomes an OOM at scale.",
        "",
        "| contract | stages | tasks | input MB | shuf write MB |"
        " shuf read MB | spill MB | rows out |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, c in REGISTRY.items():
        rows, m = O.measure(spark, lambda c=c: c.build(spark, sf).collect())
        printed.append(
            f"| {name} | {m.n_stages} | {sum(s.num_tasks for s in m.stages)} |"
            f" {mb(m.input_bytes)} | {mb(m.shuffle_write_bytes)} |"
            f" {mb(m.shuffle_read_bytes)} | {mb(m.spill_bytes)} |"
            f" {len(rows)} |"
        )
    printed += ["", "## Formatted plans of flagship queries", ""]
    for name in FLAGSHIPS:
        printed += [f"### {name}", "", "```"]
        printed.append(P.explain_formatted(REGISTRY[name].build(spark, sf)).strip())
        printed += ["```", ""]
    print("\n".join(printed))

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
