"""Compare two result sets of the benchmark.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the per-run JSON files ``run.py`` writes to
``perfbench/results/``.  For every workload the command prints each
end-to-end metric's median and quartiles on both sides, from the untraced
runs.  It then ranks the per-layer metrics of the traced runs by how far
their medians moved, largest relative change first, naming the end-to-end
metric each is expected to move.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]


def load(path: str) -> dict[tuple[str, int], dict[str, list[float]]]:
    """(workload, trace) -> metric -> values, one value per run."""
    out: dict[tuple[str, int], dict[str, list[float]]] = {}
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            run = json.load(fh)
        side = out.setdefault((run["workload"], run["trace"]), {})
        values = run.get("layers") or {k: m["value"] for k, m in run["metrics"].items()}
        for name, v in values.items():
            side.setdefault(name, []).append(v)
    return out


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) == 1:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3


def rel(a: float, b: float) -> float:
    return (b - a) / abs(a) if a else (0.0 if b == a else float("inf"))


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    from layers import LAYERS

    base, new = load(argv[0]), load(argv[1])
    for wl in sorted({w for w, _t in base} | {w for w, _t in new}):
        print(f"== {wl}")
        a, b = base.get((wl, 0), {}), new.get((wl, 0), {})
        for name in sorted(set(a) & set(b)):
            qa, qb = quartiles(a[name]), quartiles(b[name])
            print(f"  {name:14s} base {qa[1]:10.4f} [{qa[0]:.4f}, {qa[2]:.4f}] n={len(a[name])}"
                  f"   new {qb[1]:10.4f} [{qb[0]:.4f}, {qb[2]:.4f}] n={len(b[name])}"
                  f"   {rel(qa[1], qb[1]):+.1%}")
        a, b = base.get((wl, 1), {}), new.get((wl, 1), {})
        moved = sorted(
            ((rel(statistics.median(a[k]), statistics.median(b[k])), k)
             for k in set(a) & set(b)),
            key=lambda t: -abs(t[0]),
        )
        if moved:
            print("  per-layer, by relative move of the median:")
        for change, k in moved:
            if change == 0:
                continue
            unit, _better, e2e, _wls = LAYERS.get(k, ("", "", "?", ()))
            print(f"    {change:+8.1%}  {k:34s} {statistics.median(a[k]):14.4f} ->"
                  f" {statistics.median(b[k]):14.4f} {unit:6s} (moves {e2e})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
