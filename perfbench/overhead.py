#!/usr/bin/env python3
"""Tracing overhead and count repeatability.

    python3 perfbench/overhead.py --seed 1 [--workloads ingest,registry]

For each workload: one untraced run and two traced runs of the same
seed. Prints, per end-to-end metric, traced minus untraced (the traced
run also computes every end-to-end metric, in its detail line), and
which per-layer metrics with unit ``count`` repeat exactly across the
two traced runs. Writes ``.perfbench-work/overhead.json``."""

from __future__ import annotations

import argparse
import json
import os
import sys

from spread import ROOT, run_once  # perfbench/ is this script's sys.path[0]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()

    report = {}
    for wl in args.workloads.split(","):
        plain = run_once(wl, args.seed, args.seconds, 0)
        traced = [run_once(wl, args.seed, args.seconds, 1) for _ in range(2)]
        e2e_plain = plain["detail"]["end_to_end"]
        e2e_traced = traced[0]["detail"]["end_to_end"]
        overhead = {
            k: {"untraced": v, "traced": e2e_traced[k][0],
                "traced_minus_untraced": e2e_traced[k][0] - v,
                "share": (e2e_traced[k][0] - v) / v, "unit": unit}
            for k, (v, unit) in e2e_plain.items()
        }
        m1, m2 = (t["result"]["metrics"] for t in traced)
        counts = {k: (m1[k]["value"], m2[k]["value"])
                  for k in m1 if m1[k]["unit"] == "count"}
        differ = {k: v for k, v in counts.items() if v[0] != v[1]}
        report[wl] = {"overhead": overhead, "counts_differ": differ,
                      "counts_checked": len(counts),
                      "walls_s": [plain["wall_s"]] + [t["wall_s"] for t in traced]}
        print(f"== {wl}")
        for k, o in overhead.items():
            print(f"  {k:20s} untraced {o['untraced']:12.4f} traced "
                  f"{o['traced']:12.4f}  ({o['share']:+.1%})")
        print(f"  counts repeating exactly: {len(counts) - len(differ)}/"
              f"{len(counts)}; differing: {differ}")
    out = os.path.join(ROOT, ".perfbench-work", "overhead.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
