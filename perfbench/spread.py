#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload registry --seeds 1-10 [--seconds 8]

Runs ``perfbench/run.py`` once per seed (one after another) and prints,
per end-to-end metric, the median and the distance between the first
and third quartiles (``statistics.quantiles(values, n=4)``) as a share
of the median, next to the metric's bound in BENCHMARK.json. Also
prints each run's wall time. Writes the raw results to
``.perfbench-work/spread-<workload>.json``."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One ``run.py`` process: its wall time, detail line and result."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(
            f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
        )
    lines = proc.stdout.strip().splitlines()
    detail = json.loads(lines[-2].split(" ", 2)[2])
    return {"seed": seed, "wall_s": wall, "detail": detail,
            "result": json.loads(lines[-1])}


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    runs = []
    for seed in seeds(args.seeds):
        run = run_once(args.workload, seed, args.seconds, args.trace)
        runs.append(run)
        vals = {k: round(v["value"], 4) for k, v in run["result"]["metrics"].items()}
        print(f"seed {seed}: {run['wall_s']:.1f} s {vals}", flush=True)

    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report = {}
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4)
        share = (q[2] - q[0]) / med if med else float("nan")
        report[name] = {"median": med, "iqr_share": share,
                        "bound": bounds.get(name)}
        print(f"{name:34s} median {med:12.4f}  iqr/median {share:6.3f}"
              f"  bound {bounds.get(name)}")
    walls = [r["wall_s"] for r in runs]
    print(f"wall per run: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    out = os.path.join(ROOT, ".perfbench-work", f"spread-{args.workload}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"runs": runs, "report": report}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
