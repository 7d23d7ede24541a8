#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: ``ingest`` (catch-up rate and
open-loop freshness of the ingest service) and ``registry`` (cold and
warm query walls); see perfbench/README.md.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it (``perfbench detail {...}``) carries the workload's own named
metrics, sample counts and, when traced, the full layer breakdown. The
exit code is 1 when an output check fails, 2 when the engine package
is not importable. Everything the run writes goes under
``.perfbench-work/`` in the repository root."""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import engine, layers  # noqa: E402
from perfbench.stats import median, percentile_or_none  # noqa: E402
from perfbench.trace import RssSampler, Tracer, event_log_path, read_event_log  # noqa: E402

WORKLOADS = ("ingest", "registry")
END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "latency_ms.geomean": "ms",
    "latency_ms.mean": "ms",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.rss_mb.peak": "MB",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.cpu_ms_per_op": "ms",
    "spark.cpu_util": "ratio",
    "spark.shuffle_write_mb_per_op": "MB",
    "spark.spill_mb": "MB",
    "driver.self_ms.p50": "ms",
    "schema.fetches": "count",
    "pipeline.valid_rows": "count",
    "pipeline.dlq_rows": "count",
    "pipeline.dropped_rows": "count",
    **{f"{m}.{k}": "count" for m in layers.MODULES for k in ("jobs", "tasks")},
}


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end(res: dict) -> dict[str, float]:
    # the geometric mean, not the median, is the central latency: the
    # registry's samples are a mixture of eleven queries whose walls
    # leave gaps, and a median sitting in a gap jumps between runs
    lat = res["latency_ms"]
    return {
        "setup_s": res["setup_s"],
        "cold_s": res["cold_s"],
        "latency_ms.geomean": geomean(lat),
        "latency_ms.mean": sum(lat) / len(lat),
        "throughput_per_s": res["throughput_per_s"],
    }


def named(workload: str, res: dict) -> dict:
    """The workload's own end-to-end metrics: [value, unit]."""
    lat = res["latency_ms"]
    if workload == "ingest":
        return {
            "ingest.freshness_ms.p50": [median(lat), "ms"],
            "ingest.freshness_ms.p90": [percentile_or_none(lat, 90), "ms"],
            "ingest.freshness_ms.n": [len(lat), "files"],
            "ingest.delivered_per_s": [res["delivered_per_s"], "1/s"],
            "ingest.rows_per_s": [res["throughput_per_s"], "1/s"],
            "ingest.catchup_trigger_ms.p50": [median(res["catchup_trigger_ms"]), "ms"],
            "ingest.catchup_triggers": [len(res["catchup_trigger_ms"]), "triggers"],
        }
    warm = list(res["warm_by_query"].values())
    return {
        "registry.cold_s": [res["cold_s"], "s"],
        "registry.warm_s": [sum(warm), "s"],
        "registry.geomean_ms": [1000.0 * geomean(warm), "ms"],
        "registry.p50_ms": [median(lat), "ms"],
        "registry.queries": [len(warm), "queries"],
        "registry.timed_passes": [res["passes"], "passes"],
    }


def layer_metrics(workload: str, run, tracer: Tracer, rss_peak: float,
                  log_path: str) -> tuple[dict, dict]:
    """(per-layer metrics for the result line, layer detail)."""
    jobs = read_event_log(log_path)
    out = {k: 0 for k in PER_LAYER}
    if workload == "registry":
        uni, detail = layers.registry_layers(run, jobs, tracer, engine.CORES)
        for m in layers.MODULES:
            out[f"{m}.jobs"] = detail[f"{m}.jobs"]
            out[f"{m}.tasks"] = detail[f"{m}.tasks"]
    else:
        uni, detail = layers.ingest_layers(run, jobs, tracer, engine.CORES)
        for k in ("schema.fetches", "pipeline.valid_rows", "pipeline.dlq_rows",
                  "pipeline.dropped_rows"):
            out[k] = detail[k]
        detail["baseline.reference_twin_rows_per_s"] = _twin_rate(run)
    out.update(uni)
    out["session.start_s"] = run.tracer.named("session.start")[0].duration
    out["session.rss_mb.peak"] = rss_peak
    return out, detail


def _twin_rate(run) -> float:
    """The reference's single-threaded row loop on the run's first
    50 000 messages."""
    from perfbench.corpus import table_schema
    from perfbench.twin import reference_twin

    msgs: list = []
    for f in run.corp.files:
        msgs.extend(f["value"].to_pylist())
        if len(msgs) >= 50_000:
            break
    return reference_twin(msgs[:50_000], table_schema())["rows_per_s"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import kafka2clickhouse_py_streamer_spark as pkg
    except ImportError as exc:
        print(f"perfbench: engine package not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: engine package found outside {ROOT}: {pkg.__file__}",
              file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench-work")
    run_dir = engine.fresh_dir(
        os.path.join(work_root, f"run-{args.workload}-{os.getpid()}")
    )
    settings = engine.prepare_env(run_dir)
    traced = args.trace == 1
    tracer = Tracer()
    if args.workload == "registry":
        from perfbench.registry import RegistryRun

        run = RegistryRun(args.seed, args.seconds, run_dir, tracer, traced)
    else:
        from perfbench.ingest import IngestRun

        run = IngestRun(args.seed, args.seconds, run_dir, tracer, traced)

    try:
        rss = RssSampler() if traced else contextlib.nullcontext()
        with rss:
            try:
                res = run.run()
                app_id = run.spark.sparkContext.applicationId
            finally:
                engine.shutdown_active()
        detail = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "cores": engine.CORES,
            "trace": args.trace, "settings": settings,
            "end_to_end": {k: [v, END_TO_END[k]] for k, v in end_to_end(res).items()},
            "named": named(args.workload, res),
        }
        if traced:
            metrics, detail["layers"] = layer_metrics(
                args.workload, run, tracer, rss.peak_mb,
                event_log_path(os.path.join(run_dir, "eventlog"), app_id),
            )
            units = PER_LAYER
            out_dir = os.path.join(work_root, "traces",
                                   f"{args.workload}-seed{args.seed}")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, "spans.jsonl"))
            with open(os.path.join(out_dir, "detail.json"), "w") as fh:
                json.dump(detail, fh, indent=1, default=list)
        else:
            metrics, units = end_to_end(res), END_TO_END
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print("perfbench detail " + json.dumps(detail, default=list), flush=True)
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }), flush=True)
    if not res["correct"]:
        print(f"perfbench: OUTPUT CHECK FAILED on {args.workload} seed "
              f"{args.seed}: {res['failed']} failed operations", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
