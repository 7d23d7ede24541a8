"""Per-layer metrics of a traced run, from three outside views of the
engine: the benchmark's own spans around its calls into the package,
the streaming query's progress reports, and Spark's event log.

``universal`` metrics exist on every workload (an operation is a
trigger for ingest and a query execution for the registry); the
ingest- and registry-only breakdowns go into the run's detail report."""

from __future__ import annotations

import datetime as dt
import os

from perfbench.stats import median, percentile_or_none
from perfbench.ingest import BATCH_ID, FRESH_WARMUP_S, QUERY_ID, batch_key
from perfbench.trace import Job, Span, Tracer, jobs_by, self_time

MB = float(1 << 20)
MODULES = (
    "operators.aggregates", "operators.joins", "operators.windows",
    "llm.dedup", "llm.similarity", "llm.text", "llm.sampling",
    "llm.multimodal", "streaming.batch_windows",
)


def _epoch(iso: str) -> float:
    return dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def universal(ops: list[tuple[float, float, list[Job]]], cores: int) -> dict:
    """Engine-side totals per operation; ``ops`` holds each operation's
    (start, end) in epoch seconds with the Spark jobs it submitted."""
    n = len(ops)
    jobs = [j for _, _, js in ops for j in js]
    wall = sum(e - s for s, e, _ in ops)
    cpu = sum(j.cpu_ms for j in jobs)
    # driver self time: the part of an operation no Spark job covers
    # (planning, Python-side work, commits)
    driver_ms = [
        1000.0 * self_time(e - s, s, [
            Span("job", "spark", j.submitted, j.completed) for j in js
        ])
        for s, e, js in ops
    ]
    return {
        "spark.jobs_per_op": len(jobs) / n,
        "spark.stages_per_op": sum(j.stages for j in jobs) / n,
        "spark.tasks_per_op": sum(j.tasks for j in jobs) / n,
        "spark.cpu_ms_per_op": cpu / n,
        "spark.cpu_util": cpu / 1000.0 / (wall * cores),
        "spark.shuffle_write_mb_per_op":
            sum(j.shuffle_write_bytes for j in jobs) / MB / n,
        "spark.spill_mb": sum(j.spill_bytes for j in jobs) / MB,
        "driver.self_ms.p50": median(driver_ms),
    }


def _triggers(run, progress: list[dict], jobs: dict[str, list[Job]]) -> list[dict]:
    """One row per trigger that read data: the progress report's phase
    walls, the sink spans and Spark jobs of that trigger, and the
    messages it delivered."""
    tracer = run.tracer
    off = tracer.epoch_offset
    valid_spans = {s.key: s for s in tracer.named("sinks.valid_write")}
    dlq_spans = {s.key: s for s in tracer.named("sinks.dlq_write")}
    call_files = {
        c.batch: files
        for c, files in zip(run.valid.calls, run.result["check"]["call_files"])
    }
    rows = []
    for p in progress:
        if not p["numInputRows"]:
            continue
        key = batch_key(p["id"], p["batchId"])
        d = p["durationMs"]
        start = _epoch(p["timestamp"])
        pre = sum(d.get(k, 0) for k in ("latestOffset", "walCommit", "getBatch", "queryPlanning"))
        sinks = [s for s in (valid_spans.get(key), dlq_spans.get(key)) if s]
        sink_epoch = [(s.start + off, s.end + off) for s in sinks]
        b_jobs = jobs.get(key, [])
        body_jobs = [
            j for j in b_jobs
            if not any(a <= j.submitted <= b for a, b in sink_epoch)
        ]
        rows.append({
            "key": key,
            "batch": p["batchId"],
            "start": start,
            "end": start + d["triggerExecution"] / 1000.0,
            "jobs_list": b_jobs,
            "trigger_ms": d["triggerExecution"],
            "body_ms": d["addBatch"],
            "shell_ms": d["triggerExecution"] - d["addBatch"],
            "offset_ms": d.get("latestOffset", 0) + d.get("getBatch", 0),
            # the foreachBatch body minus its (overlapping) sink calls:
            # fan-out, validator count job, planning
            "pipeline_self_ms": 1000.0 * self_time(
                d["addBatch"] / 1000.0, start + pre / 1000.0 - off, sinks
            ),
            "valid_write_ms": valid_spans[key].duration * 1000.0 if key in valid_spans else None,
            "dlq_write_ms": dlq_spans[key].duration * 1000.0 if key in dlq_spans else None,
            "body_cpu_ms": sum(j.cpu_ms for j in body_jobs),
            "jobs": len(b_jobs),
            "tasks": sum(j.tasks for j in b_jobs),
            "files": _files_written(run, key),
            "messages": sum(run.corp.size(f) for f in call_files.get(key, ())),
            "rows_read": p["numInputRows"],
        })
    return rows


def _col(rows, k):
    return [r[k] for r in rows if r[k] is not None]


def ingest_layers(run, jobs: list[Job], tracer: Tracer, cores: int) -> tuple[dict, dict]:
    """(universal metrics, ingest detail). Catch-up numbers come from
    its steady triggers (all but the cold one), fresh numbers from the
    triggers that started after the fresh warm-up."""
    by_batch = jobs_by(
        jobs, lambda p: batch_key(p[QUERY_ID], p[BATCH_ID]) if BATCH_ID in p else ""
    )
    catchup = [r for r in _triggers(run, run.progress_catchup, by_batch) if r["batch"] >= 1]
    measured_from = run.generator.due(0) + FRESH_WARMUP_S + tracer.epoch_offset
    fresh_all = _triggers(run, run.progress_fresh, by_batch)
    fresh = [r for r in fresh_all if r["start"] >= measured_from]
    # per-op engine totals over the catch-up triggers: each reads the
    # same 4 files, so the counts repeat exactly from run to run (a
    # fresh trigger's task count depends on how many files it caught)
    uni = universal([(r["start"], r["end"], r["jobs_list"]) for r in catchup], cores)
    check = run.result["check"]
    detail = {
        "catchup.triggers": len(catchup),
        "catchup.trigger_ms.p50": median(_col(catchup, "trigger_ms")),
        "catchup.pipeline_self_ms.p50": median(_col(catchup, "pipeline_self_ms")),
        "catchup.valid_write_ms.p50": median(_col(catchup, "valid_write_ms")),
        "sources.rows_read_ratio":
            sum(_col(catchup, "rows_read")) / sum(_col(catchup, "messages")),
        "pipeline.cpu_ms_per_krow":
            sum(_col(catchup, "body_cpu_ms")) / (sum(_col(catchup, "messages")) / 1000.0),
        "fresh.triggers": len(fresh),
        "sources.offset_ms.p50": median(_col(fresh, "offset_ms")),
        "streaming.trigger_ms.p50": median(_col(fresh, "trigger_ms")),
        "streaming.body_ms.p50": median(_col(fresh, "body_ms")),
        "streaming.shell_ms.p50": median(_col(fresh, "shell_ms")),
        "streaming.jobs_per_trigger": sorted(set(_col(fresh, "jobs"))),
        "streaming.tasks_per_trigger": sorted(set(_col(fresh, "tasks"))),
        "pipeline.self_ms.p50": median(_col(fresh, "pipeline_self_ms")),
        "pipeline.valid_rows": check["valid_rows"],
        "pipeline.dlq_rows": check["dlq_rows"],
        "pipeline.dropped_rows": check["dropped_rows"],
        "sinks.valid_write_ms.p50": median(_col(fresh, "valid_write_ms")),
        "sinks.dlq_write_ms.p50": median(_col(fresh, "dlq_write_ms")),
        "sinks.files_per_trigger": sorted(set(_col(fresh, "files"))),
        "schema.fetches": run.provider.fetches,
    }
    detail.update(_fresh_detail(run, fresh_all, fresh))
    return uni, detail


def _files_written(run, key: str) -> int:
    """Parquet files the valid and DLQ sinks wrote in one trigger."""
    return sum(
        sum(1 for f in os.listdir(c.path) if f.endswith(".parquet"))
        for c in run.valid.calls + run.dlq.calls
        if c.batch == key
    )


def _fresh_detail(run, fresh_all: list[dict], fresh: list[dict]) -> dict:
    """Queue wait, backlog and generator health of the fresh phase
    (``fresh``: the triggers that started after its warm-up)."""
    gen = run.generator
    off = run.tracer.epoch_offset
    trig_ms = {r["key"]: r["trigger_ms"] for r in fresh_all}
    serving = {}
    for c, files in zip(run.valid.calls, run.result["check"]["call_files"]):
        for f in files:
            serving.setdefault(f, c.batch)
    due = run.due
    waits = [
        (run.file_done[f] - due[f]) * 1000.0 - trig_ms[serving[f]]
        for f in run.measured_files if f in run.file_done
    ]
    # files dropped but not yet written, at each measured trigger's start
    drops = sorted(gen.dropped_at)
    done = sorted(run.file_done.values())
    backlog = [
        sum(1 for x in drops if x <= r["start"] - off)
        - sum(1 for x in done if x <= r["start"] - off)
        for r in fresh
    ]
    q = max(len(backlog) // 4, 1)
    lat = run.result["latency_ms"]
    return {
        "ingest.freshness_ms.p50": median(lat),
        "ingest.freshness_ms.p90": percentile_or_none(lat, 90),
        "ingest.freshness_ms.n": len(lat),
        "sources.queue_wait_ms.p50": median(waits),
        "sources.backlog_files.max": max(backlog),
        "sources.backlog_files.max_first_quarter": max(backlog[:q]),
        "sources.backlog_files.max_last_quarter": max(backlog[-q:]),
        "generator.lag_ms.max": max(run.result["generator_lag_ms"]),
    }


def registry_layers(run, jobs: list[Job], tracer: Tracer, cores: int) -> tuple[dict, dict]:
    """(universal metrics, per-module and per-query detail)."""
    off = tracer.epoch_offset
    res = run.result
    groups = jobs_by(jobs, lambda p: p.get("spark.jobGroup.id"))
    spans = [s for s in tracer.spans if "pass" in s.attrs]
    warm = [s for s in spans if s.attrs["pass"] >= 1]
    ops = [
        (s.start + off, s.end + off, groups.get(f"{s.key}#{s.attrs['pass']}", []))
        for s in warm
    ]
    uni = universal(ops, cores)
    detail: dict = {}
    for mod in MODULES:
        qs = [q for q in res["warm_by_query"] if run.module[q] == mod]
        execs = [o for o, s in zip(ops, warm) if s.key in qs]
        first = [groups.get(f"{q}#1", []) for q in qs]
        first_jobs = [j for js in first for j in js]
        wall = sum(e - s for s, e, _ in execs)
        cpu = sum(j.cpu_ms for _, _, js in execs for j in js)
        detail.update({
            f"{mod}.warm_s": sum(res["warm_by_query"][q] for q in qs),
            f"{mod}.cold_excess_s": sum(
                res["cold_by_query"][q] - res["warm_by_query"][q] for q in qs
            ),
            f"{mod}.jobs": len(first_jobs),
            f"{mod}.tasks": sum(j.tasks for j in first_jobs),
            f"{mod}.shuffle_write_mb":
                sum(j.shuffle_write_bytes for j in first_jobs) / MB,
            f"{mod}.spill_mb": sum(j.spill_bytes for j in first_jobs) / MB,
            f"{mod}.cpu_util": cpu / 1000.0 / (wall * cores) if wall else 0.0,
        })
    for q, w in res["warm_by_query"].items():
        detail[f"query.{q}.warm_s"] = w
    return uni, detail
