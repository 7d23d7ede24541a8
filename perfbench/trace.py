"""In-memory spans, self time, process-tree RSS sampling and a Spark
event-log reader. Everything here observes the engine from outside:
spans wrap the benchmark's own calls into the package, and the event
log is Spark's standard listener output."""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.stats import span_union


@dataclass
class Span:
    name: str
    layer: str
    start: float  # seconds, time.perf_counter clock
    end: float
    key: str = ""  # groups spans of one operation (batch id, query name)
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(parent_duration: float, parent_start: float, children) -> float:
    """Duration of a parent interval minus the part of it that its child
    spans cover. Overlapping children (the DLQ write runs beside the
    valid write) are counted once."""
    lo, hi = parent_start, parent_start + parent_duration
    clipped = [
        (max(c.start, lo), min(c.end, hi))
        for c in children
        if c.end > lo and c.start < hi
    ]
    return parent_duration - span_union(clipped)


class Tracer:
    """In-memory span recorder; always on, since a span costs two clock
    reads and an append."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        # span clock (perf_counter) -> epoch seconds, as Spark reports
        self.epoch_offset = time.time() - time.perf_counter()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, layer: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(Span(name, layer, t0, time.perf_counter()))

    def add(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def tree_rss_mb(root: int) -> float:
    """RSS of a process and all its descendants, in MiB."""
    total, todo, seen = 0, [root], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _rss_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


class RssSampler:
    """Samples the RSS of this process's tree (the driver JVM and its
    Python workers are descendants) until stopped; keeps the peak."""

    def __init__(self, interval: float = 0.25) -> None:
        self.peak_mb = 0.0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run, name="rss-sampler", daemon=True
        )

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


@dataclass
class Job:
    """One Spark job from the event log, with the work of the stages it
    ran (a stage belongs to the first job that lists it; later jobs
    that list it skip it)."""

    job_id: int
    props: dict
    submitted: float = 0.0  # epoch seconds
    completed: float = 0.0
    stages: int = 0
    tasks: int = 0
    cpu_ms: float = 0.0  # executor CPU
    run_ms: float = 0.0  # executor run time (task wall)
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(path: str) -> list[Job]:
    """Jobs of a Spark event log, in submission order."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    seen_stages: set[int] = set()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = Job(ev["Job ID"], ev.get("Properties") or {},
                          ev.get("Submission Time", 0) / 1000.0)
                jobs[job.job_id] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.completed = ev.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                job = stage_job.get(sid)
                if job is None:
                    continue
                job.tasks += 1
                if sid not in seen_stages:
                    seen_stages.add(sid)
                    job.stages += 1
                m = ev.get("Task Metrics") or {}
                job.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                job.run_ms += m.get("Executor Run Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return sorted(jobs.values(), key=lambda j: j.job_id)


def jobs_by(jobs: list[Job], key) -> dict[str, list[Job]]:
    """Group jobs by ``key(properties)``, the local properties a job was
    submitted under (for example the streaming query and batch ids of a
    trigger, or the job group of a registry query); jobs whose key is
    empty are dropped."""
    out: dict[str, list[Job]] = defaultdict(list)
    for j in jobs:
        k = key(j.props)
        if k:
            out[k].append(j)
    return dict(out)


def event_log_path(log_dir: str, app_id: str) -> str:
    """The finished event log of application ``app_id``."""
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        raise RuntimeError(f"no finished event log for {app_id} in {log_dir}")
    return path
