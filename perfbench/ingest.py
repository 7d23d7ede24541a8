"""The ingest workload, driven through ``PipelineJob.start`` over a
file-stream source (the file twin of the Kafka source: one parquet file
of raw messages per producer flush). One engine session, one job, two
phases:

1. Catch-up, a closed loop: ``available_now=True`` over a pre-laid
   backlog, 125 000 messages per trigger in 4 files. Per-row work
   (validator UDF, parse, casts, parquet write) is most of a trigger.
   Its first trigger is the run's cold trigger; the rest give the
   catch-up rate. The phase also warms the engine for phase 2: the
   trigger path keeps getting faster for 10-15 triggers after the JVM
   starts.
2. Fresh, an open loop: a second query over another intake, default
   back-to-back trigger capped at 25 000 messages. One generator thread
   drops a 1 000-message file every 100 ms (10 000 messages/s) on
   absolute deadlines, whatever the engine does. Per-trigger fixed cost
   (offset/WAL/commit shell, job count, sink commit) dominates. A file's
   freshness runs from its due time to the return of the valid-sink
   call that wrote its rows, so queueing behind a slow trigger counts.
   Files due in the first ``FRESH_WARMUP_S`` (the new query's first
   trigger) are not measured.

Every valid-sink and DLQ-sink call writes into its own directory, so
after the run each output row names the sink call that wrote it and,
through ``file_seq``, the file it came from."""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import corpus as C
from perfbench import engine
from perfbench.trace import Span, Tracer

TRIGGER_CAP = 25_000  # NUM_MESSAGES, the reference's poll size
CATCHUP_FILES_PER_TRIGGER = 4
CATCHUP_PER_FILE = 31_250
# messages/s used only to size the backlog to about ``--seconds``
CATCHUP_SIZING_RATE = 50_000
CATCHUP_MIN_TRIGGERS = 5
FRESH_PER_FILE = 1_000
FRESH_INTERVAL_S = 0.1
FRESH_WARMUP_S = 1.0
BATCH_ID = "streaming.sql.batchId"
QUERY_ID = "sql.streaming.queryId"


def batch_key(query_id: str, batch_id) -> str:
    """Names one trigger of one streaming query."""
    return f"{query_id}:{batch_id}"


class CountingProvider:
    """The benchmark's ``SchemaProvider``: a fixed table schema, with
    every fetch counted and traced."""

    def __init__(self, schema, tracer: Tracer) -> None:
        self._schema = schema
        self._tracer = tracer
        self.fetches = 0

    def fetch(self):
        with self._tracer.span("schema.fetch", "schema"):
            self.fetches += 1
            return self._schema


@dataclass
class SinkCall:
    seq: int
    batch: str  # batch_key of the trigger that made the call
    start: float
    end: float
    path: str


class RecordingSink:
    """A ``sinks.parquet_sink`` per call, into ``<root>/call=<n>``,
    timing each call and noting the trigger that made it (from the
    local properties Spark sets on the micro-batch thread; PipelineJob
    copies them onto its DLQ worker)."""

    def __init__(self, root: str, layer_name: str, tracer: Tracer) -> None:
        self.root = root
        self.name = layer_name
        # completed calls, in call order (a failed call is not recorded:
        # its rows then count as lost)
        self.calls: list[SinkCall] = []
        self._tracer = tracer
        self._lock = threading.Lock()
        self._next = 0

    def __call__(self, df) -> None:
        from kafka2clickhouse_py_streamer_spark.sinks import parquet_sink

        sc = df.sparkSession.sparkContext
        batch = batch_key(sc.getLocalProperty(QUERY_ID), sc.getLocalProperty(BATCH_ID))
        with self._lock:
            seq, self._next = self._next, self._next + 1
        path = os.path.join(self.root, f"call={seq:05d}")
        t0 = time.perf_counter()
        parquet_sink(path)(df)
        t1 = time.perf_counter()
        with self._lock:
            self.calls.append(SinkCall(seq, batch, t0, t1, path))
        self._tracer.add(Span(self.name, "sinks", t0, t1, batch))


def _stream(spark, intake: str, files_per_trigger: int):
    return (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(intake)
    )


def _stage_files(corp: C.Corpus, idx, directory: str, mtime_base: float) -> list[str]:
    """Write corpus files ``idx`` into ``directory``; file ``i`` gets
    modification time ``mtime_base + i`` so the file source (which
    orders by modification time) takes them in file order."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i in idx:
        p = os.path.join(directory, f"f{i:06d}.parquet")
        corp.write_file(i, p)
        os.utime(p, (mtime_base + i, mtime_base + i))
        paths.append(p)
    return paths


class Generator(threading.Thread):
    """Open-loop producer: moves staged file ``i`` into the intake at
    ``t0 + i * interval`` (absolute deadlines; a late drop does not
    shift later ones)."""

    def __init__(self, staged: list[str], intake: str, interval: float) -> None:
        super().__init__(name="perfbench-generator", daemon=True)
        self.staged = staged
        self.intake = intake
        self.interval = interval
        self.t0 = 0.0
        self.dropped_at: list[float] = []

    def due(self, i: int) -> float:
        return self.t0 + i * self.interval

    def run(self) -> None:
        for i, src in enumerate(self.staged):
            wait = self.due(i) - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            os.replace(src, os.path.join(self.intake, os.path.basename(src)))
            self.dropped_at.append(time.perf_counter())

    @property
    def lag_s(self) -> list[float]:
        return [t - self.due(i) for i, t in enumerate(self.dropped_at)]


def file_freshness_ms(due: dict[int, float], calls: list[SinkCall],
                      call_files: list[set[int]]) -> dict[int, float]:
    """Per file: from its due time to the return of the first valid-sink
    call that wrote its rows. Measured from the due time, not from when
    a trigger picked the file up, so a file that queued behind a slow
    trigger carries that wait."""
    done: dict[int, float] = {}
    for call, files in zip(calls, call_files):
        for f in files:
            done.setdefault(f, call.end)
    return {f: (t - due[f]) * 1000.0 for f, t in done.items() if f in due}


def _read_calls(sink: RecordingSink, columns: list[str]) -> list:
    return [pq.read_table(c.path, columns=columns) for c in sink.calls]


def check_outputs(corp: C.Corpus, valid: RecordingSink,
                  dlq: RecordingSink) -> dict:
    """Exact accounting over every message the job was given: each
    valid message written once with its own device id, each DLQ message
    written once with its expected error, nothing else. Returns the
    outcome counts, the number of failed messages and, per valid-sink
    call, the files whose rows it wrote."""
    exp = corp.expected()
    tables = _read_calls(valid, ["trip_id", "device_id", "file_seq"])
    call_files = [set(t["file_seq"].to_numpy().tolist()) for t in tables]
    trip = np.concatenate([t["trip_id"].to_numpy() for t in tables])
    dev = np.concatenate([t["device_id"].to_numpy() for t in tables])

    want = corp.trip_id[corp.kind == C.VALID]
    got, counts = np.unique(trip, return_counts=True)
    missing = int(np.setdiff1d(want, got).size)
    extra = int(np.setdiff1d(got, want).size) + int(np.sum(counts - 1))
    # trip_id is the message's index in the corpus
    known = (trip >= 0) & (trip < corp.n_messages)
    wrong_dev = int(np.sum(corp.device_id[trip[known]] != dev[known]))

    got_dlq: Counter = Counter()
    for t in _read_calls(dlq, ["row", "error"]):
        got_dlq.update(zip(t["row"].to_pylist(), t["error"].to_pylist()))
    is_dlq = np.isin(corp.kind, list(C.DLQ_ERRORS))
    values = pa.chunked_array([t["value"] for t in corp.files])
    want_dlq = Counter(zip(
        values.filter(pa.array(is_dlq)).to_pylist(),
        (C.DLQ_ERRORS[k] for k in corp.kind[is_dlq]),
    ))
    dlq_diff = sum(((got_dlq - want_dlq) + (want_dlq - got_dlq)).values())
    n_valid = int(len(trip))
    n_dlq = sum(got_dlq.values())
    errors = sorted({e for _, e in got_dlq})
    failed = missing + extra + wrong_dev + dlq_diff
    return {
        "expected": exp,
        "valid_rows": n_valid,
        "dlq_rows": n_dlq,
        "dropped_rows": exp["messages"] - n_valid - n_dlq,
        "dlq_errors": errors,
        "failed": failed,
        "correct": failed == 0 and errors == exp["dlq_errors"],
        "call_files": call_files,
    }


class IngestRun:
    """One run of the ingest workload: session start, the two timed
    phases, output checks. Spans go to ``tracer``; ``event_log`` turns
    on Spark's event log."""

    def __init__(self, seed: int, seconds: float, work: str,
                 tracer: Tracer, event_log: bool) -> None:
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.event_log = event_log
        self.result: dict = {}

    def _sizes(self) -> tuple[list[int], int]:
        """Messages per corpus file, and how many of the files (the
        first ones) form the catch-up backlog."""
        triggers = 1 + max(
            CATCHUP_MIN_TRIGGERS,
            round(self.seconds * CATCHUP_SIZING_RATE
                  / (CATCHUP_FILES_PER_TRIGGER * CATCHUP_PER_FILE)),
        )
        n_catchup = triggers * CATCHUP_FILES_PER_TRIGGER
        n_fresh = int(round((FRESH_WARMUP_S + self.seconds) / FRESH_INTERVAL_S))
        return [CATCHUP_PER_FILE] * n_catchup + [FRESH_PER_FILE] * n_fresh, n_catchup

    def run(self) -> dict:
        from kafka2clickhouse_py_streamer_spark.streaming.job import PipelineJob

        tr = self.tracer
        sizes, n_catchup = self._sizes()
        with tr.span("corpus", "generator"):
            corp = self.corp = C.make_corpus(self.seed, sizes)
        self.catchup_files = range(n_catchup)
        fresh_files = range(n_catchup, len(sizes))
        mtime_base = time.time() - 86_400
        with tr.span("stage_files", "generator"):
            backlog = engine.fresh_dir(os.path.join(self.work, "backlog"))
            _stage_files(corp, self.catchup_files, backlog, mtime_base)
            staged = _stage_files(
                corp, fresh_files,
                engine.fresh_dir(os.path.join(self.work, "staged")), mtime_base,
            )
        intake = engine.fresh_dir(os.path.join(self.work, "intake"))

        conf = engine.session_conf(self.work, event_log=self.event_log)
        spark, a, b = engine.start_session(conf)
        tr.add(Span("session.start", "session", a, b))
        self.spark = spark

        self.provider = CountingProvider(C.table_schema(), tr)
        valid = self.valid = RecordingSink(os.path.join(self.work, "out"), "sinks.valid_write", tr)
        dlq = self.dlq = RecordingSink(os.path.join(self.work, "dlq"), "sinks.dlq_write", tr)
        job = PipelineJob(self.provider, sink=valid, dlq_sink=dlq)

        # phase 1: catch-up
        t_start = time.perf_counter()
        q = job.start(
            _stream(spark, backlog, CATCHUP_FILES_PER_TRIGGER),
            os.path.join(self.work, "ckpt-catchup"), available_now=True,
        )
        try:
            with tr.span("phase.catchup", "benchmark"):
                q.awaitTermination()
        finally:
            q.stop()
        self.progress_catchup = [json.loads(p.json) for p in q.recentProgress]
        n_catchup_calls = len(valid.calls)

        # phase 2: fresh
        gen = self.generator = Generator(staged, intake, FRESH_INTERVAL_S)
        q = job.start(
            _stream(spark, intake, TRIGGER_CAP // FRESH_PER_FILE),
            os.path.join(self.work, "ckpt-fresh"),
        )
        try:
            with tr.span("phase.fresh", "benchmark"):
                gen.t0 = time.perf_counter() + 0.05
                gen.start()
                gen.join()
                q.processAllAvailable()
            t_end = time.perf_counter()
        finally:
            q.stop()
        self.progress_fresh = [json.loads(p.json) for p in q.recentProgress]

        with tr.span("check_outputs", "benchmark"):
            check = check_outputs(corp, valid, dlq)
        calls = valid.calls
        steady = calls[1:n_catchup_calls]
        caught_up = sum(
            corp.size(f) for files in check["call_files"][1:n_catchup_calls]
            for f in files
        )
        due = self.due = {f: gen.due(i) for i, f in enumerate(fresh_files)}
        fresh = file_freshness_ms(due, calls[n_catchup_calls:],
                                  check["call_files"][n_catchup_calls:])
        first_measured = fresh_files[0] + int(round(FRESH_WARMUP_S / FRESH_INTERVAL_S))
        self.measured_files = range(first_measured, fresh_files[-1] + 1)
        self.file_done = {f: due[f] + ms / 1000.0 for f, ms in fresh.items()}
        self.n_catchup_calls = n_catchup_calls
        self.result = {
            "setup_s": b - a,
            "cold_s": calls[0].end - t_start,
            # back-to-back triggers: a trigger's wall is the gap between
            # its valid write returning and the previous one's
            "catchup_trigger_ms": [
                (b.end - a.end) * 1000.0 for a, b in zip(calls, steady)
            ],
            "throughput_per_s": caught_up / (steady[-1].end - calls[0].end),
            # a lost file has no sample; the output check fails it
            "latency_ms": [fresh[f] for f in self.measured_files if f in fresh],
            "delivered_per_s": sum(corp.size(f) for f in fresh_files)
            / (t_end - gen.t0),
            "generator_lag_ms": [x * 1000.0 for x in gen.lag_s],
            "check": check,
            "attempted": check["expected"]["messages"],
            "failed": check["failed"],
            "correct": check["correct"],
        }
        return self.result
