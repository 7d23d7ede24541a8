"""Self-tests of the benchmark's own arithmetic (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pytest

from perfbench.ingest import SinkCall, file_freshness_ms
from perfbench.stats import TooFewSamples, median, min_samples, percentile
from perfbench.trace import Span, jobs_by, read_event_log, self_time

DATA = os.path.join(os.path.dirname(__file__), "data")


# -- percentile rule ----------------------------------------------------

def test_percentile_needs_ten_samples_beyond_it():
    assert min_samples(90) == 100
    assert min_samples(50) == 20
    with pytest.raises(TooFewSamples):
        percentile(range(99), 90)
    assert percentile(range(1, 101), 90) == 90.0
    with pytest.raises(TooFewSamples):
        percentile(range(19), 50)


def test_percentile_is_nearest_rank():
    xs = list(range(1, 201))
    assert percentile(xs, 90) == 180.0
    assert percentile(reversed(xs), 50) == 100.0


def test_median_of_even_count_averages_the_middle_pair():
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(TooFewSamples):
        median([])


# -- self time ----------------------------------------------------------

def test_self_time_counts_overlapping_children_once():
    # trigger body 0..10 s; the DLQ write (2..5) runs beside the valid
    # write (3..8), so together they cover 2..8
    valid = Span("sinks.valid_write", "sinks", 3.0, 8.0)
    dlq = Span("sinks.dlq_write", "sinks", 2.0, 5.0)
    assert self_time(10.0, 0.0, [valid, dlq]) == pytest.approx(4.0)
    assert self_time(10.0, 0.0, [valid]) == pytest.approx(5.0)


def test_self_time_clips_children_to_the_parent():
    late = Span("sinks.valid_write", "sinks", 8.0, 12.0)
    before = Span("sinks.dlq_write", "sinks", -3.0, -1.0)
    assert self_time(10.0, 0.0, [late, before]) == pytest.approx(8.0)


# -- event log ----------------------------------------------------------

def test_event_log_parser_on_canned_log():
    jobs = read_event_log(os.path.join(DATA, "eventlog_small.jsonl"))
    assert [j.job_id for j in jobs] == [0, 1, 2]
    j0, j1, j2 = jobs
    # job 0 ran stages 0 and 1; job 1 lists stage 1 again but skips it
    assert (j0.stages, j0.tasks) == (2, 3)
    assert (j1.stages, j1.tasks) == (1, 2)
    assert j0.cpu_ms == pytest.approx(85.0)
    assert j0.run_ms == pytest.approx(110.0)
    assert j0.shuffle_write_bytes == 2 * 1048576
    assert j0.spill_bytes == 3072
    assert (j0.submitted, j0.completed) == (1000.0, 1000.25)
    by_batch = jobs_by(jobs, lambda p: p.get("streaming.sql.batchId"))
    assert {k: [j.job_id for j in v] for k, v in by_batch.items()} == {"1": [0, 1]}
    by_group = jobs_by(jobs, lambda p: p.get("spark.jobGroup.id"))
    assert list(by_group) == ["q01#1"]
    assert j2.props == {}


# -- open-loop accounting -----------------------------------------------

def _simulate(interval: float, n_files: int, trigger_s, stall_at: int, stall_s: float):
    """Back-to-back triggers over files due every ``interval``: each
    trigger takes every file due by its start (none: it waits for the
    next file). Returns (due, sink calls, files per call)."""
    due = {f: f * interval for f in range(n_files)}
    calls, files, t, nxt = [], [], 0.0, 0
    while nxt < n_files:
        t = max(t, due[nxt])
        take = [f for f in range(nxt, n_files) if due[f] <= t]
        nxt = take[-1] + 1
        wall = stall_s if len(calls) == stall_at else trigger_s
        calls.append(SinkCall(len(calls), str(len(calls)), t, t + wall, ""))
        files.append(set(take))
        t += wall
    return due, calls, files


def test_stalled_trigger_inflates_freshness_of_later_files():
    due, calls, files = _simulate(0.1, 100, 0.3, stall_at=3, stall_s=2.0)
    fresh = file_freshness_ms(due, calls, files)
    base_due, base_calls, base_files = _simulate(0.1, 100, 0.3, stall_at=-1, stall_s=0.0)
    base = file_freshness_ms(base_due, base_calls, base_files)
    assert set(fresh) == set(due)
    # files that arrived while the stalled trigger ran were served by
    # fast triggers, yet waited behind the stall: measured from their
    # due times, their freshness carries that wait
    stalled_end = calls[3].end
    queued = [f for f in due if calls[3].start < due[f] < stalled_end]
    assert len(queued) >= 15
    for f in queued:
        served_by = next(c for c, fs in zip(calls, files) if f in fs)
        assert served_by.end - served_by.start == pytest.approx(0.3)
        assert fresh[f] > 300.0
        assert fresh[f] >= (stalled_end - due[f]) * 1000.0
    assert median(fresh.values()) > median(base.values())
    assert max(fresh.values()) > 2000.0 > max(base.values())


def test_freshness_counts_a_file_at_its_first_write():
    calls = [SinkCall(0, "1", 0.0, 1.0, ""), SinkCall(1, "2", 1.0, 2.0, "")]
    fresh = file_freshness_ms({7: 0.5}, calls, [{7}, {7}])
    assert fresh == {7: pytest.approx(500.0)}


# -- BENCHMARK.json -----------------------------------------------------

def test_benchmark_json_matches_what_run_prints():
    import json
    import re

    from perfbench.run import END_TO_END, PER_LAYER, ROOT, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert name.match(m["name"]) and m["better"] in ("higher", "lower")
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in bench["workloads"])


# -- ingest output check ------------------------------------------------

def _sink_dirs(tmp_path, name, tables):
    import types

    import pyarrow.parquet as pq

    calls = []
    for i, t in enumerate(tables):
        d = tmp_path / name / f"call={i:05d}"
        d.mkdir(parents=True)
        pq.write_table(t, d / "part-0.parquet")
        calls.append(SinkCall(i, f"q:{i}", 0.0, 1.0, str(d)))
    return types.SimpleNamespace(calls=calls)


def _expected_outputs(corp):
    """What a correct engine writes for ``corp``: one valid call per
    file, one DLQ call holding every DLQ message."""
    import numpy as np
    import pyarrow as pa

    from perfbench import corpus as C

    valid = []
    for f in range(len(corp.files)):
        m = (corp.file_seq == f) & (corp.kind == C.VALID)
        valid.append(pa.table({
            "trip_id": corp.trip_id[m],
            "device_id": corp.device_id[m],
            "file_seq": corp.file_seq[m],
        }))
    is_dlq = np.isin(corp.kind, list(C.DLQ_ERRORS))
    values = pa.chunked_array([t["value"] for t in corp.files])
    dlq = pa.table({
        "row": values.filter(pa.array(is_dlq)),
        "error": [C.DLQ_ERRORS[k] for k in corp.kind[is_dlq]],
    })
    return valid, dlq


def test_output_check_accepts_exact_and_counts_lost_or_doubled(tmp_path):
    from perfbench.corpus import make_corpus
    from perfbench.ingest import check_outputs

    corp = make_corpus(3, [2_000, 2_000, 2_000])
    valid, dlq = _expected_outputs(corp)
    ok = check_outputs(corp, _sink_dirs(tmp_path / "a", "v", valid),
                       _sink_dirs(tmp_path / "a", "d", [dlq]))
    exp = corp.expected()
    assert ok["correct"] and ok["failed"] == 0
    assert (ok["valid_rows"], ok["dlq_rows"], ok["dropped_rows"]) == (
        exp["valid"], exp["dlq"], exp["dropped"])
    assert exp["dlq"] > 0 and exp["dropped"] > 0
    assert ok["call_files"] == [{0}, {1}, {2}]

    # file 1 written twice, 5 rows of file 2 lost, 3 DLQ rows lost
    bad_valid = [valid[0], valid[1], valid[1], valid[2].slice(5)]
    bad = check_outputs(corp, _sink_dirs(tmp_path / "b", "v", bad_valid),
                        _sink_dirs(tmp_path / "b", "d", [dlq.slice(3)]))
    assert not bad["correct"]
    assert bad["failed"] == valid[1].num_rows + 5 + 3
