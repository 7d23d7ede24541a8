"""Seeded message corpus for the ingest workloads.

Messages are JSON objects over the reference's telemetry column shapes
(one column per cast branch, as in tools/ingest_throughput.py), plus
``file_seq``, the number of the file that carries the message, so an
output row names the file it came from. About 2% are faults, in the
three classes the service handles: malformed JSON and empty tombstones
(dropped) and a missing required field (routed to the DLQ). The fault
schedule is drawn from the seed, so the expected valid / DLQ / dropped
counts are known exactly before the engine runs.

The corpus is built with NumPy and Arrow string kernels in the
benchmark's own process; the engine's session is not used."""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# (name, ClickHouse type) — the sink table the benchmark's schema
# provider serves
CH_COLUMNS = [
    ("device_id", "UInt32"),
    ("trip_id", "Int64"),
    ("speed", "Float32"),
    ("score", "Float64"),
    ("big_ctr", "UInt64"),
    ("device_uuid", "UUID"),
    ("event_name", "String"),
    ("gps_validity", "Enum8('valid'=1,'invalid'=2)"),
    ("incognito_mode", "Enum8('on'=1,'off'=2)"),
    ("mode_code", "Enum8('a'=1,'b'=2)"),
    ("event_ts", "DateTime"),
    ("event_date", "Date"),
    ("file_seq", "UInt32"),
]
REQUIRED = ["device_id", "event_ts"]

# message kinds
VALID, MALFORMED, NO_DEVICE, NO_TS, TOMBSTONE = range(5)
# probability of each fault kind (the rest are valid): ~2% in total
FAULT_P = {MALFORMED: 0.006, NO_DEVICE: 0.004, NO_TS: 0.004, TOMBSTONE: 0.006}
DLQ_ERRORS = {
    NO_DEVICE: "data must contain ['device_id'] properties",
    NO_TS: "data must contain ['event_ts'] properties",
}


def table_schema():
    from kafka2clickhouse_py_streamer_spark.schema.clickhouse import (
        build_table_schema,
    )

    return build_table_schema(
        CH_COLUMNS,
        required_columns=REQUIRED,
        string_enum_columns=["gps_validity", "incognito_mode"],
        datetime_columns=["event_ts", "event_date"],
    )


@dataclass
class Corpus:
    """``files[i]`` holds the messages of file ``i``; ``kind``,
    ``trip_id`` and ``device_id`` describe every message in order."""

    files: list[pa.Table]
    kind: np.ndarray
    trip_id: np.ndarray
    device_id: np.ndarray
    file_seq: np.ndarray

    @property
    def n_messages(self) -> int:
        return len(self.kind)

    def size(self, i: int) -> int:
        return self.files[i].num_rows

    def expected(self) -> dict:
        """Exact outcome counts under the fault schedule."""
        k = self.kind
        return {
            "messages": int(len(k)),
            "valid": int(np.sum(k == VALID)),
            "dlq": int(np.sum((k == NO_DEVICE) | (k == NO_TS))),
            "dropped": int(np.sum((k == MALFORMED) | (k == TOMBSTONE))),
            "dlq_errors": sorted(DLQ_ERRORS[f] for f in DLQ_ERRORS if np.any(k == f)),
        }

    def write_file(self, i: int, path: str) -> None:
        pq.write_table(self.files[i], path, compression="snappy")


def _s(x) -> pa.Array:
    return pc.cast(pa.array(x), pa.string())


def make_corpus(seed: int, sizes: list[int]) -> Corpus:
    """File ``i`` holds ``sizes[i]`` messages; message ``k`` (in file
    order) has ``trip_id`` ``k``."""
    rng = np.random.default_rng(seed)
    n = int(sum(sizes))
    trip = np.arange(n, dtype=np.int64)
    seq = np.repeat(np.arange(len(sizes), dtype=np.int64), sizes)
    device = rng.integers(0, 100_000, n)
    speed = np.round(rng.uniform(0, 130, n), 2)
    score = np.round(rng.random(n), 6)
    big = rng.integers(0, 2**62, n, dtype=np.int64)
    uuid = rng.integers(0, 2**62, n, dtype=np.int64)
    event = rng.integers(0, 40, n)
    secs = 1714550400 + rng.integers(0, 86400 * 30, n)
    # "YYYY-MM-DD HH:MM:SS" (the cast kernel is ~40x faster than strftime)
    ts = pc.cast(pa.array(secs, pa.timestamp("s")), pa.string())
    date = pc.utf8_slice_codeunits(ts, 0, 10)
    gps = pc.choose(pa.array(rng.integers(0, 2, n).astype(np.int8)),
                    pa.scalar("valid"), pa.scalar("invalid"))
    inc = pc.choose(pa.array(rng.integers(0, 2, n).astype(np.int8)),
                    pa.scalar("on"), pa.scalar("off"))
    mode = rng.integers(1, 3, n)

    valid_msg = pc.binary_join_element_wise(
        '{"device_id":', _s(device),
        ',"trip_id":', _s(trip),
        ',"speed":', _s(speed),
        ',"score":', _s(score),
        ',"big_ctr":', _s(big),
        ',"device_uuid":"uuid-', _s(uuid),
        '","event_name":"evt_', _s(event),
        '","gps_validity":"', gps,
        '","incognito_mode":"', inc,
        '","mode_code":', _s(mode),
        ',"event_ts":"', ts,
        '","event_date":"', date,
        '","file_seq":', _s(seq),
        "}", "",
    )
    no_device = pc.binary_join_element_wise(
        '{"trip_id":', _s(trip), ',"event_ts":"', ts,
        '","file_seq":', _s(seq), "}", "",
    )
    no_ts = pc.binary_join_element_wise(
        '{"device_id":', _s(device), ',"trip_id":', _s(trip),
        ',"file_seq":', _s(seq), "}", "",
    )
    malformed = pc.binary_join_element_wise(valid_msg, "{truncated", "")

    u = rng.random(n)
    kind = np.full(n, VALID, dtype=np.int8)
    edge = 0.0
    for k, p in FAULT_P.items():
        kind[(u >= edge) & (u < edge + p)] = k
        edge += p
    value = pc.choose(
        pa.array(kind), valid_msg, malformed, no_device, no_ts, pa.scalar("")
    )
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    files = [
        pa.table({"value": value.slice(int(a), int(k))})
        for a, k in zip(starts, sizes)
    ]
    return Corpus(files, kind, trip, device, seq)
