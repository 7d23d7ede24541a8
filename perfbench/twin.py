"""The reference's execution model timed on the benchmark's own messages:
one Python thread decoding, validating and casting row by row (the same
loop as tools/ingest_throughput.reference_twin_rate, without broker or
database). Context for the engine's rows/s, not a gate."""

from __future__ import annotations

import datetime as dt
import json
import time


def _validate(obj: dict, cols: dict[str, str], required: list[str]) -> str | None:
    for req in required:
        if req not in obj:
            return f"data must contain ['{req}'] properties"
    for name, jtype in cols.items():
        v = obj.get(name)
        if v is None:
            continue
        if jtype == "integer":
            ok = isinstance(v, int) and not isinstance(v, bool)
        elif jtype == "number":
            ok = isinstance(v, (int, float)) and not isinstance(v, bool)
        elif jtype == "enum":
            ok = isinstance(v, (str, int)) and not isinstance(v, bool)
        else:
            ok = isinstance(v, str)
        if not ok:
            return f"data.{name} must be {jtype}"
    return None


def _cast(obj: dict, schema) -> list:
    out = []
    for c in schema.columns:
        v = obj.get(c.name)
        if c.is_datetime:
            try:
                out.append(dt.datetime.strptime(v, "%Y-%m-%d %H:%M:%S"))
            except (ValueError, TypeError):
                try:
                    out.append(dt.datetime.strptime(v, "%Y-%m-%d"))
                except (ValueError, TypeError):
                    out.append(c.default)
        elif c.is_string_enum:
            out.append("DEFAULT" if v is None else str(v))
        elif v is None:
            out.append(c.default)
        elif c.json_type == "integer":
            out.append(int(v))
        elif c.json_type == "number":
            out.append(float(v))
        else:
            out.append(str(v))
    return out


def reference_twin(messages: list[str], schema) -> dict:
    """Rows/s of the row-at-a-time loop over ``messages``, with its
    valid / DLQ / dropped counts."""
    cols = {c.name: c.json_type for c in schema.columns}
    required = list(schema.required)
    valid = dlq = dropped = 0
    t0 = time.perf_counter()
    for raw in messages:
        if raw is None or raw.strip() == "":
            dropped += 1
            continue
        try:
            obj = json.loads(raw)
        except ValueError:
            dropped += 1
            continue
        if not isinstance(obj, dict):
            dropped += 1
        elif _validate(obj, cols, required) is None:
            _cast(obj, schema)
            valid += 1
        else:
            dlq += 1
    wall = time.perf_counter() - t0
    return {
        "rows_per_s": len(messages) / wall,
        "valid": valid,
        "dlq": dlq,
        "dropped": dropped,
    }
