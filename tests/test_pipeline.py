"""Golden pipeline tests (SURVEY.md §5.2, FIXTURES.md §A): fixed JSON
rows through validate-split-cast; assert the exact valid/DLQ routing and
the exact sentinel defaults from the reference (main.py:116-132)."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest

from kafka2clickhouse_py_streamer_spark.pipeline import process_batch
from kafka2clickhouse_py_streamer_spark.schema.clickhouse import build_table_schema

# FIXTURES.md §A1 — one column per branch of the cast logic.
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
    ("db_insert_time", "DateTime"),
]

SCHEMA = build_table_schema(
    CH_COLUMNS,
    required_columns=["device_id", "event_ts"],
    string_enum_columns=["gps_validity", "incognito_mode"],
    datetime_columns=["event_ts", "event_date"],
)

VALID_ROW = (
    '{"device_id": 7, "trip_id": 99, "speed": 12.5, "score": 0.8,'
    ' "big_ctr": 123, "device_uuid": "abc-123", "event_name": "go",'
    ' "gps_validity": "valid", "incognito_mode": "off", "mode_code": 2,'
    ' "event_ts": "2024-05-01 10:00:00", "event_date": "2024-05-01"}'
)


def run(spark, payloads):
    raw = spark.createDataFrame([(p,) for p in payloads], "value string")
    valid, dlq = process_batch(raw, SCHEMA)
    return valid.collect(), dlq.collect()


def test_schema_excludes_db_insert_time():
    assert "db_insert_time" not in SCHEMA.names  # popped (main.py:168)
    assert len(SCHEMA.columns) == 12


def test_valid_row_pass_through(spark):
    valid, dlq = run(spark, [VALID_ROW])
    assert dlq == []
    [r] = valid
    assert r.device_id == 7
    assert r.trip_id == 99
    assert r.speed == pytest.approx(12.5)
    assert r.big_ctr == Decimal(123)
    assert r.gps_validity == "valid"
    assert r.mode_code == 2
    assert r.event_ts == datetime.datetime(2024, 5, 1, 10, 0, 0)
    assert r.event_date == datetime.date(2024, 5, 1)


def test_extra_field_dropped(spark):
    payload = VALID_ROW[:-1] + ', "debug": true}'
    valid, dlq = run(spark, [payload])
    assert dlq == []
    assert "debug" not in valid[0].asDict()


def test_missing_optional_gets_sentinel(spark):
    # omit speed → 2000000000.0 (main.py:125); omit score → 999999999999999.9
    payload = (
        '{"device_id": 1, "event_ts": "2024-01-01 00:00:00"}'
    )
    valid, dlq = run(spark, [payload])
    assert dlq == []
    [r] = valid
    assert r.speed == pytest.approx(2000000000.0)
    assert r.score == pytest.approx(999999999999999.9)
    assert r.trip_id == -9223372036854775808
    assert r.device_uuid == ""
    assert r.event_name == ""
    assert r.big_ctr == Decimal(18446744073709500000)
    assert r.mode_code == 127
    assert r.gps_validity == "DEFAULT"
    assert r.incognito_mode == "DEFAULT"
    assert r.event_date == datetime.date(1970, 1, 1)


def test_null_optional_gets_sentinel(spark):
    payload = (
        '{"device_id": 1, "event_ts": "2024-01-01 00:00:00",'
        ' "event_name": null, "gps_validity": null}'
    )
    valid, dlq = run(spark, [payload])
    assert dlq == []
    [r] = valid
    assert r.event_name == ""  # null string → '' (main.py:284)
    assert r.gps_validity == "DEFAULT"  # null string-enum (main.py:275-281)


def test_empty_string_datetime_epoch(spark):
    payload = '{"device_id": 1, "event_ts": "", "event_date": ""}'
    valid, dlq = run(spark, [payload])
    assert dlq == []
    [r] = valid
    assert r.event_ts == datetime.datetime(1970, 1, 1)  # main.py:267-273
    assert r.event_date == datetime.date(1970, 1, 1)


def test_unparseable_datetime_epoch(spark):
    payload = '{"device_id": 1, "event_ts": "not-a-date"}'
    valid, dlq = run(spark, [payload])
    assert dlq == []  # schema says string → valid; cast-fail → default
    assert valid[0].event_ts == datetime.datetime(1970, 1, 1)


def test_missing_required_to_dlq(spark):
    payload = '{"event_ts": "2024-01-01 00:00:00"}'
    valid, dlq = run(spark, [payload])
    assert valid == []
    [d] = dlq
    assert d.row == payload
    assert "device_id" in d.error and "must contain" in d.error


def test_wrong_json_type_to_dlq(spark):
    payload = (
        '{"device_id": 1, "event_ts": "2024-01-01 00:00:00",'
        ' "trip_id": "abc"}'
    )
    valid, dlq = run(spark, [payload])
    assert valid == []
    [d] = dlq
    assert d.error == "data.trip_id must be integer"


def test_float_for_int_to_dlq(spark):
    payload = (
        '{"device_id": 1.5, "event_ts": "2024-01-01 00:00:00"}'
    )
    valid, dlq = run(spark, [payload])
    assert valid == []
    assert dlq[0].error == "data.device_id must be integer"


def test_empty_and_whitespace_dropped(spark):
    valid, dlq = run(spark, ["", "   ", "\t\n"])
    assert valid == [] and dlq == []  # main.py:516-520


def test_malformed_json_dropped(spark):
    valid, dlq = run(spark, ["{not json", "[1,2,3]", "42"])
    assert valid == [] and dlq == []  # decode errors silent (main.py:519)


def test_batch_mix_routing(spark):
    payloads = [
        VALID_ROW,
        "",
        '{"event_name": "x"}',  # missing both required
        "{oops",
        '{"device_id": true, "event_ts": "2024-01-01 00:00:00"}',  # bool≠int
    ]
    valid, dlq = run(spark, payloads)
    assert len(valid) == 1
    assert len(dlq) == 2


def test_integral_guard_matches_plain_try_cast(spark):
    """The exception-free integral-cast guard (_INTEGRAL_TOKEN rlike)
    must accept EXACTLY the strings Spark's ANSI string→integral
    try_cast accepts — padding/control chars (trimAll), signs, unicode
    digits, overflow, decimals, exponents. A guard that rejects a
    castable string silently changes a value to the sentinel; this
    differential makes that impossible to miss."""
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.pipeline.core import (
        _INTEGRAL_TOKEN,
    )

    cases = [
        "1", "+1", "-1", " 12 ", "\t12\n", "\x0112", "  +7\x00", "0008",
        "1.5", "1.0", "1.", ".5", "1e2", "12L", "0x10", "١٢", "𝟏", "¼",
        "", " ", "+", "-", "7 7", "NaN", "Infinity", "1_000",
        "32767", "-32768", "32768", "-32769", "99999", "00", "-0",
        "9223372036854775807", "9223372036854775808", None,
    ]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    for t in ("tinyint", "smallint", "int", "bigint"):
        out = df.select(
            "s",
            F.col("s").try_cast(t).alias("plain"),
            F.when(F.col("s").rlike(_INTEGRAL_TOKEN), F.col("s").try_cast(t))
            .alias("guarded"),
        ).collect()
        bad = [(r["s"], r["plain"], r["guarded"]) for r in out
               if r["plain"] != r["guarded"]]
        assert bad == [], (t, bad)


def test_dotted_column_name_resolves_as_one_field(spark):
    """A ClickHouse Nested-style sink column ("n.a") is ONE field of the
    parsed struct, not a path into a struct "n": the batch API must
    cast it like any other column, the same way the streaming shell
    does."""
    from pyspark.sql import Row

    dotted = build_table_schema(
        [("device_id", "UInt32"), ("n.a", "UInt8")],
        required_columns=[],
        string_enum_columns=[],
    )
    raw = spark.createDataFrame([('{"device_id":1,"n.a":3}',)], "value string")
    valid, dlq = process_batch(raw, dotted)
    assert valid.collect() == [Row(**{"device_id": 1, "n.a": 3})]
    assert dlq.collect() == []
