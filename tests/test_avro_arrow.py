"""Column-at-a-time Avro decode (sources/avro_arrow.py): the numpy
decoder must be value-identical to the interpretive decode_record +
row_for_spark path for EVERY schema the interpretive path supports —
primitives and [null, X] unions decode one field at a time for the
whole batch, complex fields go through decode_datum per record, and
both meet in one pyarrow.RecordBatch typed by avro_schema_to_struct.

Parity: the reference decodes Avro inside the native Kafka connector
(src/moonlink_connectors); here the same decode feeds Spark through
Arrow batches instead of pickled rows.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import LongType, StructField, StructType

from moonlink_spark.sources.avro_arrow import arrow_batch_for_spark
from moonlink_spark.sources.avro_binary import (
    decode_record,
    encode_datum,
    row_for_spark,
)
from moonlink_spark.sources.converters import (
    AvroSchemaError,
    avro_schema_to_struct,
)
from tests.test_avro_properties import (
    _record_schema_and_value,
    _redraw,
    decode_payloads,
)

RICH_SCHEMA = {
    "type": "record",
    "name": "rich",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "flag", "type": "boolean"},
        {"name": "ratio", "type": "double"},
        {"name": "score", "type": "float"},
        {"name": "blob", "type": "bytes"},
        {"name": "opt_s", "type": ["null", "string"], "default": None},
        {"name": "opt_l", "type": ["null", "long"], "default": None},
        {
            "name": "ts_us",
            "type": {"type": "long", "logicalType": "timestamp-micros"},
        },
        {
            "name": "ts_ms",
            "type": {"type": "long", "logicalType": "timestamp-millis"},
        },
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {
            "name": "t_ms",
            "type": {"type": "int", "logicalType": "time-millis"},
        },
        {
            "name": "amount",
            "type": {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": 10,
                "scale": 2,
            },
        },
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "props", "type": {"type": "map", "values": "long"}},
        {
            "name": "nested",
            "type": {
                "type": "record",
                "name": "inner",
                "fields": [
                    {"name": "a", "type": "long"},
                    {"name": "b", "type": ["null", "string"]},
                ],
            },
        },
        {
            "name": "color",
            "type": {"type": "enum", "name": "c", "symbols": ["R", "G"]},
        },
    ],
}


def _rich_value(i: int) -> dict:
    return {
        "id": i,
        "name": f"n{i}",
        "flag": i % 2 == 0,
        "ratio": i * 1.5,
        "score": float(i),
        "blob": bytes([i % 256, 1, 2]),
        "opt_s": None if i % 3 == 0 else f"s{i}",
        "opt_l": None if i % 4 == 0 else i * 10,
        "ts_us": dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i, microseconds=i),
        "ts_ms": dt.datetime(2024, 6, 1) + dt.timedelta(milliseconds=i),
        "d": dt.date(2024, 1, 1) + dt.timedelta(days=i),
        "t_ms": i * 1000,
        "amount": Decimal(i) / 4,
        "tags": [f"t{j}" for j in range(i % 3)],
        "props": {f"k{j}": j * i for j in range(i % 2 + 1)},
        "nested": {"a": i, "b": None if i % 2 else f"b{i}"},
        "color": "R" if i % 2 else "G",
    }


def _interpretive_columns(schema: dict, payloads: list[bytes]) -> dict:
    names = [f["name"] for f in schema["fields"]]
    cols = {n: [] for n in names}
    for p in payloads:
        rec = row_for_spark(schema, decode_record(schema, p))
        for n in names:
            cols[n].append(rec[n])
    return cols


def test_columnar_matches_interpretive_on_rich_schema():
    """End-to-end: both paths through arrow_batch_for_spark produce the
    SAME RecordBatch (types and values) for the rich schema."""
    payloads = [encode_datum(RICH_SCHEMA, _rich_value(i)) for i in range(50)]
    struct = avro_schema_to_struct(RICH_SCHEMA)

    fast = arrow_batch_for_spark(struct, decode_payloads(RICH_SCHEMA, payloads))

    # interpretive rows -> the same Arrow assembly (row_for_spark shapes,
    # Python lists go through pa.array with the Spark-mandated type)
    slow = arrow_batch_for_spark(
        struct, _interpretive_columns(RICH_SCHEMA, payloads)
    )

    assert fast.schema == slow.schema
    assert fast.to_pylist() == slow.to_pylist()


def test_trailing_bytes_raise():
    schema = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "x", "type": "long"}],
    }
    good = encode_datum(schema, {"x": 7})
    with pytest.raises(AvroSchemaError, match="trailing"):
        decode_payloads(schema, [good + b"\x00"])


_names = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True)
_longs = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@st.composite
def _flat_case(draw):
    n = draw(st.integers(min_value=1, max_value=5))
    names = draw(st.lists(_names, min_size=n, max_size=n, unique=True))
    fields, rows = [], []
    kinds = [
        draw(
            st.sampled_from(
                ["long", "string", "boolean", "double", "bytes",
                 "opt_long", "opt_string", "array_long", "map_long"]
            )
        )
        for _ in names
    ]
    for name, kind in zip(names, kinds):
        if kind == "long":
            fields.append({"name": name, "type": "long"})
        elif kind == "string":
            fields.append({"name": name, "type": "string"})
        elif kind == "boolean":
            fields.append({"name": name, "type": "boolean"})
        elif kind == "double":
            fields.append({"name": name, "type": "double"})
        elif kind == "bytes":
            fields.append({"name": name, "type": "bytes"})
        elif kind == "opt_long":
            fields.append({"name": name, "type": ["null", "long"]})
        elif kind == "opt_string":
            fields.append({"name": name, "type": ["null", "string"]})
        elif kind == "array_long":
            fields.append(
                {"name": name, "type": {"type": "array", "items": "long"}}
            )
        else:
            fields.append(
                {"name": name, "type": {"type": "map", "values": "long"}}
            )
    n_rows = draw(st.integers(min_value=0, max_value=8))
    for _ in range(n_rows):
        row = {}
        for name, kind in zip(names, kinds):
            if kind == "long":
                row[name] = draw(_longs)
            elif kind == "string":
                row[name] = draw(st.text(max_size=20))
            elif kind == "boolean":
                row[name] = draw(st.booleans())
            elif kind == "double":
                row[name] = draw(
                    st.floats(allow_nan=False, allow_infinity=False)
                )
            elif kind == "bytes":
                row[name] = draw(st.binary(max_size=20))
            elif kind == "opt_long":
                row[name] = draw(st.one_of(st.none(), _longs))
            elif kind == "opt_string":
                row[name] = draw(
                    st.one_of(st.none(), st.text(max_size=20))
                )
            elif kind == "array_long":
                row[name] = draw(st.lists(_longs, max_size=4))
            else:
                row[name] = {
                    k: draw(_longs)
                    for k in draw(st.lists(_names, max_size=3, unique=True))
                }
        rows.append(row)
    schema = {"type": "record", "name": "p", "fields": fields}
    return schema, rows


@settings(max_examples=60, deadline=None)
@given(_flat_case())
def test_columnar_parity_property(case):
    """Any flat record: columnar decode == interpretive decode,
    column for column (Arrow values against the interpretive Python
    values)."""
    schema, rows = case
    payloads = [encode_datum(schema, r) for r in rows]
    got = decode_payloads(schema, payloads)
    want = _interpretive_columns(schema, payloads)
    for n, col in got.items():
        assert col.to_pylist() == want[n], n


def _as_bytes(ftype):
    """A string field's schema as bytes: the wire shape is the same, so
    a bytes value encodes as a string with arbitrary (invalid) bytes."""
    return [("bytes" if b == "string" else b) for b in ftype] if isinstance(
        ftype, list
    ) else "bytes"


_EXTREMES = {"long": [-(2**63), 2**63 - 1, -1], "int": [-(2**31), 2**31 - 1]}


@st.composite
def _batch(draw):
    """1-50 records of one flat schema (tests/test_avro_properties.py's
    field mix: longs, ints, strings, booleans, [null, X] unions, arrays
    and maps), with int64/int32 extremes pinned on some records."""
    schema, proto = _record_schema_and_value(draw)
    n = draw(st.integers(min_value=1, max_value=50))
    records = [proto] + [
        {f["name"]: _redraw(draw, f["type"]) for f in schema["fields"]}
        for _ in range(n - 1)
    ]
    for r in records:
        for f in schema["fields"]:
            if f["type"] in ("long", "int") and draw(st.integers(0, 3)) == 0:
                r[f["name"]] = draw(st.sampled_from(_EXTREMES[f["type"]]))
    return schema, records


@settings(max_examples=60, deadline=None)
@given(_batch(), st.data())
def test_batch_decode_equals_decode_record(case, data):
    """Whole batches: decode_columns equals decode_record + row_for_spark
    column by column, or both reject the batch — here when one record
    carries invalid UTF-8 in a string field."""
    schema, records = case
    payloads = [encode_datum(schema, r) for r in records]
    strings = [
        f["name"]
        for f in schema["fields"]
        if f["type"] in ("string", ["null", "string"])
    ]
    if strings and data.draw(st.booleans()):
        i = data.draw(st.integers(0, len(records) - 1))
        name = data.draw(st.sampled_from(strings))
        fields = [
            dict(f, type=_as_bytes(f["type"])) if f["name"] == name else f
            for f in schema["fields"]
        ]
        payloads[i] = encode_datum(
            {**schema, "fields": fields}, {**records[i], name: b"a\xc3\x28"}
        )
        with pytest.raises(AvroSchemaError, match="invalid UTF-8"):
            decode_record(schema, payloads[i])
        with pytest.raises(AvroSchemaError, match="invalid UTF-8"):
            decode_payloads(schema, payloads)
        return
    got = decode_payloads(schema, payloads)
    want = _interpretive_columns(schema, payloads)
    assert list(got) == list(want)
    for n, col in got.items():
        assert col.to_pylist() == want[n], n


@settings(max_examples=25, deadline=None)
@given(_batch(), st.data())
def test_batch_with_a_truncated_record_raises(case, data):
    """Record i cut at every byte: decode_record and the batch decode
    both raise AvroSchemaError, and no read runs on into record i + 1."""
    schema, records = case
    payloads = [encode_datum(schema, r) for r in records]
    i = data.draw(st.integers(0, len(payloads) - 1))
    for cut in range(len(payloads[i])):
        batch = payloads[:i] + [payloads[i][:cut]] + payloads[i + 1:]
        with pytest.raises(AvroSchemaError):
            decode_record(schema, batch[i])
        with pytest.raises(AvroSchemaError):
            decode_payloads(schema, batch)


def test_varint_extremes_and_out_of_range_values():
    """10-byte varints decode exactly at the int64 and int32 bounds;
    a wider varint, or an int outside int32, raises on both paths."""
    schema = {
        "type": "record",
        "name": "x",
        "fields": [
            {"name": "l", "type": "long"},
            {"name": "i", "type": "int"},
            {"name": "o", "type": ["null", "long"]},
        ],
    }
    rows = [
        {"l": -(2**63), "i": -(2**31), "o": None},
        {"l": 2**63 - 1, "i": 2**31 - 1, "o": -(2**63)},
        {"l": 0, "i": 0, "o": 2**63 - 1},
    ]
    payloads = [encode_datum(schema, r) for r in rows]
    got = decode_payloads(schema, payloads)
    assert {n: c.to_pylist() for n, c in got.items()} == _interpretive_columns(
        schema, payloads
    )
    assert got["i"].type == pa.int32()
    for t, payload, match in (
        ("long", b"\xff" * 10 + b"\x01", "varint too long"),  # 11 bytes
        ("long", b"\xff" * 9 + b"\x02", "varint too long"),  # 65 bits
        ("int", b"\xfe\xff\xff\xff\x7f", "out of range"),  # 2**34 - 1
        ("int", encode_datum("long", 2**31), "out of range"),
    ):
        one = {"type": "record", "name": "y", "fields": [{"name": "v", "type": t}]}
        with pytest.raises(AvroSchemaError, match=match):
            decode_record(one, payload)
        with pytest.raises(AvroSchemaError, match=match):
            decode_payloads(one, [encode_datum("long", 1), payload])


def test_cast_to_the_table_type_is_safe():
    """A double into a bigint column: a whole value casts, a fraction
    raises (``pa.array(list, type)`` used to truncate it silently)."""
    schema = {"type": "record", "name": "x", "fields": [{"name": "v", "type": "double"}]}
    struct = StructType([StructField("v", LongType())])
    whole = decode_payloads(schema, [encode_datum(schema, {"v": 2.0})])
    assert arrow_batch_for_spark(struct, whole).to_pylist() == [{"v": 2}]
    frac = decode_payloads(schema, [encode_datum(schema, {"v": 1.5})])
    with pytest.raises(pa.ArrowInvalid, match="truncated"):
        arrow_batch_for_spark(struct, frac)
