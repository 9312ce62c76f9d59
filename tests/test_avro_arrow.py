"""Schema-compiled columnar Avro decode (sources/avro_arrow.py): the
Arrow fast path must be value-identical to the interpretive
decode_record + row_for_spark path for EVERY schema the interpretive
path supports — primitives compile to inline snippets, complex fields
fall back to decode_datum per position, and both meet in one
pyarrow.RecordBatch typed by avro_schema_to_struct.

Parity: the reference decodes Avro inside the native Kafka connector
(src/moonlink_connectors); here the same decode feeds Spark through
Arrow batches instead of pickled rows.
"""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from moonlink_spark.sources.avro_arrow import (
    arrow_batch_for_spark,
    columnar_decoder_cached,
    compile_columnar_decoder,
)
from moonlink_spark.sources.avro_binary import (
    decode_record,
    encode_datum,
    row_for_spark,
)
from moonlink_spark.sources.converters import (
    AvroSchemaError,
    avro_schema_to_struct,
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

    names, decode_all = compile_columnar_decoder(RICH_SCHEMA)
    cols = decode_all(payloads)
    named = {
        n: (f["type"], c)
        for n, f, c in zip(names, RICH_SCHEMA["fields"], cols)
    }
    fast = arrow_batch_for_spark(struct, named)

    # interpretive rows -> the same Arrow assembly (row_for_spark shapes,
    # datetime objects go through pa.array with the Spark-mandated type)
    ref_cols = _interpretive_columns(RICH_SCHEMA, payloads)
    ref_named = {
        f["name"]: (f["type"], ref_cols[f["name"]])
        for f in RICH_SCHEMA["fields"]
    }
    slow = arrow_batch_for_spark(struct, ref_named)

    assert fast.schema == slow.schema
    assert fast.to_pylist() == slow.to_pylist()


def test_trailing_bytes_raise():
    schema = {
        "type": "record",
        "name": "t",
        "fields": [{"name": "x", "type": "long"}],
    }
    _, decode_all = compile_columnar_decoder(schema)
    good = encode_datum(schema, {"x": 7})
    with pytest.raises(AvroSchemaError, match="trailing"):
        decode_all([good + b"\x00"])


def test_decoder_memoized_per_schema():
    a1 = columnar_decoder_cached(RICH_SCHEMA)
    a2 = columnar_decoder_cached(
        json.dumps(RICH_SCHEMA, sort_keys=True, separators=(",", ":"))
    )
    assert a1 is a2


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
    column for column (raw Python values, before Arrow)."""
    schema, rows = case
    payloads = [encode_datum(schema, r) for r in rows]
    names, decode_all = compile_columnar_decoder(schema)
    got = decode_all(payloads)
    want = _interpretive_columns(schema, payloads)
    for i, n in enumerate(names):
        assert got[i] == want[n], n
