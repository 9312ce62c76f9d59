"""Property-based tests for the hand-rolled Avro container codec
(hypothesis): any record tree built from the writer's supported subset
must round-trip byte-exactly through write_avro_container /
read_avro_container — the foundation the Iceberg manifests stand on.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from moonlink_spark.sources.avro_binary import _zigzag_encode
from moonlink_spark.table.iceberg_export import (
    read_avro_container,
    write_avro_container,
)

# Avro names must match [A-Za-z_][A-Za-z0-9_]*
_names = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)

_longs = st.integers(min_value=-(2**63), max_value=2**63 - 1)
_ints = st.integers(min_value=-(2**31), max_value=2**31 - 1)
_strings = st.text(max_size=40)
_bools = st.booleans()


def decode_payloads(schema: dict, payloads: list) -> dict:
    """``decode_columns`` over ``payloads`` packed into one buffer the
    way a fetch holds them, each preceded by a byte that would continue
    a varint, so a read past a record's bounds shows."""
    import numpy as np

    from moonlink_spark.sources.avro_arrow import decode_columns

    lens = np.array([len(p) for p in payloads], np.int64)
    ends = np.cumsum(lens + 1)
    buf = np.frombuffer(b"".join(b"\x80" + p for p in payloads), np.uint8)
    return decode_columns(schema, buf, ends - lens, ends)


def _record_schema_and_value(draw):
    """One flat record schema with a value matching it."""
    n_fields = draw(st.integers(min_value=1, max_value=6))
    names = draw(
        st.lists(_names, min_size=n_fields, max_size=n_fields, unique=True)
    )
    fields = []
    value = {}
    for name in names:
        kind = draw(
            st.sampled_from(
                ["long", "int", "string", "boolean", "opt_string",
                 "opt_long", "array_long", "map_string"]
            )
        )
        if kind == "long":
            fields.append({"name": name, "type": "long"})
            value[name] = draw(_longs)
        elif kind == "int":
            fields.append({"name": name, "type": "int"})
            value[name] = draw(_ints)
        elif kind == "string":
            fields.append({"name": name, "type": "string"})
            value[name] = draw(_strings)
        elif kind == "boolean":
            fields.append({"name": name, "type": "boolean"})
            value[name] = draw(_bools)
        elif kind == "opt_string":
            fields.append(
                {"name": name, "type": ["null", "string"], "default": None}
            )
            value[name] = draw(st.one_of(st.none(), _strings))
        elif kind == "opt_long":
            fields.append(
                {"name": name, "type": ["null", "long"], "default": None}
            )
            value[name] = draw(st.one_of(st.none(), _longs))
        elif kind == "array_long":
            fields.append(
                {"name": name, "type": {"type": "array", "items": "long"}}
            )
            value[name] = draw(st.lists(_longs, max_size=8))
        else:  # map_string
            fields.append(
                {"name": name, "type": {"type": "map", "values": "string"}}
            )
            value[name] = draw(
                st.dictionaries(_names, _strings, max_size=5)
            )
    return {"type": "record", "name": "rec", "fields": fields}, value


@st.composite
def _cases(draw):
    schema, proto = _record_schema_and_value(draw)
    n_records = draw(st.integers(min_value=0, max_value=5))
    records = [proto]
    for _ in range(n_records):
        _, v = _record_schema_and_value(draw)
        # regenerate values for the SAME schema by redrawing per field
        records.append(
            {
                f["name"]: _redraw(draw, f["type"])
                for f in schema["fields"]
            }
        )
    return schema, records


def _redraw(draw, ftype):
    if ftype == "long":
        return draw(_longs)
    if ftype == "int":
        return draw(_ints)
    if ftype == "string":
        return draw(_strings)
    if ftype == "boolean":
        return draw(_bools)
    if isinstance(ftype, list):  # [null, X]
        inner = next(t for t in ftype if t != "null")
        return draw(st.one_of(st.none(), st.just(None))) if draw(
            st.booleans()
        ) else _redraw(draw, inner)
    if ftype["type"] == "array":
        return draw(st.lists(_longs, max_size=8))
    if ftype["type"] == "map":
        return draw(st.dictionaries(_names, _strings, max_size=5))
    raise AssertionError(ftype)


@settings(max_examples=60, deadline=None)
@given(_cases())
def test_container_roundtrip(tmp_path_factory, case):
    schema, records = case
    path = str(tmp_path_factory.mktemp("avro") / "prop.avro")
    write_avro_container(path, schema, records, metadata={"k": "v"})
    assert read_avro_container(path) == records


@settings(max_examples=200, deadline=None)
@given(_longs)
def test_zigzag_varint_roundtrip(n):
    # decode the varint by hand (mirrors the reader's zigzag())
    data = _zigzag_encode(n)
    shift = u = 0
    for b in data:
        u |= (b & 0x7F) << shift
        shift += 7
    assert (u >> 1) ^ -(u & 1) == n


def test_malformed_datums_fail_loud_as_schema_errors():
    """Wire bytes are untrusted (/kafka/{t}/ingest feeds raw HTTP bodies
    here, Kafka drains feed the columnar decoder): every truncation and
    random corruption must surface as AvroSchemaError (-> HTTP 400),
    never IndexError/UnicodeDecodeError (-> 500) or a silently short
    value. The columnar decoder must fail on exactly the payloads
    decode_record fails on, and decode the rest to the same values."""
    import random

    import pytest

    from moonlink_spark.sources.avro_binary import (
        decode_record,
        encode_datum,
        row_for_spark,
    )
    from moonlink_spark.sources.converters import AvroSchemaError

    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "a", "type": "string"},
            {"name": "b", "type": "long"},
            {"name": "c", "type": {"type": "array", "items": "int"}},
            {"name": "d", "type": {"type": "map", "values": "string"}},
            {"name": "e", "type": {"type": "enum", "name": "E",
                                   "symbols": ["X", "Y"]}},
            {"name": "f", "type": "boolean"},
            {"name": "g", "type": "double"},
        ],
    }
    good = encode_datum(schema, {
        "a": "héllo", "b": 42, "c": [1, 2, 3], "d": {"k": "v"},
        "e": "Y", "f": True, "g": 1.5,
    })
    # the vectorized nullable-union and bytes kernels get their own corpus
    unions = {
        "type": "record", "name": "u", "fields": [
            {"name": "h", "type": ["null", "bytes"]},
            {"name": "i", "type": ["string", "null"]},
            {"name": "j", "type": ["null", "float"]},
        ],
    }
    unions_good = encode_datum(unions, {"h": b"\x00\xff", "i": "é", "j": 2.5})

    def check(schema: dict, payload: bytes) -> None:
        try:
            want = row_for_spark(schema, decode_record(schema, payload))
        except AvroSchemaError:
            with pytest.raises(AvroSchemaError):
                decode_payloads(schema, [payload])
            return
        got = decode_payloads(schema, [payload])
        assert {n: col.to_pylist()[0] for n, col in got.items()} == want

    short = {"type": "record", "name": "s", "fields": [
        {"name": "a", "type": "string"}, {"name": "b", "type": "long"}]}
    for payload, match in (
        (b"\x01", "truncated string"),  # string length -1 (zigzag 0x01)
        (b"\x00" + b"\xff" * 11 + b"\x01", "varint too long"),  # 12 bytes
    ):
        with pytest.raises(AvroSchemaError, match=match):
            decode_record(short, payload)
        with pytest.raises(AvroSchemaError, match=match):
            decode_payloads(short, [payload])
    for schema, good in ((schema, good), (unions, unions_good)):
        for i in range(1, len(good)):
            with pytest.raises(AvroSchemaError):
                decode_record(schema, good[:i])
            check(schema, good[:i])
        rng = random.Random(11)
        for _ in range(2000):
            b = bytearray(good)
            for _ in range(rng.randint(1, 5)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            if bytes(b) == good:
                continue
            check(schema, bytes(b))  # may still be a VALID datum
