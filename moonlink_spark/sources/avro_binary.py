"""Pure-Python Avro binary datum codec (jar-free Kafka/Avro path).

Parity: the reference's Kafka ingestion decodes Avro datums into rows
(``rest_ingest/avro_converter.rs:28-104`` maps AvroValue -> RowValue;
``:115-190`` maps the schema). The schema side already exists jar-free
(``sources/converters.avro_schema_to_struct``); this module adds the
VALUE side — encode/decode of single Avro datums per the public Avro
1.11 binary encoding spec — so an Avro event feed can flow to a table
without the spark-avro jar (which is absent in this environment; on a
real cluster ``from_avro`` can take over the hot path with this module
as the schema-compatible fallback and test oracle).

Python value mapping mirrors ``avro_schema_to_struct``'s Spark types:
timestamp-micros/millis -> naive-UTC datetime, date -> datetime.date,
decimal(bytes) -> Decimal, uuid -> str, time-* -> int µs, map ->
{str: v} (the schema side models it as array<struct<key,value>>, so
``row_for_spark`` converts), union -> the value itself.
"""

from __future__ import annotations

import datetime as dt
import json
import struct
from decimal import Decimal
from typing import Any

from moonlink_spark.sources.converters import AvroSchemaError

_EPOCH = dt.datetime(1970, 1, 1)
_EPOCH_DATE = dt.date(1970, 1, 1)


# --------------------------------------------------------------------------- #
# primitives
# --------------------------------------------------------------------------- #


def _zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    """Zigzag varint -> (int64 value, new position). An Avro long is at
    most 10 bytes, and the 10th carries one bit: a wider varint is no
    64-bit value and raises."""
    shift = u = 0
    while True:
        if pos >= len(buf):
            raise AvroSchemaError("truncated varint")
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 63:
            raise AvroSchemaError("varint too long")
    if u >> 64:
        raise AvroSchemaError("varint too long")
    return (u >> 1) ^ -(u & 1), pos


def _utf8(raw: bytes, what: str) -> str:
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError as e:
        raise AvroSchemaError(f"invalid UTF-8 in {what}: {e}") from e


def _take(buf: bytes, pos: int, n: int, what: str) -> tuple[bytes, int]:
    """Bounds-checked slice: wire bytes are untrusted, so a length that
    lies (negative, or past the end) is a malformed datum — never a
    silent short slice."""
    if n < 0 or pos + n > len(buf):
        raise AvroSchemaError(
            f"truncated {what}: need {n} bytes at {pos}, have {len(buf) - pos}"
        )
    return buf[pos:pos + n], pos + n


# --------------------------------------------------------------------------- #
# decode
# --------------------------------------------------------------------------- #


def _logical(schema: dict) -> str | None:
    return schema.get("logicalType") if isinstance(schema, dict) else None


def decode_datum(schema: Any, buf: bytes, pos: int = 0) -> tuple[Any, int]:
    """One Avro datum at ``buf[pos:]`` -> (python value, new position)."""
    if isinstance(schema, str):
        schema = {"type": schema}
    if isinstance(schema, list):  # union: branch index prefix
        idx, pos = _zigzag_decode(buf, pos)
        if idx < 0 or idx >= len(schema):
            raise AvroSchemaError(f"union branch {idx} out of range")
        return decode_datum(schema[idx], buf, pos)
    t = schema["type"]
    if isinstance(t, (dict, list)):  # nested named/union type
        return decode_datum(t, buf, pos)
    lt = _logical(schema)
    if t == "null":
        return None, pos
    if t == "boolean":
        raw, pos = _take(buf, pos, 1, "boolean")
        return raw[0] != 0, pos
    if t in ("int", "long"):
        v, pos = _zigzag_decode(buf, pos)
        if (t == "int" or lt == "date") and not -(2**31) <= v < 2**31:
            raise AvroSchemaError(f"int {v} out of range")
        if lt in ("timestamp-micros", "local-timestamp-micros"):
            return _EPOCH + dt.timedelta(microseconds=v), pos
        if lt in ("timestamp-millis", "local-timestamp-millis"):
            return _EPOCH + dt.timedelta(milliseconds=v), pos
        if lt == "date":
            return _EPOCH_DATE + dt.timedelta(days=v), pos
        if lt == "time-millis":
            return v * 1000, pos  # canonical µs-since-midnight int64
        return v, pos
    if t == "float":
        raw, pos = _take(buf, pos, 4, "float")
        return struct.unpack("<f", raw)[0], pos
    if t == "double":
        raw, pos = _take(buf, pos, 8, "double")
        return struct.unpack("<d", raw)[0], pos
    if t in ("bytes", "string"):
        n, pos = _zigzag_decode(buf, pos)
        raw, pos = _take(buf, pos, n, t)
        if t == "string":
            return _utf8(raw, "string"), pos
        if lt == "decimal":
            unscaled = int.from_bytes(raw, "big", signed=True)
            return Decimal(unscaled).scaleb(-schema.get("scale", 0)), pos
        return bytes(raw), pos
    if t == "fixed":
        raw, pos = _take(buf, pos, schema["size"], "fixed")
        raw = bytes(raw)
        n = len(raw)
        if lt == "decimal":
            unscaled = int.from_bytes(raw, "big", signed=True)
            return Decimal(unscaled).scaleb(-schema.get("scale", 0)), pos
        if lt == "uuid" or n == 16:
            import uuid as _uuid

            return str(_uuid.UUID(bytes=raw)), pos
        return raw, pos
    if t == "enum":
        idx, pos = _zigzag_decode(buf, pos)
        symbols = schema["symbols"]
        if idx < 0 or idx >= len(symbols):
            raise AvroSchemaError(f"enum index {idx} out of range")
        return symbols[idx], pos
    if t == "record":
        out = {}
        for f in schema["fields"]:
            out[f["name"]], pos = decode_datum(f["type"], buf, pos)
        return out, pos
    if t == "array":
        items = []
        while True:
            n, pos = _zigzag_decode(buf, pos)
            if n == 0:
                return items, pos
            if n < 0:  # block with byte-size prefix
                n = -n
                _, pos = _zigzag_decode(buf, pos)
            for _ in range(n):
                v, pos = decode_datum(schema["items"], buf, pos)
                items.append(v)
    if t == "map":
        out = {}
        while True:
            n, pos = _zigzag_decode(buf, pos)
            if n == 0:
                return out, pos
            if n < 0:
                n = -n
                _, pos = _zigzag_decode(buf, pos)
            for _ in range(n):
                klen, pos = _zigzag_decode(buf, pos)
                raw_k, pos = _take(buf, pos, klen, "map key")
                out[_utf8(raw_k, "map key")], pos = decode_datum(
                    schema["values"], buf, pos
                )
    raise AvroSchemaError(f"unsupported avro type {t!r}")


def decode_record(schema: str | dict, data: bytes) -> dict[str, Any]:
    """Whole-datum convenience: record schema + bytes -> row dict.
    Rejects trailing garbage (a framing bug upstream, not valid data)."""
    node = json.loads(schema) if isinstance(schema, str) else schema
    value, pos = decode_datum(node, data, 0)
    if pos != len(data):
        raise AvroSchemaError(
            f"trailing {len(data) - pos} bytes after datum (framing bug?)"
        )
    return value


# --------------------------------------------------------------------------- #
# encode (fixtures, tests, and the producer side of the file queue)
# --------------------------------------------------------------------------- #


def encode_datum(schema: Any, value: Any) -> bytes:
    if isinstance(schema, str):
        schema = {"type": schema}
    if isinstance(schema, list):  # union: pick the first matching branch
        for i, branch in enumerate(schema):
            bt = branch if isinstance(branch, str) else branch.get("type")
            if value is None and bt == "null":
                return _zigzag_encode(i)
            if value is not None and bt != "null":
                return _zigzag_encode(i) + encode_datum(branch, value)
        raise AvroSchemaError(f"no union branch for {value!r} in {schema!r}")
    t = schema["type"]
    if isinstance(t, (dict, list)):
        return encode_datum(t, value)
    lt = _logical(schema)
    if t == "null":
        return b""
    if t == "boolean":
        return b"\x01" if value else b"\x00"
    if t in ("int", "long"):
        if lt in ("timestamp-micros", "local-timestamp-micros"):
            value = round((value - _EPOCH).total_seconds() * 1e6)
        elif lt in ("timestamp-millis", "local-timestamp-millis"):
            value = round((value - _EPOCH).total_seconds() * 1e3)
        elif lt == "date" and isinstance(value, dt.date):
            value = (value - _EPOCH_DATE).days
        return _zigzag_encode(int(value))
    if t == "float":
        return struct.pack("<f", value)
    if t == "double":
        return struct.pack("<d", value)
    if t == "string":
        raw = value.encode("utf-8")
        return _zigzag_encode(len(raw)) + raw
    if t == "bytes":
        if lt == "decimal":
            scale = schema.get("scale", 0)
            unscaled = int(Decimal(value).scaleb(scale))
            n = max(1, (unscaled.bit_length() + 8) // 8)
            raw = unscaled.to_bytes(n, "big", signed=True)
        else:
            raw = bytes(value)
        return _zigzag_encode(len(raw)) + raw
    if t == "fixed":
        raw = bytes(value)
        if len(raw) != schema["size"]:
            raise AvroSchemaError("fixed size mismatch")
        return raw
    if t == "enum":
        return _zigzag_encode(schema["symbols"].index(value))
    if t == "record":
        return b"".join(
            encode_datum(f["type"], value.get(f["name"]))
            for f in schema["fields"]
        )
    if t == "array":
        if not value:
            return _zigzag_encode(0)
        body = b"".join(encode_datum(schema["items"], v) for v in value)
        return _zigzag_encode(len(value)) + body + _zigzag_encode(0)
    if t == "map":
        if not value:
            return _zigzag_encode(0)
        body = b""
        for k, v in value.items():
            raw = k.encode("utf-8")
            body += _zigzag_encode(len(raw)) + raw
            body += encode_datum(schema["values"], v)
        return _zigzag_encode(len(value)) + body + _zigzag_encode(0)
    raise AvroSchemaError(f"unsupported avro type {t!r}")


def fix_datum_for_spark(field_schema: Any, v: Any) -> Any:
    """One decoded Avro value -> ``avro_schema_to_struct``'s Spark shape:
    maps become array<struct<key,value>> rows, nested records align to
    their field list. Shared by the row path (``row_for_spark``) and the
    columnar Arrow path's complex-field fallback so both produce
    byte-identical shapes."""
    if isinstance(field_schema, str):
        return v
    if isinstance(field_schema, list):
        for branch in field_schema:
            bt = branch if isinstance(branch, str) else branch.get("type")
            if v is None and bt == "null":
                return None
            if v is not None and bt != "null":
                return fix_datum_for_spark(branch, v)
        return v
    t = field_schema.get("type")
    if isinstance(t, (dict, list)):
        return fix_datum_for_spark(t, v)
    if t == "map" and isinstance(v, dict):
        return [
            {"key": k, "value": fix_datum_for_spark(field_schema["values"], x)}
            for k, x in sorted(v.items())
        ]
    if t == "record" and isinstance(v, dict):
        return {
            f["name"]: fix_datum_for_spark(f["type"], v.get(f["name"]))
            for f in field_schema["fields"]
        }
    if t == "array" and isinstance(v, list):
        return [fix_datum_for_spark(field_schema["items"], x) for x in v]
    return v


def row_for_spark(schema: str | dict, row: dict[str, Any]) -> dict[str, Any]:
    """Align a decoded row with ``avro_schema_to_struct``'s shape: Avro
    maps become array<struct<key,value>> (the reference models PG/OTEL
    key-values the same way — no MapType anywhere, SURVEY §1.1)."""
    node = json.loads(schema) if isinstance(schema, str) else schema
    return fix_datum_for_spark(node, row)
