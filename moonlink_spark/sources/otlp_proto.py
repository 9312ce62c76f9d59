"""OTLP/protobuf decoding: Export{Logs,Metrics,Trace}ServiceRequest bytes
-> the OTLP/JSON-shaped dicts the JSON row builders already consume.

Parity: the reference's OTEL endpoint is OTLP over HTTP **binary protobuf**
(``src/moonlink_service/src/otel/service.rs`` — ``Protocol::HttpBinary``,
``application/x-protobuf``, prost decode). This module implements the same
wire decoding jar-free: a descriptor-driven protobuf reader over the public
opentelemetry-proto message layout, emitting the OTLP/JSON field names
(camelCase, int64 as numbers, trace/span ids as hex, AnyValue bytes as
base64) so ``decode_otlp_logs/metrics/traces`` (sources/otel.py) work on
either encoding unchanged.

Only the standard protobuf wire format is used (varint / 64-bit / 32-bit /
length-delimited; packed and unpacked repeated scalars both accepted) —
no generated code, no protobuf runtime.
"""

from __future__ import annotations

import base64
import struct
from typing import Any

from moonlink_spark.sources.converters import (
    ProtoDecodeError,
    _enc_uvarint,
    _uvarint,
)

# --------------------------------------------------------------------------- #
# wire primitives
# --------------------------------------------------------------------------- #


def _fields(buf: bytes):
    """Yield (field_number, wire_type, raw) over a message body. raw is an
    int for wt 0 and bytes for wt 1/2/5. A length or fixed-width field
    that runs past the end of ``buf`` is a truncated body."""
    i = 0
    n = len(buf)
    while i < n:
        tag, i = _uvarint(buf, i)
        fnum, wt = tag >> 3, tag & 7
        if wt == 0:
            v, i = _uvarint(buf, i)
            yield fnum, wt, v
            continue
        if wt == 1:
            ln = 8
        elif wt == 5:
            ln = 4
        elif wt == 2:
            ln, i = _uvarint(buf, i)
        else:
            raise ValueError(f"unsupported wire type {wt}")
        if i + ln > n:
            raise ProtoDecodeError(
                f"truncated field {fnum}: need {ln} bytes at {i}, have {n - i}"
            )
        yield fnum, wt, buf[i:i + ln]
        i += ln


def _signed64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


# --------------------------------------------------------------------------- #
# descriptor-driven decode
# --------------------------------------------------------------------------- #
# descriptor: {field_number: (json_name, kind[, sub_descriptor])}
# kinds: string, bytes_hex, bytes_b64, varint (uint/enum), svarint (int64),
#        bool, double, fixed64, sfixed64, fixed32,
#        msg, rep_msg, rep_packed_fixed64, rep_packed_double


def _decode_msg(buf: bytes, desc: dict) -> dict[str, Any]:
    out: dict[str, Any] = {}
    for fnum, wt, raw in _fields(buf):
        spec = desc.get(fnum)
        if spec is None:
            continue  # unknown field: skip (forward compatibility)
        name, kind = spec[0], spec[1]
        if kind == "string":
            out[name] = raw.decode("utf-8")
        elif kind == "bytes_hex":
            out[name] = raw.hex()
        elif kind == "bytes_b64":
            out[name] = base64.b64encode(raw).decode("ascii")
        elif kind == "varint":
            out[name] = raw
        elif kind == "svarint":
            out[name] = _signed64(raw)
        elif kind == "bool":
            out[name] = bool(raw)
        elif kind == "double":
            out[name] = struct.unpack("<d", raw)[0]
        elif kind == "fixed64":
            out[name] = struct.unpack("<Q", raw)[0]
        elif kind == "sfixed64":
            out[name] = struct.unpack("<q", raw)[0]
        elif kind == "fixed32":
            out[name] = struct.unpack("<I", raw)[0]
        elif kind == "msg":
            out[name] = _decode_msg(raw, spec[2])
        elif kind == "rep_msg":
            out.setdefault(name, []).append(_decode_msg(raw, spec[2]))
        elif kind == "rep_packed_fixed64":
            vals = out.setdefault(name, [])
            if wt == 2:  # packed
                vals.extend(
                    struct.unpack(f"<{len(raw) // 8}Q", raw)
                )
            else:  # unpacked element
                vals.append(struct.unpack("<Q", raw)[0])
        elif kind == "rep_packed_double":
            vals = out.setdefault(name, [])
            if wt == 2:
                vals.extend(struct.unpack(f"<{len(raw) // 8}d", raw))
            else:
                vals.append(struct.unpack("<d", raw)[0])
        else:  # pragma: no cover
            raise ValueError(f"unknown kind {kind}")
    return out


# --------------------------------------------------------------------------- #
# opentelemetry-proto descriptors (public .proto field numbers)
# --------------------------------------------------------------------------- #

_ANY_VALUE: dict = {}  # filled below (recursive)
_KEY_VALUE = {1: ("key", "string"), 2: ("value", "msg", _ANY_VALUE)}
_ARRAY_VALUE = {1: ("values", "rep_msg", _ANY_VALUE)}
_KV_LIST = {1: ("values", "rep_msg", _KEY_VALUE)}
_ANY_VALUE.update(
    {
        1: ("stringValue", "string"),
        2: ("boolValue", "bool"),
        3: ("intValue", "svarint"),
        4: ("doubleValue", "double"),
        5: ("arrayValue", "msg", _ARRAY_VALUE),
        6: ("kvlistValue", "msg", _KV_LIST),
        7: ("bytesValue", "bytes_b64"),
    }
)

_RESOURCE = {
    1: ("attributes", "rep_msg", _KEY_VALUE),
    2: ("droppedAttributesCount", "varint"),
}
_SCOPE = {
    1: ("name", "string"),
    2: ("version", "string"),
    3: ("attributes", "rep_msg", _KEY_VALUE),
    4: ("droppedAttributesCount", "varint"),
}

_LOG_RECORD = {
    1: ("timeUnixNano", "fixed64"),
    2: ("severityNumber", "varint"),
    3: ("severityText", "string"),
    5: ("body", "msg", _ANY_VALUE),
    6: ("attributes", "rep_msg", _KEY_VALUE),
    7: ("droppedAttributesCount", "varint"),
    8: ("flags", "fixed32"),
    9: ("traceId", "bytes_hex"),
    10: ("spanId", "bytes_hex"),
    11: ("observedTimeUnixNano", "fixed64"),
}
_SCOPE_LOGS = {
    1: ("scope", "msg", _SCOPE),
    2: ("logRecords", "rep_msg", _LOG_RECORD),
    3: ("schemaUrl", "string"),
}
_RESOURCE_LOGS = {
    1: ("resource", "msg", _RESOURCE),
    2: ("scopeLogs", "rep_msg", _SCOPE_LOGS),
    3: ("schemaUrl", "string"),
}
_EXPORT_LOGS = {1: ("resourceLogs", "rep_msg", _RESOURCE_LOGS)}

_NUMBER_POINT = {
    7: ("attributes", "rep_msg", _KEY_VALUE),
    2: ("startTimeUnixNano", "fixed64"),
    3: ("timeUnixNano", "fixed64"),
    4: ("asDouble", "double"),
    6: ("asInt", "sfixed64"),
    8: ("flags", "varint"),
}
_HIST_POINT = {
    9: ("attributes", "rep_msg", _KEY_VALUE),
    2: ("startTimeUnixNano", "fixed64"),
    3: ("timeUnixNano", "fixed64"),
    4: ("count", "fixed64"),
    5: ("sum", "double"),
    6: ("bucketCounts", "rep_packed_fixed64"),
    7: ("explicitBounds", "rep_packed_double"),
    10: ("flags", "varint"),
    11: ("min", "double"),
    12: ("max", "double"),
}
_GAUGE = {1: ("dataPoints", "rep_msg", _NUMBER_POINT)}
_SUM = {
    1: ("dataPoints", "rep_msg", _NUMBER_POINT),
    2: ("aggregationTemporality", "varint"),
    3: ("isMonotonic", "bool"),
}
_HISTOGRAM = {
    1: ("dataPoints", "rep_msg", _HIST_POINT),
    2: ("aggregationTemporality", "varint"),
}
_METRIC = {
    1: ("name", "string"),
    2: ("description", "string"),
    3: ("unit", "string"),
    5: ("gauge", "msg", _GAUGE),
    7: ("sum", "msg", _SUM),
    9: ("histogram", "msg", _HISTOGRAM),
}
_SCOPE_METRICS = {
    1: ("scope", "msg", _SCOPE),
    2: ("metrics", "rep_msg", _METRIC),
    3: ("schemaUrl", "string"),
}
_RESOURCE_METRICS = {
    1: ("resource", "msg", _RESOURCE),
    2: ("scopeMetrics", "rep_msg", _SCOPE_METRICS),
    3: ("schemaUrl", "string"),
}
_EXPORT_METRICS = {1: ("resourceMetrics", "rep_msg", _RESOURCE_METRICS)}

_STATUS = {2: ("message", "string"), 3: ("code", "varint")}
_SPAN_EVENT = {
    1: ("timeUnixNano", "fixed64"),
    2: ("name", "string"),
    3: ("attributes", "rep_msg", _KEY_VALUE),
    4: ("droppedAttributesCount", "varint"),
}
_SPAN = {
    1: ("traceId", "bytes_hex"),
    2: ("spanId", "bytes_hex"),
    3: ("traceState", "string"),
    4: ("parentSpanId", "bytes_hex"),
    5: ("name", "string"),
    6: ("kind", "varint"),
    7: ("startTimeUnixNano", "fixed64"),
    8: ("endTimeUnixNano", "fixed64"),
    9: ("attributes", "rep_msg", _KEY_VALUE),
    10: ("droppedAttributesCount", "varint"),
    11: ("events", "rep_msg", _SPAN_EVENT),
    15: ("status", "msg", _STATUS),
}
_SCOPE_SPANS = {
    1: ("scope", "msg", _SCOPE),
    2: ("spans", "rep_msg", _SPAN),
    3: ("schemaUrl", "string"),
}
_RESOURCE_SPANS = {
    1: ("resource", "msg", _RESOURCE),
    2: ("scopeSpans", "rep_msg", _SCOPE_SPANS),
    3: ("schemaUrl", "string"),
}
_EXPORT_TRACES = {1: ("resourceSpans", "rep_msg", _RESOURCE_SPANS)}

_REQUESTS = {
    "logs": _EXPORT_LOGS,
    "metrics": _EXPORT_METRICS,
    "traces": _EXPORT_TRACES,
}


def otlp_proto_to_json(signal: str, data: bytes) -> dict[str, Any]:
    """Decode an OTLP export-request protobuf for ``signal``
    (logs|metrics|traces) into the OTLP/JSON dict shape.

    The body is an untrusted HTTP payload: any parse failure surfaces
    as ProtoDecodeError (a MoonlinkError, -> HTTP 400), never a raw
    ValueError/IndexError the service would answer 500 for."""
    desc = _REQUESTS.get(signal)
    if desc is None:
        raise ProtoDecodeError(f"unknown otlp signal {signal!r}")
    try:
        return _decode_msg(data, desc)
    except ProtoDecodeError:
        raise
    except (ValueError, IndexError, TypeError, KeyError, struct.error) as e:
        raise ProtoDecodeError(f"malformed OTLP {signal} protobuf: {e}") from e


# --------------------------------------------------------------------------- #
# encoder (tests + clients): OTLP/JSON dict -> protobuf bytes
# --------------------------------------------------------------------------- #


def _tag(fnum: int, wt: int) -> bytes:
    return _enc_uvarint((fnum << 3) | wt)


def _encode_msg(value: dict, desc: dict) -> bytes:
    out = bytearray()
    by_name = {spec[0]: (fnum, spec) for fnum, spec in desc.items()}
    for name, v in value.items():
        if v is None or name not in by_name:
            continue
        fnum, spec = by_name[name]
        kind = spec[1]
        if kind == "string":
            b = str(v).encode()
            out += _tag(fnum, 2) + _enc_uvarint(len(b)) + b
        elif kind == "bytes_hex":
            b = bytes.fromhex(v)
            out += _tag(fnum, 2) + _enc_uvarint(len(b)) + b
        elif kind == "bytes_b64":
            b = base64.b64decode(v)
            out += _tag(fnum, 2) + _enc_uvarint(len(b)) + b
        elif kind == "varint":
            out += _tag(fnum, 0) + _enc_uvarint(int(v))
        elif kind == "svarint":
            out += _tag(fnum, 0) + _enc_uvarint(int(v) & ((1 << 64) - 1))
        elif kind == "bool":
            out += _tag(fnum, 0) + _enc_uvarint(1 if v else 0)
        elif kind == "double":
            out += _tag(fnum, 1) + struct.pack("<d", float(v))
        elif kind == "fixed64":
            out += _tag(fnum, 1) + struct.pack("<Q", int(v))
        elif kind == "sfixed64":
            out += _tag(fnum, 1) + struct.pack("<q", int(v))
        elif kind == "fixed32":
            out += _tag(fnum, 5) + struct.pack("<I", int(v))
        elif kind == "msg":
            b = _encode_msg(v, spec[2])
            out += _tag(fnum, 2) + _enc_uvarint(len(b)) + b
        elif kind == "rep_msg":
            for item in v:
                b = _encode_msg(item, spec[2])
                out += _tag(fnum, 2) + _enc_uvarint(len(b)) + b
        elif kind == "rep_packed_fixed64":
            b = struct.pack(f"<{len(v)}Q", *[int(x) for x in v])
            out += _tag(fnum, 2) + _enc_uvarint(len(b)) + b
        elif kind == "rep_packed_double":
            b = struct.pack(f"<{len(v)}d", *[float(x) for x in v])
            out += _tag(fnum, 2) + _enc_uvarint(len(b)) + b
        else:  # pragma: no cover
            raise ValueError(f"unknown kind {kind}")
    return bytes(out)


def otlp_json_to_proto(signal: str, payload: dict) -> bytes:
    """Encode an OTLP/JSON-shaped dict as the export-request protobuf
    (the client/test-side inverse of ``otlp_proto_to_json``)."""
    desc = _REQUESTS.get(signal)
    if desc is None:
        raise ValueError(f"unknown otlp signal {signal!r}")
    return _encode_msg(payload, desc)
