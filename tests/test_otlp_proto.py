"""OTLP/protobuf decoding (parity otel/service.rs HttpBinary): the wire
decoder produces the OTLP/JSON shapes, proto and JSON ingestion land
identical rows, and the codec round-trips."""

import json
import urllib.request

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from moonlink_spark.backend import MoonlinkBackend
from moonlink_spark.service import MoonlinkService
from moonlink_spark.sources.otel import (
    decode_otlp_logs,
    decode_otlp_metrics,
    decode_otlp_traces,
)
from moonlink_spark.sources.otlp_proto import (
    otlp_json_to_proto,
    otlp_proto_to_json,
)

LOGS_JSON = {
    "resourceLogs": [
        {
            "resource": {
                "attributes": [
                    {"key": "service.name", "value": {"stringValue": "cart"}}
                ]
            },
            "scopeLogs": [
                {
                    "scope": {"name": "lib", "version": "1.0"},
                    "logRecords": [
                        {
                            "timeUnixNano": 1700000000000000000,
                            "severityText": "INFO",
                            "body": {"stringValue": "hello"},
                            "attributes": [
                                {"key": "retries", "value": {"intValue": 3}},
                                {"key": "ok", "value": {"boolValue": True}},
                                {"key": "ratio", "value": {"doubleValue": 0.5}},
                            ],
                            "traceId": "0102030405060708090a0b0c0d0e0f10",
                            "spanId": "0102030405060708",
                        }
                    ],
                }
            ],
        }
    ]
}

METRICS_JSON = {
    "resourceMetrics": [
        {
            # note: no "attributes": [] here — empty repeated fields are
            # indistinguishable from absent on the protobuf wire
            "resource": {},
            "scopeMetrics": [
                {
                    "scope": {"name": "m"},
                    "metrics": [
                        {
                            "name": "latency",
                            "unit": "ms",
                            "histogram": {
                                "aggregationTemporality": 2,
                                "dataPoints": [
                                    {
                                        "timeUnixNano": 1700000000000000000,
                                        "count": 10,
                                        "sum": 123.5,
                                        "min": 1.0,
                                        "max": 50.0,
                                        "bucketCounts": [1, 4, 5],
                                        "explicitBounds": [5.0, 25.0],
                                    }
                                ],
                            },
                        },
                        {
                            "name": "reqs",
                            "sum": {
                                "aggregationTemporality": 1,
                                "isMonotonic": True,
                                "dataPoints": [
                                    {
                                        "timeUnixNano": 1700000000000000001,
                                        "asInt": -7,
                                    }
                                ],
                            },
                        },
                        {
                            "name": "temp",
                            "gauge": {
                                "dataPoints": [
                                    {
                                        "timeUnixNano": 1700000000000000002,
                                        "asDouble": 21.5,
                                    }
                                ]
                            },
                        },
                    ],
                }
            ],
        }
    ]
}

TRACES_JSON = {
    "resourceSpans": [
        {
            "resource": {
                "attributes": [
                    {"key": "service.name", "value": {"stringValue": "api"}}
                ]
            },
            "scopeSpans": [
                {
                    "scope": {"name": "tracer"},
                    "spans": [
                        {
                            "traceId": "0102030405060708090a0b0c0d0e0f10",
                            "spanId": "1112131415161718",
                            "parentSpanId": "2122232425262728",
                            "name": "GET /x",
                            "kind": 2,
                            "startTimeUnixNano": 1700000000000000000,
                            "endTimeUnixNano": 1700000000000001000,
                            "attributes": [
                                {"key": "http.status", "value": {"intValue": 200}}
                            ],
                            "status": {"code": 1, "message": "ok"},
                        }
                    ],
                }
            ],
        }
    ]
}


@pytest.mark.parametrize(
    "signal,payload,decode",
    [
        ("logs", LOGS_JSON, decode_otlp_logs),
        ("metrics", METRICS_JSON, decode_otlp_metrics),
        ("traces", TRACES_JSON, decode_otlp_traces),
    ],
)
def test_proto_and_json_decode_identical_rows(signal, payload, decode):
    pb = otlp_json_to_proto(signal, payload)
    assert isinstance(pb, bytes) and len(pb) > 0
    back = otlp_proto_to_json(signal, pb)
    assert decode(back) == decode(payload)


def test_metrics_wire_details():
    """sfixed64 asInt is sign-correct; packed fixed64/double decode."""
    pb = otlp_json_to_proto("metrics", METRICS_JSON)
    back = otlp_proto_to_json("metrics", pb)
    rows = decode_otlp_metrics(back)
    by_name = {r["metric_name"]: r for r in rows}
    assert by_name["reqs"]["number_int"] == -7
    assert by_name["latency"]["bucket_counts"] == [1, 4, 5]
    assert by_name["latency"]["explicit_bounds"] == [5.0, 25.0]
    assert by_name["latency"]["hist_sum"] == 123.5


def test_unknown_fields_skipped():
    # a future field (number 200) must be ignored, not fatal
    from moonlink_spark.sources.otlp_proto import _enc_uvarint, _tag

    pb = otlp_json_to_proto("logs", LOGS_JSON)
    extra = _tag(200, 2) + _enc_uvarint(3) + b"xyz"
    assert otlp_proto_to_json("logs", pb + extra) == otlp_proto_to_json("logs", pb)


@settings(max_examples=50, deadline=None)
@given(
    n=st.integers(0, 5),
    sev=st.text(min_size=0, max_size=8),
    t=st.integers(0, 2**63 - 1),
    iv=st.integers(-(2**62), 2**62),
)
def test_log_roundtrip_property(n, sev, t, iv):
    payload = {
        "resourceLogs": [
            {
                "scopeLogs": [
                    {
                        "logRecords": [
                            {
                                "timeUnixNano": t,
                                "severityText": sev,
                                "body": {"intValue": iv},
                            }
                        ]
                        * n
                    }
                ]
            }
        ]
    }
    back = otlp_proto_to_json("logs", otlp_json_to_proto("logs", payload))
    assert decode_otlp_logs(back) == decode_otlp_logs(payload)


def test_service_accepts_protobuf_content_type(spark, tmp_path):
    be = MoonlinkBackend(spark, str(tmp_path / "wh"))
    svc = MoonlinkService(be).start()
    try:
        pb = otlp_json_to_proto("logs", LOGS_JSON)
        req = urllib.request.Request(
            f"http://127.0.0.1:{svc.port}/otel/v1/logs", data=pb, method="POST"
        )
        req.add_header("Content-Type", "application/x-protobuf")
        with urllib.request.urlopen(req) as resp:
            out = json.loads(resp.read())
        assert out["ingested"] == 1 and out["table"] == "otel.logs"
        # JSON ingestion still works side by side
        req2 = urllib.request.Request(
            f"http://127.0.0.1:{svc.port}/otel/v1/logs",
            data=json.dumps(LOGS_JSON).encode(),
            method="POST",
        )
        req2.add_header("Content-Type", "application/json")
        with urllib.request.urlopen(req2) as resp:
            out2 = json.loads(resp.read())
        assert out2["ingested"] == 1
        t = be.get_table("otel", "logs")
        rows = t.scan().select("severity_text", "time_unix_nano").collect()
        assert len(rows) == 2
        assert {r.severity_text for r in rows} == {"INFO"}
    finally:
        svc.stop()


def test_malformed_protobuf_fails_as_proto_decode_error():
    """OTLP/HTTP bodies are untrusted: garbage must fail as
    ProtoDecodeError (-> HTTP 400), never raw ValueError/IndexError
    (-> 500). Fuzz across all three signals (review finding r9)."""
    import random

    from moonlink_spark.sources.converters import ProtoDecodeError
    from moonlink_spark.sources.otlp_proto import otlp_proto_to_json

    rng = random.Random(3)
    for _ in range(1500):
        data = bytes(rng.randrange(256) for _ in range(rng.randint(1, 80)))
        for sig in ("logs", "metrics", "traces"):
            try:
                otlp_proto_to_json(sig, data)  # garbage CAN parse as empty
            except ProtoDecodeError:
                pass  # the only acceptable failure type


TRUNCATED_JSON = {
    "resourceLogs": [
        {
            "scopeLogs": [
                {"logRecords": [{"body": {"stringValue": "hello world payload"}}]}
            ]
        }
    ]
}


def test_truncated_protobuf_body_is_rejected(spark, tmp_path):
    """A body cut short is malformed, not a shorter message: every
    non-empty strict prefix of a one-``resourceLogs`` body raises
    ProtoDecodeError (the empty body is a valid empty request), and the
    service answers it with HTTP 400 and ingests nothing."""
    import urllib.error

    from moonlink_spark.sources.converters import ProtoDecodeError

    pb = otlp_json_to_proto("logs", TRUNCATED_JSON)
    assert otlp_proto_to_json("logs", pb) == TRUNCATED_JSON
    for n in range(1, len(pb)):
        with pytest.raises(ProtoDecodeError):
            otlp_proto_to_json("logs", pb[:n])

    be = MoonlinkBackend(spark, str(tmp_path / "wh"))
    svc = MoonlinkService(be).start()

    def post(body):
        req = urllib.request.Request(
            f"http://127.0.0.1:{svc.port}/otel/v1/logs", data=body, method="POST"
        )
        req.add_header("Content-Type", "application/x-protobuf")
        return urllib.request.urlopen(req)

    try:
        for cut in (1, 3, 5):
            with pytest.raises(urllib.error.HTTPError) as err:
                post(pb[:-cut])
            assert err.value.code == 400
        # only the whole body lands a row
        with post(pb) as resp:
            assert json.loads(resp.read())["ingested"] == 1
        assert be.get_table("otel", "logs").scan().count() == 1
    finally:
        svc.stop()
