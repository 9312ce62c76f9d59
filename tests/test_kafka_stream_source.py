"""Structured Streaming over the Kafka wire broker: readStream =
offset-range micro-batches spoken in the Kafka protocol with Spark's
checkpoint as the offset manager (parity: the reference's Kafka feed
consumed as a stream, rest_api.rs:418-419)."""

import json

import pytest

from moonlink_spark.integrations.spark_datasource import (
    register_moonlink_source,
)
from moonlink_spark.sources.avro_binary import encode_datum
from moonlink_spark.sources.kafka_wire import KafkaWireBroker, KafkaWireProducer

SCHEMA = {
    "type": "record",
    "name": "e",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "v", "type": "string"},
    ],
}


@pytest.fixture()
def broker(tmp_path):
    b = KafkaWireBroker(str(tmp_path / "kafka-logs")).start()
    yield b
    b.stop()


def _produce(broker, lo, hi):
    prod = KafkaWireProducer(broker.host, broker.port)
    prod.send(
        "ev",
        [
            (str(i).encode(), encode_datum(SCHEMA, {"id": i, "v": f"v{i}"}))
            for i in range(lo, hi)
        ],
    )
    prod.close()


def _reader(spark, broker, **opts):
    r = (
        spark.readStream.format("moonlink-kafka")
        .option("host", broker.host)
        .option("port", broker.port)
        .option("topic", "ev")
    )
    for k, v in opts.items():
        r = r.option(k, v)
    return r


def test_raw_stream_reads_all_messages(spark, broker):
    register_moonlink_source(spark)
    _produce(broker, 0, 25)
    q = (
        _reader(spark, broker)
        .load()
        .writeStream.format("memory")
        .queryName("kraw")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM kraw").collect()
    assert len(rows) == 25
    assert sorted(r["offset"] for r in rows) == list(range(25))
    assert rows[0]["key"] is not None and rows[0]["value"] is not None


def test_avro_decoded_stream_and_checkpoint_resume(spark, broker, tmp_path):
    """valueAvroSchema promotes record fields to columns; a second run on
    the SAME checkpoint resumes at the stored offset — the table sink
    (which supports checkpoint recovery, unlike the memory sink) holds
    exactly one copy of every message."""
    from moonlink_spark.table.identity import IdentityProp
    from moonlink_spark.table.table import MoonlinkTable

    register_moonlink_source(spark)
    _produce(broker, 0, 10)
    ckpt = str(tmp_path / "ckpt")
    path = str(tmp_path / "t")
    MoonlinkTable.create(
        spark,
        path,
        [
            {"name": "id", "data_type": "int64", "nullable": False},
            {"name": "v", "data_type": "string"},
        ],
        IdentityProp.none(),  # the stream sink is the append-only leg
    )

    def run_once():
        q = (
            _reader(spark, broker, valueAvroSchema=json.dumps(SCHEMA))
            .load()
            .selectExpr("id", "v")
            .writeStream.format("moonlink")
            .option("path", path)
            .option("checkpointLocation", ckpt)
            .option("queryId", "kafka-resume")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return {
            (r["id"], r["v"])
            for r in MoonlinkTable.open(spark, path).scan().collect()
        }

    assert run_once() == {(i, f"v{i}") for i in range(10)}

    _produce(broker, 10, 15)
    # same checkpoint: only the tail is appended, nothing re-read
    assert run_once() == {(i, f"v{i}") for i in range(15)}


def test_starting_offsets_latest_and_explicit(spark, broker):
    register_moonlink_source(spark)
    _produce(broker, 0, 8)
    # latest: nothing to read at start time
    q = (
        _reader(spark, broker, startingOffsets="latest")
        .load()
        .writeStream.format("memory")
        .queryName("klat")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert spark.sql("SELECT * FROM klat").count() == 0
    # explicit integer offset
    q2 = (
        _reader(spark, broker, startingOffsets="5")
        .load()
        .writeStream.format("memory")
        .queryName("kexp")
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(120)
    assert sorted(
        r["offset"] for r in spark.sql("SELECT * FROM kexp").collect()
    ) == [5, 6, 7]


def test_kafka_to_moonlink_table_pipeline(spark, broker, tmp_path):
    """The full streaming shape a reference user runs: Kafka feed ->
    decoded columns -> moonlink table sink, exactly-once per batch id."""
    from moonlink_spark.table.identity import IdentityProp
    from moonlink_spark.table.table import MoonlinkTable

    register_moonlink_source(spark)
    _produce(broker, 0, 30)
    path = str(tmp_path / "t")
    MoonlinkTable.create(
        spark,
        path,
        [
            {"name": "id", "data_type": "int64", "nullable": False},
            {"name": "v", "data_type": "string"},
        ],
        IdentityProp.none(),  # the stream sink requires append-only
    )
    q = (
        _reader(spark, broker, valueAvroSchema=json.dumps(SCHEMA))
        .load()
        .selectExpr("id", "v")
        .writeStream.format("moonlink")
        .option("path", path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("queryId", "kafka-pipe")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    t = MoonlinkTable.open(spark, path)
    got = {(r["id"], r["v"]) for r in t.scan().collect()}
    assert got == {(i, f"v{i}") for i in range(30)}


def test_multi_partition_stream(spark, broker, tmp_path):
    """partitions="0,1,2": offsets checkpoint per partition and one
    micro-batch covers every partition's new range."""
    prod = KafkaWireProducer(broker.host, broker.port)
    for i in range(30):
        prod.send(
            "ev",
            [(str(i).encode(), encode_datum(SCHEMA, {"id": i, "v": f"v{i}"}))],
            partition=i % 3,
        )
    prod.close()
    register_moonlink_source(spark)
    q = (
        _reader(spark, broker, partitions="0,1,2",
                valueAvroSchema=json.dumps(SCHEMA))
        .load()
        .writeStream.format("memory")
        .queryName("kmp")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM kmp").collect()
    assert {r["id"] for r in rows} == set(range(30))
    per_part = {}
    for r in rows:
        per_part.setdefault(r["partition"], []).append(r["offset"])
    assert set(per_part) == {0, 1, 2}
    for offs in per_part.values():
        assert sorted(offs) == list(range(10))  # per-partition offsets


def test_sasl_stream_source_end_to_end(spark, tmp_path):
    """The streaming source authenticates its executor-side sockets via
    SASL/PLAIN options (the path the serialized reader carries to
    tasks — regression: the reader once dropped its options dict and
    died on first latestOffset)."""
    b = KafkaWireBroker(
        str(tmp_path / "kafka-sasl-logs"),
        sasl_credentials={"svc": "pw"},
    ).start()
    try:
        register_moonlink_source(spark)
        prod = KafkaWireProducer(b.host, b.port, sasl_plain=("svc", "pw"))
        prod.send(
            "ev",
            [
                (str(i).encode(), encode_datum(SCHEMA, {"id": i, "v": f"v{i}"}))
                for i in range(10)
            ],
        )
        prod.close()
        q = (
            _reader(spark, b, saslUsername="svc", saslPassword="pw")
            .load()
            .writeStream.format("memory")
            .queryName("ksasl")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM ksasl").collect()
        assert sorted(r["offset"] for r in rows) == list(range(10))
    finally:
        b.stop()


RICH_STREAM_SCHEMA = {
    "type": "record",
    "name": "rich",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "v", "type": ["null", "string"], "default": None},
        {
            "name": "ts",
            "type": {"type": "long", "logicalType": "timestamp-micros"},
        },
        {"name": "props", "type": {"type": "map", "values": "long"}},
    ],
}


def test_stream_decode_matches_interpretive_rows(spark, broker):
    """The stream reader's Arrow-batched columnar decode must produce
    the rows the interpretive decoder gives — decode_record plus
    row_for_spark, computed here as the reference — including a
    tombstone (skipped) and a map field (columnar fallback +
    array<struct<key,value>> shape)."""
    import datetime as dt

    from moonlink_spark.sources.avro_binary import decode_record, row_for_spark

    register_moonlink_source(spark)
    prod = KafkaWireProducer(broker.host, broker.port)
    msgs = [
        (
            str(i).encode(),
            encode_datum(
                RICH_STREAM_SCHEMA,
                {
                    "id": i,
                    "v": None if i % 3 == 0 else f"v{i}",
                    "ts": dt.datetime(2024, 5, 1)
                    + dt.timedelta(seconds=i, microseconds=7 * i),
                    "props": {"a": i, "b": i * 2} if i % 2 else {},
                },
            ),
        )
        for i in range(40)
    ]
    msgs.append((b"dead", None))  # tombstone: skipped
    prod.send("rich", msgs)
    prod.close()

    q = (
        _reader(spark, broker, topic="rich",
                valueAvroSchema=json.dumps(RICH_STREAM_SCHEMA))
        .load()
        .writeStream.format("memory")
        .queryName("krich")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    # timestamps compared as epoch micros: collect() renders them in
    # the process time zone, decode_record as naive UTC
    got = [
        r.asDict(recursive=True)
        for r in spark.sql(
            "SELECT partition, offset, key, id, v, unix_micros(ts) AS ts,"
            " props FROM krich ORDER BY offset"
        ).collect()
    ]
    epoch = dt.datetime(1970, 1, 1)
    want = []
    for off, (key, value) in enumerate(msgs[:-1]):
        rec = row_for_spark(
            RICH_STREAM_SCHEMA, decode_record(RICH_STREAM_SCHEMA, value)
        )
        rec["ts"] = (rec["ts"] - epoch) // dt.timedelta(microseconds=1)
        want.append({"partition": 0, "offset": off, "key": key, **rec})
    assert len(got) == 40
    assert got == want
