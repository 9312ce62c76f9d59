"""Kafka wire protocol: RecordBatch v2 codec, broker socket round trips,
and the Avro ingestion path over a live broker connection (parity: the
reference's Kafka/Avro feed, rest_api.rs:418-419 + rest_source.rs:371,
now with the broker leg spoken on the wire instead of a shared file)."""

import os
import struct
import threading
import time

import pytest

from moonlink_spark.sources.avro_binary import encode_datum
from moonlink_spark.sources.kafka_wire import (
    KafkaWireBroker,
    KafkaWireConsumer,
    KafkaWireProducer,
    crc32c,
    decode_record_batches,
    encode_record_batch,
)
from moonlink_spark.sources.queue import AvroQueueIngestor, iter_queue
from moonlink_spark.table.identity import IdentityProp
from moonlink_spark.table.table import MoonlinkTable


@pytest.fixture(params=["plain", "tls"])
def broker(tmp_path, request, monkeypatch, wire_tls):
    """Every broker-fixture test runs twice: plaintext and TLS. In TLS
    mode the clients opt in through the env knobs a deployment would
    set (MOONLINK_KAFKA_SECURITY_PROTOCOL=SSL, trust via
    SSL_CERT_FILE) — zero changes at the call sites."""
    kw = {}
    if request.param == "tls":
        kw = {"ssl_cert": wire_tls.cert_path, "ssl_key": wire_tls.key_path}
        monkeypatch.setenv("MOONLINK_KAFKA_SECURITY_PROTOCOL", "SSL")
        monkeypatch.setenv("SSL_CERT_FILE", wire_tls.ca_path)
    b = KafkaWireBroker(str(tmp_path / "kafka-logs"), **kw).start()
    yield b
    b.stop()


# -- partition log -------------------------------------------------------


def test_partition_log_concurrent_scans_no_skip(tmp_path):
    """ADVICE r7: _scan used to append to the shared sparse offset index
    lock-free; two concurrent fetches could interleave appends, leave it
    unsorted, and a later bisect seek past its start offset silently
    skipped records. The index now builds under the lock from a
    snapshot; hammer one partition with concurrent full-range reads and
    assert every offset is always served."""
    import threading

    from moonlink_spark.sources.kafka_wire import _PartitionLog

    log = _PartitionLog(str(tmp_path / "t-0"))
    n = 5000  # > _INDEX_EVERY stride several times over
    log.append([(None, f"v{i}".encode()) for i in range(n)])

    errors: list[str] = []

    def _reader(start: int) -> None:
        for _ in range(3):
            got = [off for off, _k, _v in log._scan(start, n)]
            want = list(range(start, n))
            if got != want:
                errors.append(
                    f"scan from {start}: {len(got)} rows, "
                    f"first={got[:3]}, expected {len(want)}"
                )

    threads = [
        threading.Thread(target=_reader, args=(s,))
        for s in (0, 1, 1023, 1024, 2500, 4999) * 4
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors[:5]
    # the index stayed sorted (bisect's precondition)
    assert log._index == sorted(log._index)

    # restart (header-only scan): offset recovered, index seeded, and a
    # seeking read lands exactly on its start offset
    log2 = _PartitionLog(str(tmp_path / "t-0"))
    assert log2.next_offset == n
    assert log2._index == sorted(log2._index) and log2._index
    tail = log2.read(n - 100, 8 << 20, n)
    assert [o for o, _k, _v in tail] == list(range(n - 100, n))


def test_fetch_request_is_right_sized_on_deep_logs(tmp_path):
    """SCALE.md §9 regression: the consumer must size its fetch request
    to ~max_messages worth of bytes (adaptive estimate), not its 8 MiB
    cap — on a deep log the cap made the broker read + encode ~5x the
    records each poll kept (95k -> 20k msg/s collapse at 10x depth).
    Pin: the estimate converges to the true record size, polls return
    exactly max_messages, and a full drain covers every offset."""
    payload = b"v" * 100
    b = KafkaWireBroker(str(tmp_path / "logs")).start()
    try:
        n = 50_000
        prod = KafkaWireProducer(b.host, b.port)
        for i in range(0, n, 2000):
            prod.send("deep", [(b"k%d" % j, payload) for j in range(i, i + 2000)])
        prod.close()
        cons = KafkaWireConsumer(b.host, b.port, "deep", group="g")
        got = cons.poll(max_messages=5000)
        assert len(got) == 5000
        # estimate reflects the actual ~(key+value+overhead) size
        assert 100 <= cons._avg_msg_bytes <= 200, cons._avg_msg_bytes
        # full drain: exact offsets, no skips, no dups
        seen = {o for o, _k, _v in got}
        floor = got[-1][0] + 1
        while len(seen) < n:
            batch = cons.fetch(floor, max_messages=5000)
            assert batch, f"drain stalled at {len(seen)}"
            seen.update(o for o, _k, _v in batch)
            floor = batch[-1][0] + 1
        assert seen == set(range(n))
        cons.close()
    finally:
        b.stop()


def test_fetch_never_serves_past_high_water_mark(tmp_path, monkeypatch):
    """append writes and flushes its frames but publishes next_offset only
    after fsync: a fetch landing in that window must stop at the
    high-water mark it reports, not serve the unpublished frames (a
    consumer would commit past the log end and its next fetch fail with
    OFFSET_OUT_OF_RANGE)."""
    from moonlink_spark.sources import kafka_wire as kw

    b = KafkaWireBroker(str(tmp_path / "logs")).start()
    prod = KafkaWireProducer(b.host, b.port)
    cons = KafkaWireConsumer(b.host, b.port, "t")
    try:
        prod.send("t", [(None, b"v0")])
        # warm-up: indexing offset 0 takes the log lock, which the
        # blocked append below holds
        assert [o for o, _k, _v in cons.fetch(0)] == [0]

        in_fsync, release = threading.Event(), threading.Event()
        real_fsync = os.fsync

        def held_fsync(fd):
            in_fsync.set()
            release.wait(30)
            real_fsync(fd)

        monkeypatch.setattr(kw.os, "fsync", held_fsync)
        sender = threading.Thread(
            target=prod.send, args=("t", [(None, b"v1"), (None, b"v2")])
        )
        sender.start()
        try:
            assert in_fsync.wait(30)
            assert [o for o, _k, _v in cons.fetch(0)] == [0]
        finally:
            release.set()
            sender.join(30)
        monkeypatch.setattr(kw.os, "fsync", real_fsync)
        assert [o for o, _k, _v in cons.fetch(0)] == [0, 1, 2]
    finally:
        prod.close()
        cons.close()
        b.stop()


# -- codec ---------------------------------------------------------------


def test_crc32c_known_vectors():
    # RFC 3720 B.4 test vectors (Castagnoli, reflected)
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0
    assert crc32c(b"\x00" * 32) == 0x8A9136AA
    assert crc32c(b"\xff" * 32) == 0x62A8AB43


def test_record_batch_roundtrip():
    records = [
        (None, b"plain"),
        (b"k1", b""),
        (b"", b"\x00\xff" * 100),
        (b"k2", "héllo".encode()),
    ]
    batch = encode_record_batch(1000, records)
    got = list(decode_record_batches(batch))
    assert [(o, k, v) for o, k, v in got] == [
        (1000 + i, k, v) for i, (k, v) in enumerate(records)
    ]


def test_record_batch_crc_catches_corruption():
    batch = bytearray(encode_record_batch(0, [(b"k", b"value")]))
    batch[-1] ^= 0x01  # flip a payload bit: the CRC must catch it
    with pytest.raises(ValueError, match="CRC"):
        list(decode_record_batches(bytes(batch)))


def test_multiple_batches_and_torn_tail():
    data = encode_record_batch(0, [(None, b"a")]) + encode_record_batch(
        1, [(None, b"b"), (None, b"c")]
    )
    assert [o for o, _k, _v in decode_record_batches(data)] == [0, 1, 2]
    # a truncated final batch (mid-transfer fetch cut) is skipped, not an error
    assert [
        o for o, _k, _v in decode_record_batches(data[:-5])
    ] == [0]


# -- wire round trips ------------------------------------------------------


def test_produce_fetch_commit_roundtrip(broker):
    prod = KafkaWireProducer(broker.host, broker.port)
    base = prod.send("events", [(b"k0", b"v0"), (None, b"v1")])
    assert base == 0
    assert prod.send("events", [(b"k2", b"v2")]) == 2
    prod.close()

    cons = KafkaWireConsumer(broker.host, broker.port, "events", group="g1")
    msgs = cons.poll()
    assert [(o, k, v) for o, k, v in msgs] == [
        (0, b"k0", b"v0"),
        (1, None, b"v1"),
        (2, b"k2", b"v2"),
    ]
    cons.commit(2)
    assert [o for o, _k, _v in cons.poll()] == [2]
    cons.commit(3)
    assert cons.poll() == []

    # a fresh group starts from the beginning
    g2 = KafkaWireConsumer(broker.host, broker.port, "events", group="g2")
    assert [o for o, _k, _v in g2.poll()] == [0, 1, 2]
    assert cons.list_offsets(earliest=True) == 0
    assert cons.list_offsets() == 3
    cons.close()
    g2.close()


def test_api_versions_and_metadata(broker):
    prod = KafkaWireProducer(broker.host, broker.port)
    prod.send("t1", [(None, b"x")])
    prod.send("t2", [(None, b"y")], partition=1)
    prod.close()
    c = KafkaWireConsumer(broker.host, broker.port, "t1")
    vers = c.api_versions()
    assert vers[0] == (3, 3) and vers[1] == (4, 4) and 18 in vers
    md = c.metadata()
    assert md["brokers"][0]["port"] == broker.port
    assert md["topics"]["t1"]["partitions"] == [0]
    assert md["topics"]["t2"]["partitions"] == [1]
    unknown = c.metadata(["missing"])["topics"]["missing"]
    assert unknown["error"] == 3  # UNKNOWN_TOPIC_OR_PARTITION
    c.close()


def test_fetch_unknown_topic_and_out_of_range(broker):
    c = KafkaWireConsumer(broker.host, broker.port, "nope")
    assert c.poll() == []
    prod = KafkaWireProducer(broker.host, broker.port)
    prod.send("small", [(None, b"x")])
    prod.close()
    c2 = KafkaWireConsumer(broker.host, broker.port, "small", group="ahead")
    c2.commit(10)  # beyond the high watermark
    with pytest.raises(OSError, match="error=1"):
        c2.poll()
    c.close()
    c2.close()


def test_offsets_survive_broker_restart(tmp_path):
    logs = str(tmp_path / "kafka-logs")
    b1 = KafkaWireBroker(logs).start()
    prod = KafkaWireProducer(b1.host, b1.port)
    prod.send("dur", [(None, f"v{i}".encode()) for i in range(5)])
    prod.close()
    c1 = KafkaWireConsumer(b1.host, b1.port, "dur", group="g")
    c1.commit(3)
    c1.close()
    b1.stop()

    b2 = KafkaWireBroker(logs).start()  # same log dir, fresh process shape
    try:
        prod2 = KafkaWireProducer(b2.host, b2.port)
        assert prod2.send("dur", [(None, b"v5")]) == 5  # offsets continue
        prod2.close()
        c2 = KafkaWireConsumer(b2.host, b2.port, "dur", group="g")
        assert c2.committed == 3
        assert [o for o, _k, _v in c2.poll()] == [3, 4, 5]
        c2.close()
    finally:
        b2.stop()


def test_broker_log_is_a_plain_queue_dir(broker):
    """Wire-produced logs read back through queue.iter_queue unchanged —
    the broker is a socket front-end over the same segment format."""
    prod = KafkaWireProducer(broker.host, broker.port)
    prod.send("interop", [(b"a", b"1"), (None, b"2")])
    prod.close()
    msgs = list(iter_queue(broker.topic_dir("interop")))
    assert [(o, k, v) for o, k, v in msgs] == [(0, b"a", b"1"), (1, None, b"2")]


# -- ingestion e2e ---------------------------------------------------------


def test_avro_ingestion_over_the_wire(spark, tmp_path, broker):
    """AvroQueueIngestor drains a LIVE broker socket (KafkaWireConsumer is
    poll/commit-compatible with FileQueueConsumer) and keeps the LSN-floor
    idempotence across a crash-shaped offset rollback."""
    schema = {
        "type": "record",
        "name": "e",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "v", "type": "string"},
        ],
    }
    prod = KafkaWireProducer(broker.host, broker.port)
    prod.send(
        "rows",
        [
            (str(i).encode(), encode_datum(schema, {"id": i, "v": f"v{i}"}))
            for i in range(20)
        ],
    )
    prod.close()

    t = MoonlinkTable.create(
        spark,
        str(tmp_path / "t"),
        [
            {"name": "id", "data_type": "int64", "nullable": False},
            {"name": "v", "data_type": "string"},
        ],
        IdentityProp.single("id"),
    )
    cons = KafkaWireConsumer(broker.host, broker.port, "rows", group="ingest")
    ing = AvroQueueIngestor(t, cons, schema)
    s1 = ing.drain_once()
    assert s1["messages"] == 20 and t.scan().count() == 20

    # crash between table commit and offset commit: replay is a no-op
    cons.commit(0)
    before = t.manifest.version
    s2 = ing.drain_once()
    assert s2["messages"] == 20
    assert t.manifest.version == before and t.scan().count() == 20

    # a follow-up produce still lands
    prod2 = KafkaWireProducer(broker.host, broker.port)
    prod2.send("rows", [(b"100", encode_datum(schema, {"id": 100, "v": "new"}))])
    prod2.close()
    ing.drain_once()
    assert t.scan().count() == 21
    got = {r["id"] for r in t.scan().collect()}
    assert got == set(range(20)) | {100}
    cons.close()


# -- connection faults -------------------------------------------------------


def test_consumer_absorbs_connection_drops(tmp_path):
    """The broker abruptly closes every 4th request before handling it
    (restart/LB-reset shape): consumer reads and offset commits are
    idempotent, so the client reconnects and retries invisibly."""
    b = KafkaWireBroker(str(tmp_path / "logs"), drop_every=4).start()
    try:
        prod = KafkaWireProducer(b.host, b.port, at_least_once=True)
        base = prod.send("flaky", [(None, f"v{i}".encode()) for i in range(10)])
        assert base == 0
        prod.close()
        cons = KafkaWireConsumer(b.host, b.port, "flaky", group="g")
        for _ in range(5):  # enough round trips to hit several drops
            msgs = cons.poll()
            assert [o for o, _k, _v in msgs] == list(range(10))
        cons.commit(10)
        assert cons.committed == 10
        assert cons.poll() == []
        assert b.dropped > 0  # faults actually fired mid-run
        cons.close()
    finally:
        b.stop()


def test_producer_default_surfaces_drops(tmp_path):
    """A non-idempotent producer must NOT silently retry a Produce (a
    lost response would duplicate the batch): with at_least_once off, a
    dropped connection surfaces as an error on some send."""
    b = KafkaWireBroker(str(tmp_path / "logs"), drop_every=3).start()
    try:
        prod = KafkaWireProducer(b.host, b.port)
        raised = False
        for i in range(10):
            try:
                prod.send("strict", [(None, f"v{i}".encode())])
            except (ConnectionError, OSError):
                raised = True
                prod.close()
                prod = KafkaWireProducer(b.host, b.port)
        assert raised
        prod.close()
    finally:
        b.stop()


def test_backend_owned_kafka_ingest_loop(spark, tmp_path):
    """backend.start_kafka_ingest: a ticker-owned consumer drains the
    feed into the table continuously; new produces land without any
    caller involvement, and stop() disconnects cleanly."""
    import time

    from moonlink_spark.backend import MoonlinkBackend

    schema = {
        "type": "record",
        "name": "e",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "v", "type": "string"},
        ],
    }
    broker = KafkaWireBroker(str(tmp_path / "logs")).start()
    be = MoonlinkBackend(spark, str(tmp_path / "wh"))
    be.create_table(
        "db",
        "feed",
        [
            {"name": "id", "data_type": "int64", "nullable": False},
            {"name": "v", "data_type": "string"},
        ],
        IdentityProp.single("id"),
    )

    def produce(lo, hi):
        prod = KafkaWireProducer(broker.host, broker.port)
        prod.send(
            "ev",
            [
                (str(i).encode(), encode_datum(schema, {"id": i, "v": f"v{i}"}))
                for i in range(lo, hi)
            ],
        )
        prod.close()

    produce(0, 12)
    ticker = be.start_kafka_ingest(
        "db", "feed", broker.host, broker.port, "ev", schema, interval_s=0.1
    )
    try:
        t = be.get_table("db", "feed")

        def wait_for(n, timeout=20.0):
            deadline = time.time() + timeout
            while time.time() < deadline:
                if t.scan().count() == n:
                    return True
                time.sleep(0.2)
            return False

        assert wait_for(12), "initial feed did not drain"
        produce(12, 20)  # lands with no caller involvement
        assert wait_for(20), "live tail did not drain"
    finally:
        ticker.stop()
        broker.stop()
    got = {r["id"] for r in t.scan().collect()}
    assert got == set(range(20))


def test_tombstone_null_value_distinct_from_empty(broker):
    """RecordBatch v2 tombstones (value length -1) decode as value=None —
    not b'' — and survive a full produce/fetch wire round trip."""
    records = [(b"k0", b"set"), (b"k0", None), (b"k1", b""), (None, None)]
    batch = encode_record_batch(0, records)
    assert [(k, v) for _o, k, v in decode_record_batches(batch)] == records

    prod = KafkaWireProducer(broker.host, broker.port)
    prod.send("tomb", records)
    prod.close()
    cons = KafkaWireConsumer(broker.host, broker.port, "tomb")
    msgs = cons.poll()
    cons.close()
    assert [(k, v) for _o, k, v in msgs] == records


# -- compression -------------------------------------------------------------


def _codec(name):
    """(compress, decompress) of a built-in batch codec."""
    from moonlink_spark.sources.kafka_wire import CODEC_IDS, _CODECS

    return _CODECS[CODEC_IDS[name]]



def test_gzip_batch_roundtrip_and_wire(broker):
    """gzip-compressed RecordBatch v2 (attributes codec 1): codec-level
    round trip, CRC over the compressed bytes, and a full wire produce/
    fetch with a compressing producer."""
    records = [(b"k%d" % i, b"payload-%d" % i * 20) for i in range(50)]
    batch = encode_record_batch(0, records, compression="gzip")
    plain = encode_record_batch(0, records)
    assert len(batch) < len(plain)  # actually compressed
    assert [(k, v) for _o, k, v in decode_record_batches(batch)] == records

    prod = KafkaWireProducer(broker.host, broker.port, compression="gzip")
    prod.send("gz", records)
    prod.close()
    cons = KafkaWireConsumer(broker.host, broker.port, "gz")
    msgs = cons.poll()
    cons.close()
    assert [(k, v) for _o, k, v in msgs] == records


def test_snappy_batch_roundtrip_and_wire(broker):
    """snappy-compressed RecordBatch v2 (attributes codec 2, the broker
    default in most real deployments): the built-in xerial codec
    round-trips at the batch level and over a full wire produce/fetch
    (VERDICT r7 #4)."""
    records = [(b"k%d" % i, b"payload-%d" % i * 20) for i in range(50)]
    batch = encode_record_batch(0, records, compression="snappy")
    plain = encode_record_batch(0, records)
    assert len(batch) < len(plain)  # actually compressed
    assert [(k, v) for _o, k, v in decode_record_batches(batch)] == records

    prod = KafkaWireProducer(broker.host, broker.port, compression="snappy")
    prod.send("sn", records)
    prod.close()
    cons = KafkaWireConsumer(broker.host, broker.port, "sn")
    msgs = cons.poll()
    cons.close()
    assert [(k, v) for _o, k, v in msgs] == records


def test_snappy_codec_spec_vectors():
    """The snappy codec against hand-built spec streams (format per
    google/snappy format_description.txt; framing per snappy-java's
    xerial block format): all four element forms decode as bare raw
    payloads, both framings are accepted, corruption fails loud."""
    import pyarrow as pa

    compress, decompress = _codec("snappy")

    # literal + 2-byte-offset copy: "Wiki" + copy(off 4, len 4)
    s = bytes([8, 3 << 2]) + b"Wiki" + bytes([((4 - 1) << 2) | 2, 4, 0])
    assert decompress(s) == b"WikiWiki"
    # overlapping copy replicates (RLE): "a" + copy(off 1, len 7)
    s = bytes([8, 0]) + b"a" + bytes([((7 - 1) << 2) | 2, 1, 0])
    assert decompress(s) == b"a" * 8
    # 1-byte-offset form (3-bit length, 4..11)
    s = bytes([8, 0]) + b"b" + bytes([((7 - 4) << 2) | 1, 1])
    assert decompress(s) == b"b" * 8
    # 4-byte-offset form
    s = bytes([8, 0]) + b"c" + bytes([((7 - 1) << 2) | 3, 1, 0, 0, 0])
    assert decompress(s) == b"c" * 8
    # round trips: empty, tiny, repetitive, binary, incompressible
    for payload in (
        b"",
        b"x",
        b"hello world " * 5000,  # spans multiple 32 KiB xerial blocks
        bytes(range(256)) * 300,
        os.urandom(70000),
    ):
        assert decompress(compress(payload)) == payload
    # xerial header present on compress (real snappy-java readers)
    assert compress(b"data").startswith(b"\x82SNAPPY\x00")
    # bare raw payloads (no magic) are accepted too
    raw = pa.Codec("snappy").compress(b"bare raw", asbytes=True)
    assert decompress(raw) == b"bare raw"
    # corruption fails loud: bad copy offset, truncated block
    with pytest.raises(ValueError, match="snappy"):
        decompress(bytes([4, ((4 - 1) << 2) | 2, 9, 0]))
    with pytest.raises(ValueError, match="snappy"):
        decompress(compress(b"hello world " * 100)[:-3])


def test_lz4_batch_roundtrip_and_wire(broker):
    """lz4-compressed RecordBatch v2 (attributes codec 3, the other
    common broker default): the built-in LZ4-frame codec round-trips at
    the batch level and over a full wire produce/fetch."""
    records = [(b"k%d" % i, b"payload-%d" % i * 20) for i in range(50)]
    batch = encode_record_batch(0, records, compression="lz4")
    plain = encode_record_batch(0, records)
    assert len(batch) < len(plain)  # actually compressed
    assert [(k, v) for _o, k, v in decode_record_batches(batch)] == records

    prod = KafkaWireProducer(broker.host, broker.port, compression="lz4")
    prod.send("lz4t", records)
    prod.close()
    cons = KafkaWireConsumer(broker.host, broker.port, "lz4t")
    msgs = cons.poll()
    cons.close()
    assert [(k, v) for _o, k, v in msgs] == records


def test_lz4_codec_spec_vectors():
    """The lz4 codec on LZ4 frames (lz4_Frame_format.md): round trips
    across 64 KiB block boundaries and the stored-block path, a
    skippable frame ahead of the real one, and loud failures on a bad
    header checksum, an overrunning skippable frame and truncation."""
    compress, decompress = _codec("lz4")

    for payload in (
        b"",
        b"x",
        b"hello world " * 12000,
        bytes(range(256)) * 300,
        os.urandom(70000),
    ):
        assert decompress(compress(payload)) == payload

    # skippable frame before the real one is skipped
    skip = (0x184D2A50).to_bytes(4, "little") + (3).to_bytes(4, "little") + b"xyz"
    assert decompress(skip + compress(b"after skip")) == b"after skip"
    # a skippable frame whose size overruns the input fails loud, not
    # silently-empty (review finding r9)
    with pytest.raises(ValueError, match="lz4"):
        decompress(
            (0x184D2A50).to_bytes(4, "little")
            + (1000).to_bytes(4, "little")
            + b"xy"
        )

    # corruption fails loud: bad header checksum, truncation
    bad = bytearray(compress(b"hello world " * 10))
    bad[6] ^= 0xFF
    with pytest.raises(ValueError, match="lz4"):
        decompress(bytes(bad))
    with pytest.raises(ValueError, match="lz4"):
        decompress(compress(b"hello world " * 100)[:-3])


def test_unknown_codec_rejected():
    records = [(None, b"x")]
    batch = bytearray(encode_record_batch(0, records))
    # attributes live right after the batch header prefix (offset 21);
    # re-sign the CRC so the codec check (not the CRC check) fires
    batch[21:23] = struct.pack(">h", 5)  # 5: no codec assigned by Kafka
    batch[17:21] = struct.pack(">I", crc32c(bytes(batch[21:])))
    with pytest.raises(ValueError, match="codec"):
        list(decode_record_batches(bytes(batch)))


# -- consumer groups ---------------------------------------------------------


def _mk_topic(broker, topic, partitions, per_part):
    prod = KafkaWireProducer(broker.host, broker.port)
    for p in range(partitions):
        for base in range(0, per_part, 50):
            prod.send(
                topic,
                [(None, b"%d:%d" % (p, base + i)) for i in range(50)],
                partition=p,
            )
    prod.close()


def test_group_single_member_gets_all_partitions(tmp_path):
    from moonlink_spark.sources.kafka_wire import KafkaGroupConsumer

    b = KafkaWireBroker(str(tmp_path / "logs"), rebalance_timeout_s=0.5).start()
    try:
        _mk_topic(b, "t", partitions=3, per_part=100)
        c = KafkaGroupConsumer(b.host, b.port, "t", group="g")
        c.ensure_active()
        assert c.assigned == [0, 1, 2]
        got = c.poll(max_messages=1000)
        assert len(got) == 300
        c.commit_polled()
        assert c.poll(max_messages=1000) == []
        c.close()
    finally:
        b.stop()


def test_group_rebalance_no_loss_no_dup(tmp_path):
    """A second consumer joins MID-STREAM: partitions reassign (range), and
    the union of everything consumed-and-committed across both members is
    exactly the produced set — no loss, no duplicates — because offsets
    live in the group."""
    from moonlink_spark.sources.kafka_wire import KafkaGroupConsumer

    b = KafkaWireBroker(str(tmp_path / "logs"), rebalance_timeout_s=0.5).start()
    try:
        _mk_topic(b, "t", partitions=2, per_part=200)
        a = KafkaGroupConsumer(b.host, b.port, "t", group="g")
        a.ensure_active()
        assert a.assigned == [0, 1]
        seen: list[tuple[int, int, bytes]] = []
        # drain a prefix alone, committing as we go
        got = a.poll(max_messages=120)
        seen += [(p, o, v) for p, o, _k, v in got]
        a.commit_polled()

        c2 = KafkaGroupConsumer(b.host, b.port, "t", group="g")
        # the barrier needs A to rejoin: poll() heartbeats, sees
        # REBALANCE_IN_PROGRESS, and rejoins — keep A polling (each poll
        # commits first thing after, so no fetch is ever uncommitted when
        # the partition moves) until both members hold one partition
        t2 = threading.Thread(target=c2.ensure_active)
        t2.start()
        deadline = time.time() + 15
        while (
            len(a.assigned) != 1 or t2.is_alive()
        ) and time.time() < deadline:
            got = a.poll(max_messages=50)
            seen += [(p, o, v) for p, o, _k, v in got]
            a.commit_polled()
        t2.join(timeout=10)
        assert not t2.is_alive()
        # range assignment: 2 partitions over 2 sorted members, one each
        assert sorted(a.assigned + c2.assigned) == [0, 1]
        assert len(a.assigned) == 1 and len(c2.assigned) == 1

        # interleaved drain: both members stay live (heartbeating) until
        # the group is empty two rounds in a row
        idle = 0
        while idle < 2:
            n = 0
            for c in (a, c2):
                got = c.poll(max_messages=100)
                n += len(got)
                seen += [(p, o, v) for p, o, _k, v in got]
                c.commit_polled()
            idle = idle + 1 if n == 0 else 0
        assert len(seen) == len(set(seen)) == 400
        assert {v for _p, _o, v in seen} == {
            b"%d:%d" % (p, i) for p in range(2) for i in range(200)
        }
        a.close()
        c2.close()
    finally:
        b.stop()


def test_group_member_leave_triggers_reassignment(tmp_path):
    from moonlink_spark.sources.kafka_wire import KafkaGroupConsumer

    b = KafkaWireBroker(str(tmp_path / "logs"), rebalance_timeout_s=0.5).start()
    try:
        _mk_topic(b, "t", partitions=2, per_part=10)
        a = KafkaGroupConsumer(b.host, b.port, "t", group="g")
        c2 = KafkaGroupConsumer(b.host, b.port, "t", group="g")
        ta = threading.Thread(target=a.ensure_active)
        ta.start()
        c2.ensure_active()
        ta.join(timeout=10)
        # On a loaded host a member's join thread can be starved past
        # the (deliberately short) 0.5s rebalance timeout: the
        # coordinator correctly fences it and hands the other member
        # BOTH partitions, and the fenced member still reports its
        # stale generation's assignment until its next heartbeat
        # discovers the fence and rejoins. Heartbeat both members until
        # the group converges to a disjoint [0, 1] split instead of
        # asserting on a one-shot read of possibly-stale state.
        deadline = time.time() + 10
        while sorted(a.assigned + c2.assigned) != [0, 1]:
            assert time.time() < deadline, (a.assigned, c2.assigned)
            a.poll()
            c2.poll()
        assert sorted(a.assigned + c2.assigned) == [0, 1]
        c2.close()  # LeaveGroup
        a.poll()  # heartbeat -> rejoin -> takes over both partitions
        assert a.assigned == [0, 1]
        a.close()
    finally:
        b.stop()


# -- SASL/PLAIN authentication -----------------------------------------------


def test_sasl_plain_end_to_end(tmp_path):
    """A credentialed broker: authenticated producer + assign-mode and
    group-mode consumers work end to end; unauthenticated and
    wrong-password clients are rejected (connection kill / error 58)."""
    from moonlink_spark.sources.kafka_wire import (
        KafkaGroupConsumer,
        SaslAuthError,
    )

    b = KafkaWireBroker(
        str(tmp_path / "logs"), sasl_credentials={"alice": "s3cret"}
    ).start()
    try:
        creds = ("alice", "s3cret")
        prod = KafkaWireProducer(b.host, b.port, sasl_plain=creds)
        prod.send("t", [(None, b"m%d" % i) for i in range(10)])
        prod.close()

        c = KafkaWireConsumer(b.host, b.port, "t", sasl_plain=creds)
        msgs = c.poll()
        assert [v for _o, _k, v in msgs] == [b"m%d" % i for i in range(10)]
        c.commit(msgs[-1][0] + 1)
        c.close()

        g = KafkaGroupConsumer(b.host, b.port, "t", group="g2", sasl_plain=creds)
        g.ensure_active()
        assert g.assigned == [0]
        g.close()

        # no credentials: broker kills the connection on the first API
        anon = KafkaWireConsumer(b.host, b.port, "t")
        with pytest.raises(ConnectionError):
            anon.poll()
        anon.close()

        # wrong password: explicit SASL failure, not a retry loop
        bad = KafkaWireProducer(
            b.host, b.port, sasl_plain=("alice", "wrong")
        )
        with pytest.raises(SaslAuthError):
            bad.send("t", [(None, b"x")])
        bad.close()
    finally:
        b.stop()


def test_sasl_reauth_across_broker_drops(tmp_path):
    """Connection drops mid-stream: every reconnect redoes the SASL
    exchange transparently, so a fault-injecting credentialed broker
    still serves the full read."""
    b = KafkaWireBroker(
        str(tmp_path / "logs"),
        drop_every=7,
        sasl_credentials={"svc": "pw"},
    ).start()
    try:
        creds = ("svc", "pw")
        prod = KafkaWireProducer(
            b.host, b.port, at_least_once=True, sasl_plain=creds
        )
        for base in range(0, 100, 10):
            prod.send("t", [(None, b"v%d" % (base + i)) for i in range(10)])
        prod.close()
        c = KafkaWireConsumer(b.host, b.port, "t", sasl_plain=creds)
        got = set()
        floor = 0
        while True:
            msgs = c.fetch(floor, 1000)
            if not msgs:
                break
            got |= {v for _o, _k, v in msgs}
            floor = msgs[-1][0] + 1
        c.close()
        assert b.dropped > 0  # faults actually fired
        assert got >= {b"v%d" % i for i in range(100)}  # at-least-once
    finally:
        b.stop()


# -- codec degradation story (VERDICT r6 item 5) --------------------------


def test_unregistered_codec_fails_loud_with_exact_shape():
    """A batch carrying a codec id Kafka never assigned raises
    UnsupportedCodecError naming the id and the producer-config
    workaround; a known codec over bytes it cannot decode is a plain
    decode ValueError."""
    import struct as _struct

    from moonlink_spark.sources.kafka_wire import (
        UnsupportedCodecError,
        crc32c,
        decode_record_batches,
        encode_record_batch,
    )

    def batch_with_codec(cid: int) -> bytes:
        raw = encode_record_batch(0, [(b"k", b"v")])
        # flip the attributes codec bits and re-CRC (attributes live at
        # offset 21 in the batch; CRC covers attributes..end)
        tail = bytearray(raw[21:])
        attrs = _struct.unpack_from(">h", tail, 0)[0] | cid
        _struct.pack_into(">h", tail, 0, attrs)
        crc = crc32c(bytes(tail))
        return raw[:12] + raw[12:17] + _struct.pack(">I", crc) + bytes(tail)

    # all four real codecs work built-in (decode AND produce); the ids
    # Kafka never assigned (5-7) fail loud with the actionable shape
    for cid in (5, 6, 7):
        with pytest.raises(UnsupportedCodecError) as ei:
            list(decode_record_batches(batch_with_codec(cid)))
        assert ei.value.codec_id == cid
        assert ei.value.codec_name == str(cid)
        assert "compression.type" in str(ei.value)

    # a batch whose attributes name a real codec but whose payload is
    # not in it fails as a decode error, not as "unsupported"
    for cid in (1, 2, 3, 4):
        with pytest.raises(ValueError) as ei:
            list(decode_record_batches(batch_with_codec(cid)))
        assert not isinstance(ei.value, UnsupportedCodecError)

    # PRODUCE with zstd works built-in: the batch round-trips
    raw = encode_record_batch(0, [(b"k", b"v")], compression="zstd")
    assert [(k, v) for _o, k, v in decode_record_batches(raw)] == [(b"k", b"v")]


def test_zstd_fetch_decodes_builtin(broker, monkeypatch):
    """FETCH of zstd RecordBatches from a foreign encoder works out of
    the box: the producer's zstd frames come from the reference CLI
    (checksummed, with content size) or, without it, pyarrow's zstd at
    level 19, and the consumer decodes them with the built-in codec."""
    import shutil
    import subprocess

    import pyarrow as pa

    from moonlink_spark.sources import kafka_wire as kw

    cli = shutil.which("zstd")

    def foreign(data: bytes) -> bytes:
        if cli is None:
            return pa.Codec("zstd", compression_level=19).compress(
                data, asbytes=True
            )
        return subprocess.run(
            [cli, "-19", "-c", "--content-size", "-C"],
            input=data, capture_output=True, check=True,
        ).stdout

    monkeypatch.setitem(kw._CODECS, 4, (foreign, kw._CODECS[4][1]))
    prod = kw.KafkaWireProducer(broker.host, broker.port, compression="zstd")
    payload = [(b"k%d" % i, b"v%d" % i * 50) for i in range(40)]
    prod.send("zsf", payload)
    prod.close()
    cons = kw.KafkaWireConsumer(broker.host, broker.port, "zsf")
    msgs = cons.poll()
    cons.close()
    assert [(m[1], m[2]) for m in msgs] == payload


def test_garbage_bytes_never_crash_the_broker(tmp_path):
    """Random bytes, negative/short/huge length prefixes: the broker
    must drop the connection — never crash a handler thread or block on
    a negative-length read — and keep serving (review finding r9)."""
    import random
    import socket
    import struct as _s

    b = KafkaWireBroker(str(tmp_path / "fuzz-logs")).start()
    try:
        rng = random.Random(12)
        for _ in range(40):
            s = socket.create_connection(("127.0.0.1", b.port), timeout=2)
            s.sendall(bytes(rng.randrange(256) for _ in range(rng.randint(1, 60))))
            s.settimeout(0.2)
            try:
                s.recv(4096)
            except (socket.timeout, ConnectionError):
                pass
            s.close()
        for n in (-5, 0, 1, 3, 7, 0x7FFFFFFF):
            s = socket.create_connection(("127.0.0.1", b.port), timeout=2)
            s.sendall(_s.pack(">i", n))
            s.settimeout(0.2)
            try:
                s.recv(4096)
            except (socket.timeout, ConnectionError):
                pass
            s.close()
        # the broker still serves a real produce/fetch round trip
        w = KafkaWireProducer("127.0.0.1", b.port)
        try:
            w.send("fuzztopic", [(b"k", b"v")])
        finally:
            w.close()
        c = KafkaWireConsumer("127.0.0.1", b.port, "fuzztopic", 0)
        try:
            got = c.poll(max_messages=10)
        finally:
            c.close()
        assert [(k, v) for _off, k, v in got] == [(b"k", b"v")]
    finally:
        b.stop()


def test_zstd_produce_builtin_e2e(broker):
    """PRODUCE with codec 4 works out of the box: produce through the
    built-in zstd pair, fetch back through the built-in decoder, AND
    the batch payload is a real zstd frame that actually compresses —
    no silent downgrade to another codec."""
    import struct as _struct

    import pyarrow as pa

    from moonlink_spark.sources import kafka_wire as kw

    prod = kw.KafkaWireProducer(broker.host, broker.port, compression="zstd")
    payload = [(b"k%d" % i, b"value-%d" % i * 20) for i in range(60)]
    prod.send("zsp", payload)
    cons = kw.KafkaWireConsumer(broker.host, broker.port, "zsp")
    msgs = cons.poll()
    assert [(m[1], m[2]) for m in msgs] == payload
    prod.close()
    cons.close()
    # the wire batch genuinely carries codec 4 and its records blob is a
    # zstd frame (magic 0xFD2FB528) smaller than the plain records
    raw = kw.encode_record_batch(0, payload, compression="zstd")
    attrs = _struct.unpack_from(">h", raw, 21)[0]
    assert attrs & 0x07 == 4  # compression bits = zstd
    # records section starts after the 61-byte v2 batch header
    frame = raw[61:]
    assert frame[:4] == (0xFD2FB528).to_bytes(4, "little")
    plain = kw.encode_record_batch(0, payload)
    assert len(raw) < len(plain) // 2
    assert pa.Codec("zstd").decompress(
        frame, len(plain) - 61
    ).to_pybytes() == plain[61:]
