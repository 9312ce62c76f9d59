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
from moonlink_spark.sources.queue import AvroQueueIngestor
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


def _stored_batches(n_batches: int, first: int = 0) -> list[bytes]:
    # batches of 1..n_batches records, values tagged with their offset
    out, off = [], first
    for size in range(1, n_batches + 1):
        out.append(
            encode_record_batch(
                0, [(None, b"v%d" % (off + i)) for i in range(size)]
            )
        )
        off += size
    return out


def _drain_log(log, start: int, hw: int) -> list[int]:
    """Offsets a consumer keeps reading ``log`` from ``start`` to ``hw``
    with small fetches (records below the fetch offset are dropped)."""
    got, floor = [], start
    while floor < hw:
        data = log.read(floor, 64, hw)
        assert data, f"no batch served at {floor} < hw {hw}"
        offs = [o for o, _k, _v in decode_record_batches(data) if o >= floor]
        got += offs
        floor = offs[-1] + 1
    assert log.read(floor, 64, hw) == b""
    return got


def test_partition_log_concurrent_fetches_no_skip(tmp_path):
    """The per-batch index under concurrent fetches and appends: readers
    starting on a batch boundary, inside a batch and past the last batch
    are served every offset once, never a batch ending past their
    high-water mark; a restart rebuilds ``next_offset`` and the index
    from the batch headers alone."""
    from moonlink_spark.sources.kafka_wire import _PartitionLog

    log = _PartitionLog(str(tmp_path / "t-0"))
    log.append(_stored_batches(60))
    n = log.next_offset
    assert n == 60 * 61 // 2
    boundaries = [base for base, _end, _pos, _len in log._index]
    errors: list[str] = []

    def _reader(start: int) -> None:
        for _ in range(3):
            got = _drain_log(log, start, n)
            if got != list(range(start, n)):
                errors.append(f"from {start}: {len(got)} offsets, {got[:3]}")
            hw = log.next_offset  # a moving mark: whole batches below it
            data = log.read(0, 1 << 30, hw)
            offs = [o for o, _k, _v in decode_record_batches(data)]
            if offs != list(range(hw)):
                errors.append(f"hw {hw}: served {len(offs)} offsets")

    def _appender() -> None:
        for _ in range(20):
            log.append(_stored_batches(3, log.next_offset))

    starts = (0, 1, boundaries[10], boundaries[10] + 3, boundaries[-1], n)
    threads = [threading.Thread(target=_reader, args=(s,)) for s in starts * 3]
    threads.append(threading.Thread(target=_appender))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors[:5]
    assert log.read(log.next_offset, 1 << 20, log.next_offset) == b""

    # restart: the index and next_offset come back from the headers,
    # and a fetch from inside a batch returns the same stored bytes
    log2 = _PartitionLog(str(tmp_path / "t-0"))
    assert log2.next_offset == log.next_offset == n + 20 * 6
    assert log2._index == log._index
    mid = boundaries[30] + 2
    assert log2.read(mid, 4096, log2.next_offset) == log.read(
        mid, 4096, log.next_offset
    )
    assert _drain_log(log2, mid, log2.next_offset) == list(
        range(mid, log2.next_offset)
    )

    # a crash mid-append leaves a torn batch: recovery cuts it off and
    # the next append lands where it started
    size = os.path.getsize(log2.path)
    with open(log2.path, "ab") as fh:
        fh.write(_stored_batches(4)[-1][:30])
    log3 = _PartitionLog(str(tmp_path / "t-0"))
    assert os.path.getsize(log3.path) == size
    assert log3.append(_stored_batches(2)) == log2.next_offset
    assert _drain_log(log3, 0, log3.next_offset) == list(
        range(log3.next_offset)
    )


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


def test_crc32c_gather_kernel_matches_scalar():
    """The block-gather kernel equals the bytewise loop at every length
    around the block edges and at batch-sized and large inputs."""
    import random

    from moonlink_spark.sources.kafka_wire import _CRC_B, _crc32c_scalar

    rng = random.Random(7)
    sizes = list(range(3 * _CRC_B + 2)) + [27 * 1024, 300_000, 8 << 20]
    for n in sizes:
        data = rng.randbytes(n)
        assert crc32c(data) == _crc32c_scalar(data) ^ 0xFFFFFFFF, n


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


def _raw_fetch(broker, topic: str, offset: int, max_bytes: int) -> bytes:
    """The broker's Fetch v4 response body for one partition."""
    from moonlink_spark.sources.kafka_wire import _string

    body = (
        struct.pack(">iiii", -1, 0, 0, max_bytes)
        + b"\x00"
        + struct.pack(">i", 1)
        + _string(topic)
        + struct.pack(">i", 1)
        + struct.pack(">iqi", 0, offset, max_bytes)
    )
    return broker._fetch(body, 0)


def _served(resp: bytes) -> bytes:
    """The record set of a one-partition Fetch v4 response."""
    from moonlink_spark.sources.kafka_wire import _read_bytes32, _read_string

    _t, pos = _read_string(resp, 8)
    pos += 4 + 22  # partition count; partition, error, hw, lso
    (naborted,) = struct.unpack_from(">i", resp, pos)
    rset, _ = _read_bytes32(resp, pos + 4 + max(0, naborted) * 16)
    return rset or b""


def test_broker_stores_produced_batches_verbatim(broker, monkeypatch):
    """The segment file holds the producer's zstd batches byte for byte,
    with only the base offset rewritten, and a fetch returns exactly
    those bytes."""
    from moonlink_spark.sources import kafka_wire as kw

    sent: list[bytes] = []
    real_encode = kw.encode_record_batch

    def capture(*a, **k):
        sent.append(real_encode(*a, **k))
        return sent[-1]

    monkeypatch.setattr(kw, "encode_record_batch", capture)
    prod = KafkaWireProducer(broker.host, broker.port, compression="zstd")
    prod.send("vb", [(b"a", b"1" * 200), (None, b"2" * 200)])
    assert prod.send("vb", [(b"c", b"3" * 200)]) == 2
    prod.close()
    assert all(struct.unpack_from(">h", b, 21)[0] & 0x07 == 4 for b in sent)
    stored = sent[0] + struct.pack(">q", 2) + sent[1][8:]
    with open(os.path.join(broker.topic_dir("vb"), "segment-broker.log"), "rb") as fh:
        assert fh.read() == stored
    assert _served(_raw_fetch(broker, "vb", 0, 1 << 20)) == stored
    # from inside the first batch: the whole stored batch, as stored
    assert _served(_raw_fetch(broker, "vb", 1, 1 << 20)) == stored
    assert _served(_raw_fetch(broker, "vb", 2, 1 << 20)) == stored[len(sent[0]) :]
    cons = KafkaWireConsumer(broker.host, broker.port, "vb")
    assert [(o, k, v[:1]) for o, k, v in cons.fetch(1)] == [
        (1, None, b"2"),
        (2, b"c", b"3"),
    ]
    cons.close()


def test_fetch_starting_inside_a_batch(tmp_path):
    b = KafkaWireBroker(str(tmp_path / "logs")).start()
    try:
        prod = KafkaWireProducer(b.host, b.port)
        for i in range(0, 15, 5):
            prod.send("in", [(None, b"v%d" % j) for j in range(i, i + 5)])
        prod.close()
        cons = KafkaWireConsumer(b.host, b.port, "in")
        assert [(o, v) for o, _k, v in cons.fetch(7)] == [
            (j, b"v%d" % j) for j in range(7, 15)
        ]
        assert [o for o, _k, _v in cons.fetch(14)] == [14]
        assert cons.fetch(15) == []
        cons.close()
        # the broker serves the batch holding offset 7 from its start
        data = _served(_raw_fetch(b, "in", 7, 1 << 20))
        assert [o for o, _k, _v in decode_record_batches(data)] == list(
            range(5, 15)
        )
    finally:
        b.stop()


def test_first_batch_larger_than_max_bytes(tmp_path):
    """KIP-74: a fetch returns at least one whole batch even when it is
    larger than max_bytes, and stops before the next batch that would
    overrun it."""
    b = KafkaWireBroker(str(tmp_path / "logs")).start()
    try:
        prod = KafkaWireProducer(b.host, b.port)
        prod.send("big", [(None, b"x" * 50_000), (None, b"y" * 50_000)])
        prod.send("big", [(None, b"z" * 10)])
        prod.close()
        data = _served(_raw_fetch(b, "big", 0, 1000))
        assert len(data) > 100_000
        assert [o for o, _k, _v in decode_record_batches(data)] == [0, 1]
        both = _served(_raw_fetch(b, "big", 0, len(data) + 200))
        assert [o for o, _k, _v in decode_record_batches(both)] == [0, 1, 2]
        cons = KafkaWireConsumer(b.host, b.port, "big")
        assert [o for o, _k, _v in cons.fetch(1, max_bytes=10)] == [1]
        cons.close()
    finally:
        b.stop()


def _produce_raw(broker, topic: str, rset: bytes) -> tuple[int, int]:
    """One Produce v3 request carrying ``rset`` -> (error, base offset)."""
    from moonlink_spark.sources.kafka_wire import (
        _bytes32,
        _nullable_string,
        _read_string,
        _string,
    )

    body = (
        _nullable_string(None)
        + struct.pack(">hi", -1, 10_000)
        + struct.pack(">i", 1)
        + _string(topic)
        + struct.pack(">ii", 1, 0)
        + _bytes32(rset)
    )
    prod = KafkaWireProducer(broker.host, broker.port)
    try:
        resp = prod._conn.call(0, 3, body, retriable=False)
    finally:
        prod.close()
    _t, pos = _read_string(resp, 4)
    _part, err, base, _lat = struct.unpack_from(">ihqq", resp, pos + 4)
    return err, base


def test_produce_request_with_several_batches(tmp_path):
    b = KafkaWireBroker(str(tmp_path / "logs")).start()
    try:
        rset = (
            encode_record_batch(0, [(None, b"a"), (b"k", b"b"), (None, b"c")])
            + encode_record_batch(0, [(None, b"d"), (None, b"e")], compression="gzip")
            + encode_record_batch(0, [(None, b"f")], compression="zstd")
        )
        assert _produce_raw(b, "multi", rset) == (0, 0)
        assert _produce_raw(b, "multi", rset) == (0, 6)
        log = b.log("multi", 0)
        assert [(s, e) for s, e, _p, _n in log._index] == [
            (0, 3), (3, 5), (5, 6), (6, 9), (9, 11), (11, 12),
        ]
        cons = KafkaWireConsumer(b.host, b.port, "multi")
        got = cons.fetch(0)
        assert [(o, v) for o, _k, v in got] == [
            (i, bytes([c])) for i, c in enumerate(b"abcdefabcdef")
        ]
        cons.close()
    finally:
        b.stop()


def _batch_with_deltas(deltas: list[int], last: int | None = None) -> bytes:
    """An uncompressed batch whose records carry ``deltas`` as their
    offset deltas (encode_record_batch always writes 0..n-1)."""
    from moonlink_spark.sources.kafka_wire import _varint

    recs = b""
    for d in deltas:
        body = b"\x00\x00" + _varint(d) + _varint(-1) + _varint(1) + b"x\x00"
        recs += _varint(len(body)) + body
    n = len(deltas)
    tail = struct.pack(
        ">hiqqqhii", 0, n - 1 if last is None else last, 0, 0, -1, -1, -1, n
    ) + recs
    inner = struct.pack(">ibI", -1, 2, crc32c(tail)) + tail
    return struct.pack(">qi", 0, len(inner)) + inner


def test_non_contiguous_deltas_rejected_with_nothing_appended(
    tmp_path, monkeypatch
):
    """A batch is stored as produced, so its offset deltas must be
    0..n-1 and lastOffsetDelta n-1; anything else gets INVALID_RECORD
    (87) and no batch of the request is appended."""
    from moonlink_spark.sources import kafka_wire as kw

    b = KafkaWireBroker(str(tmp_path / "logs")).start()
    try:
        good = encode_record_batch(0, [(None, b"ok")])
        assert _produce_raw(b, "nc", good) == (0, 0)
        assert list(decode_record_batches(_batch_with_deltas([0, 1])))
        assert _produce_raw(b, "nc", _batch_with_deltas([0, 1])) == (0, 1)
        log = b.log("nc", 0)
        size = os.path.getsize(log.path)
        for bad in (
            _batch_with_deltas([0, 2]),
            _batch_with_deltas([1, 2]),
            _batch_with_deltas([1, 0]),
            _batch_with_deltas([0, 1], last=5),
            good + _batch_with_deltas([0, 0]),  # one bad batch of two
            good[:-3],  # not whole batches
        ):
            assert _produce_raw(b, "nc", bad) == (87, -1)
        assert os.path.getsize(log.path) == size
        assert log.next_offset == 3 and len(log._index) == 2
        # the producer surfaces the error code
        monkeypatch.setattr(
            kw, "encode_record_batch", lambda *a, **k: _batch_with_deltas([0, 3])
        )
        prod = KafkaWireProducer(b.host, b.port)
        with pytest.raises(OSError, match="error=87"):
            prod.send("nc", [(None, b"x")])
        prod.close()
        cons = KafkaWireConsumer(b.host, b.port, "nc")
        assert [o for o, _k, _v in cons.fetch(0)] == [0, 1, 2]
        cons.close()
    finally:
        b.stop()


def test_frame_format_segment_fails_loudly(tmp_path):
    """A segment written in the old per-record file-queue frame format
    is refused at open, naming the file; nothing is migrated or cut."""
    from moonlink_spark.sources.kafka_wire import _PartitionLog
    from moonlink_spark.sources.queue import _frame

    for name, frames in (
        ("short", [_frame(0, None, b"v")]),
        ("magic", [_frame(i, b"k", b"value-%d" % i) for i in range(5)]),
        # byte 16 is 2 and bytes 8-11 a plausible length by chance: the
        # first batch's CRC refuses it
        ("crc", [_frame(60, None, b"\x02" + b"v" * 80)]),
    ):
        d = tmp_path / name / "t-0"
        d.mkdir(parents=True)
        seg = d / "segment-broker.log"
        seg.write_bytes(b"".join(frames))
        before = seg.read_bytes()
        with pytest.raises(ValueError, match="segment-broker.log.*RecordBatch"):
            _PartitionLog(str(d))
        assert seg.read_bytes() == before


def test_broker_fetch_does_no_per_record_work(tmp_path, monkeypatch):
    """Fetch serves stored bytes: the broker's ``_fetch`` never encodes,
    decodes or checksums a batch."""
    from moonlink_spark.sources import kafka_wire as kw

    b = KafkaWireBroker(str(tmp_path / "logs")).start()
    try:
        prod = KafkaWireProducer(b.host, b.port, compression="zstd")
        for i in range(0, 600, 100):
            prod.send("cnt", [(None, b"v%d" % j * 40) for j in range(i, i + 100)])
        prod.close()
        calls: dict[str, int] = {}
        for name in ("encode_record_batch", "decode_record_batches", "crc32c"):
            real = getattr(kw, name)

            def counted(*a, _real=real, _name=name, **k):
                calls[_name] = calls.get(_name, 0) + 1
                return _real(*a, **k)

            monkeypatch.setattr(kw, name, counted)
        served = [
            _served(_raw_fetch(b, "cnt", off, mb))
            for off in (0, 50, 100, 599, 600)
            for mb in (1, 1 << 20)
        ]
        assert calls == {}
        assert sum(map(len, served)) > 0
        # the counters do count: the consumer's own decode goes through
        assert [o for o, _k, _v in decode_record_batches(served[1])] == list(
            range(600)
        )
        cons = KafkaWireConsumer(b.host, b.port, "cnt")
        assert len(cons.fetch(0)) == 600
        cons.close()
        assert calls["decode_record_batches"] >= 1 and calls["crc32c"] >= 6
    finally:
        b.stop()


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
