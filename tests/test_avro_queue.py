"""Pure-Python Avro binary codec + file-backed queue ingestion (parity:
the reference's Kafka/Avro path, rest_ingest/avro_converter.rs:28-190,
without broker or jar)."""

import datetime as dt
import struct
from decimal import Decimal

import pytest

from moonlink_spark.sources.avro_binary import (
    decode_datum,
    decode_record,
    encode_datum,
    row_for_spark,
)
from moonlink_spark.sources.converters import AvroSchemaError, avro_schema_to_struct
from moonlink_spark.sources.queue import (
    AvroQueueIngestor,
    FileQueueConsumer,
    FileQueueProducer,
    iter_queue,
)
from moonlink_spark.table.identity import IdentityProp
from moonlink_spark.table.table import MoonlinkTable

FULL_SCHEMA = {
    "type": "record",
    "name": "everything",
    "fields": [
        {"name": "b", "type": "boolean"},
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": "double"},
        {"name": "s", "type": "string"},
        {"name": "by", "type": "bytes"},
        {"name": "maybe", "type": ["null", "string"]},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "day", "type": {"type": "int", "logicalType": "date"}},
        {"name": "dec", "type": {"type": "bytes", "logicalType": "decimal",
                                  "precision": 10, "scale": 2}},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "long"}},
        {"name": "en", "type": {"type": "enum", "name": "color",
                                 "symbols": ["RED", "GREEN"]}},
        {"name": "nested", "type": {"type": "record", "name": "inner",
                                     "fields": [{"name": "x", "type": "long"}]}},
    ],
}

ROW = {
    "b": True,
    "i": -42,
    "l": 9007199254740993,
    "f": 1.5,
    "d": -2.25,
    "s": "héllo",
    "by": b"\x00\xff",
    "maybe": None,
    "ts": dt.datetime(2024, 1, 1, 12, 34, 56, 789000),
    "day": dt.date(2024, 2, 29),
    "dec": Decimal("12345.67"),
    "arr": [1, 2, 3],
    "m": {"a": 1, "b": 2},
    "en": "GREEN",
    "nested": {"x": 7},
}


def test_codec_roundtrip_every_type():
    data = encode_datum(FULL_SCHEMA, ROW)
    back = decode_record(FULL_SCHEMA, data)
    assert back == ROW


def test_union_branches_and_trailing_garbage():
    schema = ["null", "long"]
    assert decode_datum(schema, encode_datum(schema, None))[0] is None
    assert decode_datum(schema, encode_datum(schema, 7))[0] == 7
    rec = {"type": "record", "name": "r",
           "fields": [{"name": "x", "type": "long"}]}
    with pytest.raises(AvroSchemaError):
        decode_record(rec, encode_datum(rec, {"x": 1}) + b"\x00")


def test_negative_block_count_arrays():
    # spec: negative count = block with byte-size prefix
    schema = {"type": "array", "items": "long"}
    body = b"".join(encode_datum("long", v) for v in [5, 6])
    from moonlink_spark.sources.avro_binary import _zigzag_encode

    framed = _zigzag_encode(-2) + _zigzag_encode(len(body)) + body + _zigzag_encode(0)
    assert decode_datum(schema, framed)[0] == [5, 6]


def test_row_for_spark_matches_schema_struct(spark):
    """Decoded rows (maps reshaped to array<struct<key,value>>) must load
    into the exact StructType avro_schema_to_struct derives."""
    struct_type = avro_schema_to_struct(FULL_SCHEMA)
    reshaped = row_for_spark(FULL_SCHEMA, decode_record(
        FULL_SCHEMA, encode_datum(FULL_SCHEMA, ROW)))
    df = spark.createDataFrame([reshaped], struct_type)
    got = df.collect()[0]
    assert got.l == ROW["l"] and got.s == ROW["s"]
    assert got.m == [{"key": "a", "value": 1}, {"key": "b", "value": 2}] or [
        (r.key, r.value) for r in got.m
    ] == [("a", 1), ("b", 2)]
    assert got.dec == Decimal("12345.67")


def test_queue_offsets_and_torn_tail(tmp_path):
    qdir = str(tmp_path / "q")
    p = FileQueueProducer(qdir)
    offs = [p.send(f"v{i}".encode(), key=b"k" if i % 2 else None) for i in range(5)]
    p.close()
    assert offs == [0, 1, 2, 3, 4]
    # a second producer session resumes numbering
    p2 = FileQueueProducer(qdir)
    assert p2.send(b"v5") == 5
    p2.close()
    msgs = list(iter_queue(qdir))
    assert [m[0] for m in msgs] == [0, 1, 2, 3, 4, 5]
    assert msgs[1][1] == b"k" and msgs[0][1] is None
    assert msgs[5][2] == b"v5"

    # torn tail write: partial frame at EOF is ignored, prior frames read
    seg = sorted(x for x in (tmp_path / "q").iterdir()
                 if x.name.startswith("segment-"))[0]
    with open(seg, "ab") as fh:
        fh.write(struct.pack(">I", 100) + b"short")
    assert [m[0] for m in iter_queue(qdir)] == [0, 1, 2, 3, 4, 5]


def test_consumer_group_commit(tmp_path):
    qdir = str(tmp_path / "q")
    p = FileQueueProducer(qdir)
    for i in range(10):
        p.send(encode_datum("long", i))
    p.close()
    c = FileQueueConsumer(qdir, group="g1")
    batch = c.poll(max_messages=4)
    assert [b[0] for b in batch] == [0, 1, 2, 3]
    c.commit(4)
    assert [b[0] for b in c.poll()] == [4, 5, 6, 7, 8, 9]
    # a different group starts from zero
    assert FileQueueConsumer(qdir, group="g2").poll()[0][0] == 0
    # state survives re-instantiation (restart)
    assert FileQueueConsumer(qdir, group="g1").committed == 4


def test_avro_queue_ingestor_idempotent_replay(spark, tmp_path):
    """Crash between table commit and consumer-offset commit: the replayed
    batch is a no-op thanks to the LSN floor (same guard as the REST
    journal replay)."""
    schema = {
        "type": "record", "name": "e",
        "fields": [{"name": "id", "type": "long"},
                   {"name": "v", "type": "string"}],
    }
    qdir = str(tmp_path / "q")
    p = FileQueueProducer(qdir)
    for i in range(20):
        p.send(encode_datum(schema, {"id": i, "v": f"v{i}"}))
    p.close()

    t = MoonlinkTable.create(
        spark, str(tmp_path / "t"),
        [{"name": "id", "data_type": "int64", "nullable": False},
         {"name": "v", "data_type": "string"}],
        IdentityProp.single("id"),
    )
    ing = AvroQueueIngestor(t, FileQueueConsumer(qdir), schema)
    s1 = ing.drain_once()
    assert s1["messages"] == 20 and t.scan().count() == 20

    # simulate the crash: roll the consumer offset back, drain again
    ing.consumer.commit(0)
    before_version = t.manifest.version
    s2 = ing.drain_once()
    assert s2["messages"] == 20          # messages re-read ...
    assert t.manifest.version == before_version  # ... but no new commit
    assert t.scan().count() == 20
    # and a normal follow-up batch still lands
    p3 = FileQueueProducer(qdir)
    p3.send(encode_datum(schema, {"id": 100, "v": "new"}))
    p3.close()
    ing.drain_once()
    assert t.scan().count() == 21


def test_distributed_producer_foreachpartition(spark, tmp_path):
    """produce_df_avro: executors write partition-disjoint segments with
    no driver collect; the consumer sees every row in offset order and
    the drained table equals the source."""
    from moonlink_spark.sources.queue import produce_df_avro

    schema = {
        "type": "record",
        "name": "ev",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "v", "type": "string"},
        ],
    }
    df = spark.range(0, 500, 1, 8).selectExpr(
        "id", "concat('v', CAST(id AS STRING)) AS v"
    )
    qdir = str(tmp_path / "q")
    produce_df_avro(df, qdir, schema, key_col="id")

    msgs = list(iter_queue(qdir))
    assert len(msgs) == 500
    offsets = [m[0] for m in msgs]
    assert offsets == sorted(offsets) and len(set(offsets)) == 500
    # multiple partitions actually produced (not a single-segment fallback)
    import os as _os

    segs = [n for n in _os.listdir(qdir) if n.startswith("segment-")]
    assert len(segs) > 1
    assert not [n for n in _os.listdir(qdir) if n.startswith("_stage-")]

    t = MoonlinkTable.create(
        spark, str(tmp_path / "t"),
        [{"name": "id", "data_type": "int64", "nullable": False},
         {"name": "v", "data_type": "string"}],
        IdentityProp.single("id"),
    )
    ing = AvroQueueIngestor(t, FileQueueConsumer(qdir), schema)
    s = ing.drain_once()
    assert s["messages"] == 500
    assert ing.drain_once()["messages"] == 0
    got = {(r["id"], r["v"]) for r in t.scan().collect()}
    assert got == {(i, f"v{i}") for i in range(500)}


def test_tombstone_frame_roundtrip(tmp_path):
    """Null VALUE (Kafka tombstone) survives the frame format as a state
    distinct from an empty value, for every key/value null combination."""
    from moonlink_spark.sources.queue import _frame

    cases = [
        (b"k", b"v"),
        (None, b"v"),
        (b"k", None),   # tombstone, keyed
        (None, None),   # tombstone, keyless
        (b"k", b""),    # EMPTY value: must NOT read back as None
        (None, b""),
    ]
    qdir = tmp_path / "q"
    qdir.mkdir()
    with open(qdir / "segment-a.log", "wb") as fh:
        for i, (k, v) in enumerate(cases):
            fh.write(_frame(i, k, v))
    got = [(k, v) for _o, k, v in iter_queue(str(qdir))]
    assert got == cases


def test_ingestor_skips_tombstones_but_advances_floor(spark, tmp_path):
    """A null-value record carries no Avro datum: the ingestor drops it
    (deletes flow through the CDC op field, not compacted-topic markers)
    but still advances the committed floor past its offset."""
    schema = {
        "type": "record",
        "name": "ev",
        "fields": [{"name": "id", "type": "long"},
                   {"name": "v", "type": "string"}],
    }
    qdir = str(tmp_path / "q")
    prod = FileQueueProducer(qdir)
    prod.send(encode_datum(schema, {"id": 1, "v": "a"}), key=b"1")
    prod.send(None, key=b"1")  # tombstone
    prod.send(encode_datum(schema, {"id": 2, "v": "b"}), key=b"2")
    prod.close()

    t = MoonlinkTable.create(
        spark, str(tmp_path / "t"),
        [{"name": "id", "data_type": "int64", "nullable": False},
         {"name": "v", "data_type": "string"}],
        IdentityProp.single("id"),
    )
    ing = AvroQueueIngestor(t, FileQueueConsumer(qdir), schema)
    s = ing.drain_once()
    assert s["messages"] == 3
    assert {r["id"] for r in t.scan().collect()} == {1, 2}
    assert ing.drain_once()["messages"] == 0  # floor covers the tombstone


def test_producer_publish_order_and_retry_dedup(spark, tmp_path):
    """The distributed producer's publish step keeps exactly one segment
    per partition (task retries leave identical duplicates) and readers
    dedupe identical offsets as a backstop."""
    import os as _os
    import shutil

    from moonlink_spark.sources.queue import produce_df_avro

    schema = {
        "type": "record",
        "name": "ev",
        "fields": [{"name": "id", "type": "long"}],
    }
    qdir = str(tmp_path / "q")
    df = spark.range(0, 100, 1, 4).selectExpr("id")
    produce_df_avro(df, qdir, schema)
    assert not [n for n in _os.listdir(qdir) if n.startswith("_pending-")]
    assert len(list(iter_queue(qdir))) == 100

    # a late-published duplicate attempt (same pid, same offsets) must not
    # double-deliver
    seg = next(n for n in _os.listdir(qdir) if n.startswith("segment-p"))
    shutil.copy(_os.path.join(qdir, seg),
                _os.path.join(qdir, seg.replace(".log", "-retry.log")))
    assert len(list(iter_queue(qdir))) == 100

    # a staged-but-unpublished segment is invisible to readers (a drain
    # racing an in-flight produce never commits a floor above it)
    shutil.copy(_os.path.join(qdir, seg),
                _os.path.join(qdir, "_pending-p99999-deadbeef.log"))
    assert len(list(iter_queue(qdir))) == 100


def test_orphaned_pending_segment_quarantined_not_merged(spark, tmp_path):
    """ADVICE r6: an orphaned _pending-* file (a produce that crashed
    between staging and the driver publish) must NOT be grouped with the
    next invocation's staged files — the keep-one rule would silently
    discard real data from one side. It is quarantined as _orphan-*
    with bytes intact; the new produce publishes all its own rows."""
    import os

    from moonlink_spark.sources.queue import produce_df_avro

    schema = {
        "type": "record",
        "name": "ev",
        "fields": [{"name": "id", "type": "long"}],
    }
    qdir = tmp_path / "q"
    qdir.mkdir()
    orphan_bytes = b"\x00" * 64  # content is opaque; only survival matters
    orphan = qdir / "_pending-p00000-deadbeefcafe.log"
    orphan.write_bytes(orphan_bytes)

    df = spark.range(0, 100, 1, 4).selectExpr("id")
    # the quarantine WARNS (operators must learn data needs manual
    # recovery) — capture it so the full suite runs warning-clean and
    # any NEW warning is a signal, not background noise (verdict r11)
    with pytest.warns(UserWarning, match="quarantining orphaned staged"):
        produce_df_avro(df, str(qdir), schema, key_col="id")

    names = sorted(os.listdir(qdir))
    assert not [n for n in names if n.startswith("_pending-")]
    quarantined = [n for n in names if n.startswith("_orphan-")]
    assert quarantined == ["_orphan-p00000-deadbeefcafe.log"]
    assert (qdir / quarantined[0]).read_bytes() == orphan_bytes
    # every row of the NEW produce is present (nothing was discarded
    # by being grouped with the orphan)
    got = {m[0] for m in iter_queue(str(qdir))}
    assert len(got) == 100


def test_concurrent_producer_rejected_then_lock_released(spark, tmp_path):
    """ADVICE r7: two overlapping produce_df_avro calls on one queue
    directory would quarantine each other's in-flight staged segments
    and silently publish nothing — the directory is single-producer, so
    a second producer fails LOUD while the first holds the lock, a stale
    lock is nameable in the error, and the lock releases even when the
    produce itself fails."""
    import os

    import pytest

    from moonlink_spark.sources.queue import produce_df_avro

    schema = {
        "type": "record",
        "name": "ev",
        "fields": [{"name": "id", "type": "long"}],
    }
    qdir = tmp_path / "q"
    qdir.mkdir()
    df = spark.range(0, 10, 1, 2).selectExpr("id")
    # simulate an in-flight producer: the lock file exists
    (qdir / "_producer.lock").touch()
    with pytest.raises(RuntimeError, match="active producer"):
        produce_df_avro(df, str(qdir), schema, key_col="id")
    (qdir / "_producer.lock").unlink()
    # a failing produce must still release the lock
    bad_schema = {"type": "record", "name": "ev", "fields": [
        {"name": "missing_col", "type": "long"}]}
    with pytest.raises(Exception):
        produce_df_avro(df, str(qdir), bad_schema, key_col="id")
    assert not (qdir / "_producer.lock").exists()
    # and a normal produce works after both
    produce_df_avro(df, str(qdir), schema, key_col="id")
    assert len({m[0] for m in iter_queue(str(qdir))}) == 10


def test_max_queue_offset_header_scan(tmp_path):
    """The produce-resume path learns the next free offset by frame-
    header scan (O(1) memory on a deep queue — payloads seeked over),
    agreeing with iter_queue's view including the torn-tail skip rule."""
    import os

    from moonlink_spark.sources.queue import (
        _frame,
        max_queue_offset,
    )

    d = tmp_path / "q"
    assert max_queue_offset(str(d)) == -1  # missing dir
    d.mkdir()
    assert max_queue_offset(str(d)) == -1  # empty
    with open(os.path.join(d, "segment-a.log"), "wb") as f:
        for off in (0, 5, 3):  # out of order within a file is tolerated
            f.write(_frame(off, b"k", b"v" * 10))
    with open(os.path.join(d, "segment-b.log"), "wb") as f:
        f.write(_frame(9, None, b"x"))
    assert max_queue_offset(str(d)) == 9
    # a torn final frame (crash mid-write) is ignored, same as iter_queue
    with open(os.path.join(d, "segment-b.log"), "ab") as f:
        f.write(_frame(99, b"kk", b"vvvv")[:-3])
    assert max_queue_offset(str(d)) == 9
    assert max(o for o, _k, _v in iter_queue(str(d))) == 9


def test_poll_merge_path_semantics(tmp_path):
    """poll()'s lazy k-way merge must match the old sorted-full-scan
    semantics exactly: global offset order across interleaved segments,
    retried-task duplicates (identical offset+bytes) absorbed, distinct
    payloads at one offset both delivered, and an unsorted segment
    degrading to the sorted fallback rather than wrong order."""
    import os

    from moonlink_spark.sources.queue import FileQueueConsumer, _frame

    d = tmp_path / "q"
    d.mkdir()
    # two segments with interleaved ranges + a byte-identical retry dup
    with open(os.path.join(d, "segment-a.log"), "wb") as f:
        for off in (0, 2, 4):
            f.write(_frame(off, b"k", b"v%d" % off))
    with open(os.path.join(d, "segment-b.log"), "wb") as f:
        for off in (1, 3):
            f.write(_frame(off, b"k", b"v%d" % off))
        f.write(_frame(4, b"k", b"v4"))   # retry duplicate: absorbed
        f.write(_frame(5, b"k2", b"OTHER"))
    with open(os.path.join(d, "segment-c.log"), "wb") as f:
        f.write(_frame(5, b"k1", b"MINE"))  # same offset, DIFFERENT bytes

    c = FileQueueConsumer(str(d), group="g")
    got = c.poll()
    assert [m[0] for m in got] == [0, 1, 2, 3, 4, 5, 5]
    assert {m[2] for m in got if m[0] == 5} == {b"MINE", b"OTHER"}
    # floor skipping: header-skip lands exactly at the floor
    c.commit(3)
    assert [m[0] for m in c.poll()] == [3, 4, 5, 5]
    # max_messages truncates in global order
    assert [m[0] for m in c.poll(max_messages=2)] == [3, 4]

    # an unsorted segment (hand-written, violates the producer
    # invariant) still answers in sorted order via the fallback
    with open(os.path.join(d, "segment-z.log"), "wb") as f:
        for off in (9, 7):
            f.write(_frame(off, None, b"x%d" % off))
    c.commit(6)
    assert [m[0] for m in c.poll()] == [7, 9]


_E_SCHEMA = {
    "type": "record", "name": "e",
    "fields": [{"name": "id", "type": "long"},
               {"name": "v", "type": "string"}],
}

_E_FIELDS = [
    {"name": "id", "data_type": "int64", "nullable": False},
    {"name": "v", "data_type": "string"},
]


def _mk_queue(tmp_path, n=10, start=0):
    qdir = str(tmp_path / "q")
    p = FileQueueProducer(qdir)
    for i in range(start, start + n):
        p.send(encode_datum(_E_SCHEMA, {"id": i, "v": f"v{i}"}))
    p.close()
    return qdir


def test_drain_commit_failure_retry_no_duplicates(spark, tmp_path, monkeypatch):
    """Review finding (r9): a failed table commit restores the staged
    rows; the retried drain re-polled and re-appended the same batch on
    top, committing every row twice."""
    qdir = _mk_queue(tmp_path, n=15)
    t = MoonlinkTable.create(
        spark, str(tmp_path / "t"), _E_FIELDS, IdentityProp.single("id")
    )
    ing = AvroQueueIngestor(t, FileQueueConsumer(qdir), _E_SCHEMA)
    real_commit = t.store.commit
    calls = {"n": 0}

    def failing(m, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("injected store outage")
        return real_commit(m, **kw)

    monkeypatch.setattr(t.store, "commit", failing)
    with pytest.raises(OSError):
        ing.drain_once()
    assert not t.has_pending(), "failed drain left staged rows behind"
    s = ing.drain_once()
    assert s["messages"] == 15
    assert t.scan().count() == 15


def test_foreign_commits_do_not_starve_the_drain(spark, tmp_path):
    """Review finding (r9): the applied floor was DERIVED from
    last_lsn, so any non-queue commit on the same table inflated it and
    the next drain silently skipped genuinely new messages while still
    advancing the consumer offset."""
    qdir = _mk_queue(tmp_path, n=5)
    t = MoonlinkTable.create(
        spark, str(tmp_path / "t"), _E_FIELDS, IdentityProp.single("id")
    )
    ing = AvroQueueIngestor(t, FileQueueConsumer(qdir), _E_SCHEMA)
    assert ing.drain_once()["messages"] == 5
    # a foreign (non-queue) commit advances the table LSN
    t.append_rows([{"id": 1000, "v": "foreign"}])
    t.commit()
    # new queue messages after the foreign commit
    p = FileQueueProducer(qdir)
    p.send(encode_datum(_E_SCHEMA, {"id": 6, "v": "v6"}))
    p.send(encode_datum(_E_SCHEMA, {"id": 7, "v": "v7"}))
    p.close()
    ing.drain_once()
    got = {r["id"] for r in t.scan().collect()}
    assert {6, 7} <= got, f"foreign commit starved the drain: {sorted(got)}"
    assert t.scan().count() == 8


def test_poll_cap_never_splits_an_offset_group(tmp_path):
    """Review finding (r9): two colliding producers can put DISTINCT
    payloads at one offset ('must both deliver'); a max_messages cap
    landing between them dropped the sibling below the committed floor
    forever."""
    qdir = str(tmp_path / "q")
    a = FileQueueProducer(qdir)
    a.send(b"m0")  # offset 0
    a.close()
    # two producers computed the same next offset (1): distinct payloads
    b1 = FileQueueProducer(qdir)
    b2 = FileQueueProducer(qdir)
    b1.send(b"m1-a")
    b2.send(b"m1-b")
    b1.close()
    b2.close()
    c = FileQueueConsumer(qdir)
    batch = c.poll(max_messages=2)  # cap lands inside offset group 1
    offs = [m[0] for m in batch]
    assert offs == [0, 1, 1], offs  # the whole group delivered
    c.commit(batch[-1][0] + 1)
    assert c.poll() == []


def test_max_queue_offset_counts_staged_and_orphaned(tmp_path):
    """Review finding (r9): offsets in _pending-*/_orphan-* files are
    spoken for — reusing them publishes different payloads below a
    committed floor (or makes orphan recovery impossible)."""
    import os as _os

    from moonlink_spark.sources.queue import _frame, max_queue_offset

    qdir = str(tmp_path / "q")
    _os.makedirs(qdir)
    with open(_os.path.join(qdir, "segment-a.log"), "wb") as fh:
        fh.write(_frame(3, None, b"x"))
    with open(_os.path.join(qdir, "_pending-p00000-rdead-1.log"), "wb") as fh:
        fh.write(_frame(9, None, b"staged"))
    with open(_os.path.join(qdir, "_orphan-p00001-rdead-2.log"), "wb") as fh:
        fh.write(_frame(7, None, b"orphan"))
    assert max_queue_offset(qdir) == 9
    # a new producer resumes ABOVE the staged/orphaned offsets
    p = FileQueueProducer(qdir)
    assert p.send(b"fresh") == 10
    p.close()


def test_plain_producer_refuses_active_distributed_produce(tmp_path):
    """Review finding (r9): a FileQueueProducer sending while a
    distributed produce holds the lock computes a base that collides
    with the invisible staged offsets."""
    import os as _os

    qdir = str(tmp_path / "q")
    _os.makedirs(qdir)
    with open(_os.path.join(qdir, "_producer.lock"), "w") as fh:
        fh.write(str(_os.getpid()))  # alive pid: lock is active
    p = FileQueueProducer(qdir)
    with pytest.raises(RuntimeError, match="active distributed produce"):
        p.send(b"x")
    _os.unlink(_os.path.join(qdir, "_producer.lock"))
    assert p.send(b"x") == 0  # lock gone: normal send
    p.close()


def test_drain_onto_foreign_owned_table_applies_everything(spark, tmp_path):
    """Review r10: the legacy replay-floor fallback derived an offset
    floor from table.last_lsn even when the last commit came from a
    NON-queue writer at a far-higher LSN — every queued message was
    skipped AND the group offset advanced past them: silent permanent
    loss. No property + foreign commit must mean floor = nothing applied."""
    schema = {
        "type": "record", "name": "e",
        "fields": [{"name": "id", "type": "long"},
                   {"name": "v", "type": "string"}],
    }
    qdir = str(tmp_path / "q")
    p = FileQueueProducer(qdir)
    for i in range(10):
        p.send(encode_datum(schema, {"id": i, "v": f"v{i}"}))
    p.close()

    t = MoonlinkTable.create(
        spark, str(tmp_path / "t"),
        [{"name": "id", "data_type": "int64", "nullable": False},
         {"name": "v", "data_type": "string"}],
        IdentityProp.single("id"),
    )
    # a streaming batch owns the table's last commit at a huge LSN
    t.append_rows([{"id": 900, "v": "foreign"}])
    t.commit(lsn=5_000_000, operation="stream-batch-3")

    ing = AvroQueueIngestor(t, FileQueueConsumer(qdir), schema)
    s = ing.drain_once()
    assert s["messages"] == 10
    assert t.scan().count() == 11  # all 10 queued rows + the foreign one
    # replay safety still holds afterwards (property now recorded)
    ing.consumer.commit(0)
    before = t.manifest.version
    ing.drain_once()
    assert t.manifest.version == before and t.scan().count() == 11


def test_drain_matches_interpretive_append(spark, tmp_path):
    """The columnar drain (compiled decoder -> one Arrow table ->
    append_arrow) stages exactly what the interpretive decoder plus
    append_rows would: every RICH_SCHEMA field kind (nullable unions,
    timestamps, date, time, decimal, map, nested record, enum), a
    tombstone, a replayed prefix below the applied floor, an Avro field
    the table lacks and a table column the Avro schema lacks."""
    from pyspark.sql import types as T

    from tests.test_avro_arrow import RICH_SCHEMA, _rich_value

    struct = avro_schema_to_struct(RICH_SCHEMA)
    table_struct = T.StructType(
        [f for f in struct.fields if f.name != "score"]  # Avro-only field
        + [T.StructField("note", T.StringType())]  # table-only column
    )
    payloads = [encode_datum(RICH_SCHEMA, _rich_value(i)) for i in range(30)]
    qdir = str(tmp_path / "q")
    p = FileQueueProducer(qdir)
    for v in payloads[:10]:
        p.send(v)
    p.send(None, key=b"gone")  # tombstone at offset 10
    p.close()

    t = MoonlinkTable.create(
        spark, str(tmp_path / "t"), table_struct, IdentityProp.none()
    )
    ing = AvroQueueIngestor(t, FileQueueConsumer(qdir), RICH_SCHEMA)
    assert ing.drain_once()["messages"] == 11
    p = FileQueueProducer(qdir)
    for v in payloads[10:]:
        p.send(v)
    p.close()
    # replay offsets 5..10 (applied) merged with the 20 new messages
    ing.consumer.commit(5)
    assert ing.drain_once()["messages"] == 26

    ref = MoonlinkTable.create(
        spark, str(tmp_path / "ref"), table_struct, IdentityProp.none()
    )
    ref.append_rows(
        row_for_spark(RICH_SCHEMA, decode_record(RICH_SCHEMA, v))
        for v in payloads
    )
    ref.commit()

    def rows(tbl):
        got = [r.asDict(recursive=True) for r in tbl.scan().collect()]
        return sorted(got, key=lambda r: r["id"])

    got = rows(t)
    assert [r["id"] for r in got] == list(range(30))
    assert all(r["note"] is None and "score" not in r for r in got)
    assert got == rows(ref)


def test_append_arrow_rejects_foreign_schema(spark, tmp_path):
    import pyarrow as pa

    from moonlink_spark.errors import TableConfigError

    t = MoonlinkTable.create(
        spark, str(tmp_path / "t"), _E_FIELDS, IdentityProp.single("id")
    )
    for bad in (
        pa.table({"id": pa.array([1], pa.int32()), "v": ["a"]}),  # type
        pa.table({"id": pa.array([1], pa.int64())}),  # missing column
    ):
        with pytest.raises(TableConfigError, match="append_arrow"):
            t.append_arrow(bad)
    assert not t.has_pending()


def test_failed_commit_after_append_arrow_discards_cleanly(
    spark, tmp_path, monkeypatch
):
    """The queue drain's failure path: a commit that fails restores the
    staged Arrow table, and discard_pending_since(mark) drops it again,
    so the retried drain cannot apply the batch twice."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    t = MoonlinkTable.create(
        spark, str(tmp_path / "t"), _E_FIELDS, IdentityProp.single("id")
    )
    tbl = pa.Table.from_pydict(
        {"id": [1, 2], "v": ["a", "b"]}, schema=to_arrow_schema(t.schema)
    )
    mark = t.pending_mark()
    t.append_arrow(tbl)

    def outage(m, **kw):
        raise OSError("injected store outage")

    monkeypatch.setattr(t.store, "commit", outage)
    with pytest.raises(OSError):
        t.commit()
    assert t.has_pending()  # the failed commit restored the op
    assert t.discard_pending_since(mark) == 1
    assert not t.has_pending()
    monkeypatch.undo()
    t.append_rows([{"id": 3, "v": "c"}])
    t.commit()
    assert sorted(r["id"] for r in t.scan().collect()) == [3]
