"""Property-based round-trips for the round-4 binary codecs: roaring64,
Z85, deletion-vector blobs, bincode varints, Avro datums, and the
scan-result wire blob. Hypothesis hammers the layouts the unit tests
spot-check. The Kafka batch codecs (snappy, lz4, zstd) are checked as
the wire contract: round trips, frames from foreign encoders, and a
ValueError for every corrupt, truncated or oversized records section."""

import shutil
import struct
import subprocess
from decimal import Decimal

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from moonlink_spark.rpc import (
    TableMetadataBlob,
    dec_varint,
    decode_request,
    enc_varint,
    encode_request,
)
from moonlink_spark.sources import kafka_wire as kw
from moonlink_spark.sources.avro_binary import decode_record, encode_datum
from moonlink_spark.table.delta_export import _z85_decode, _z85_encode
from moonlink_spark.table.puffin import (
    deserialize_roaring64,
    dv_blob_bytes,
    parse_dv_blob,
    serialize_roaring64,
)

positions = st.lists(
    st.integers(min_value=0, max_value=2**40), min_size=0, max_size=400
)


@settings(max_examples=200, deadline=None)
@given(positions)
def test_roaring64_roundtrip_prop(ps):
    assert deserialize_roaring64(serialize_roaring64(ps)) == sorted(set(ps))


@settings(max_examples=200, deadline=None)
@given(positions)
def test_dv_blob_roundtrip_prop(ps):
    assert parse_dv_blob(dv_blob_bytes(ps)) == sorted(set(ps))


@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_z85_roundtrip_prop(raw):
    assert _z85_decode(_z85_encode(raw), len(raw)) == raw


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=0, max_value=2**64 - 1))
def test_varint_roundtrip_prop(v):
    buf = enc_varint(v)
    got, pos = dec_varint(buf, 0)
    assert got == v and pos == len(buf)


@settings(max_examples=100, deadline=None)
@given(
    st.text(max_size=40),
    st.text(max_size=40),
    st.integers(min_value=0, max_value=2**63),
)
def test_rpc_request_roundtrip_prop(db, tbl, lsn):
    name, kw = decode_request(
        encode_request("scan_table_begin", database=db, table=tbl, lsn=lsn)
    )
    assert name == "scan_table_begin"
    assert kw == {"database": db, "table": tbl, "lsn": lsn}


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.text(min_size=1, max_size=30), max_size=10),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=0, max_value=2**31),
        ),
        max_size=50,
    ),
)
def test_table_metadata_blob_roundtrip_prop(files, pds):
    blob = TableMetadataBlob(
        data_files=files, position_deletes=sorted(pds)
    )
    assert TableMetadataBlob.decode(blob.encode()) == blob


AVRO_SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "l", "type": "long"},
        {"name": "d", "type": "double"},
        {"name": "s", "type": "string"},
        {"name": "b", "type": "bytes"},
        {"name": "m", "type": ["null", "string"]},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "dec", "type": {"type": "bytes", "logicalType": "decimal",
                                  "precision": 20, "scale": 4}},
    ],
}

avro_rows = st.fixed_dictionaries(
    {
        "l": st.integers(min_value=-(2**63), max_value=2**63 - 1),
        "d": st.floats(allow_nan=False, allow_infinity=False, width=64),
        "s": st.text(max_size=60),
        "b": st.binary(max_size=60),
        "m": st.none() | st.text(max_size=20),
        "arr": st.lists(
            st.integers(min_value=-(2**40), max_value=2**40), max_size=20
        ),
        "dec": st.decimals(
            min_value=Decimal("-1e12"),
            max_value=Decimal("1e12"),
            places=4,
            allow_nan=False,
            allow_infinity=False,
        ),
    }
)


@settings(max_examples=200, deadline=None)
@given(avro_rows)
def test_avro_datum_roundtrip_prop(row):
    back = decode_record(AVRO_SCHEMA, encode_datum(AVRO_SCHEMA, row))
    assert back == row


def _codec(name):
    """(compress, decompress) of a built-in Kafka batch codec."""
    return kw._CODECS[kw.CODEC_IDS[name]]


_payloads = st.one_of(
    st.binary(max_size=5000),
    # repetitive shapes exercise the match/overlap paths hard
    st.builds(
        lambda unit, reps, tail: unit * reps + tail,
        st.binary(min_size=1, max_size=20),
        st.integers(min_value=0, max_value=2000),
        st.binary(max_size=50),
    ),
)


@settings(max_examples=300, deadline=None)
@given(_payloads)
def test_snappy_roundtrip_prop(payload):
    compress, decompress = _codec("snappy")
    assert decompress(compress(payload)) == payload
    # bare raw snappy (no xerial framing) decodes too
    raw = pa.Codec("snappy").compress(payload, asbytes=True)
    assert decompress(raw) == payload


@settings(max_examples=120, deadline=None)
@given(_payloads)
def test_lz4_roundtrip_prop(payload):
    compress, decompress = _codec("lz4")
    assert decompress(compress(payload)) == payload


@settings(max_examples=80, deadline=None)
@given(
    st.one_of(
        _payloads,
        st.text(alphabet="abcdefgh \n", max_size=5000).map(str.encode),
    ),
    st.sampled_from([1, 3, 9, 19]),
)
def test_zstd_decode_matches_pyarrow_oracle(payload, level):
    """The streamed zstd decode inverts the C compressor at every
    level."""
    comp = pa.Codec("zstd", compression_level=level).compress(
        payload, asbytes=True
    )
    assert _codec("zstd")[1](comp) == payload


def test_zstd_multiframe_skippable_and_checksum():
    decompress = _codec("zstd")[1]
    c = pa.Codec("zstd")
    a = c.compress(b"first frame " * 50, asbytes=True)
    b = c.compress(b"second", asbytes=True)
    skip = (0x184D2A50).to_bytes(4, "little") + (7).to_bytes(4, "little") + b"padding"
    assert decompress(a + skip + b) == b"first frame " * 50 + b"second"
    good = _cli(["zstd", "-C"], b"first frame " * 50)
    assert decompress(good) == b"first frame " * 50
    bad = good[:-1] + bytes([good[-1] ^ 1])
    with pytest.raises(ValueError, match="checksum"):
        decompress(bad)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=400), st.integers(min_value=0, max_value=3))
def test_zstd_adversarial_bytes_never_hang_or_crash(junk, prefix_kind):
    """Untrusted-bytes contract: arbitrary garbage — bare,
    magic-prefixed, or a mutated valid frame — either decodes or raises
    ValueError; never an unbounded loop, never MemoryError, never
    another exception."""
    if prefix_kind == 1:
        data = (0xFD2FB528).to_bytes(4, "little") + junk
    elif prefix_kind == 2:
        data = (0x184D2A50).to_bytes(4, "little") + junk
    elif prefix_kind == 3 and junk:
        base = bytearray(
            pa.Codec("zstd").compress(b"seed data " * 30, asbytes=True)
        )
        for i, b in enumerate(junk[:16]):
            base[(7 + i * 11) % len(base)] ^= b or 1
        data = bytes(base)
    else:
        data = junk
    try:
        _codec("zstd")[1](data)
    except ValueError:
        pass


def test_zstd_cross_frame_match_rejected():
    """Matches may not reach past the current frame's start (frames are
    independent per RFC 8878). A corrupt second frame whose sequence
    points back into frame 1's bytes must raise, not silently decode
    garbage from the previous frame."""
    decompress = _codec("zstd")[1]
    frame1 = pa.Codec("zstd").compress(b"0123456789", asbytes=True)
    # hand-built frame: raw literals "ab", one sequence via RLE tables
    # (LL code 0 -> ll=0, OF code 3 + 3 extra bits 0b100 -> offset 9,
    # ML code 0 -> ml=3). Offset 9 exceeds this frame's own output (0
    # bytes at match time) but fits inside frame1's 10 bytes.
    block = bytes(
        [0x10, ord("a"), ord("b"), 0x01, 0x54, 0x00, 0x03, 0x00, 0x0C]
    )
    bh = 1 | (2 << 1) | (len(block) << 3)
    frame2 = (
        (0xFD2FB528).to_bytes(4, "little")
        + bytes([0x00, 0x00])  # FHD, window descriptor
        + bh.to_bytes(3, "little")
        + block
    )
    with pytest.raises(ValueError, match="zstd"):
        decompress(frame2)  # standalone: offset beyond empty frame
    with pytest.raises(ValueError, match="zstd"):
        decompress(frame1 + frame2)  # and cross-frame: still rejected


def _cli(argv, data):
    """``data`` through a codec CLI (skips the test when it is absent)."""
    if shutil.which(argv[0]) is None:
        pytest.skip(f"{argv[0]} CLI not on PATH")
    return subprocess.run(
        argv + ["-c"], input=data, capture_output=True, check=True
    ).stdout


def test_zstd_cli_oracle_with_checksums():
    """The reference zstd CLI at several levels WITH --content-size and
    checksums — pyarrow's codec emits neither, so this covers the
    frame-content-size and XXH64 paths against reference output."""
    decompress = _codec("zstd")[1]
    payloads = [
        b"",
        b"hello world " * 2000,
        bytes(range(256)) * 500,
        b"ababababab" * 10_000,
    ]
    for lvl in (1, 3, 12, 19, 22):
        for data in payloads:
            frame = _cli(
                ["zstd", "--ultra", f"-{lvl}", "--content-size", "-C"], data
            )
            assert decompress(frame) == data
    frame = _cli(["zstd", "-19", "--no-check"], payloads[1])
    assert decompress(frame) == payloads[1]


def test_zstd_differential_fuzz_vs_cli():
    """Differential fuzz: mutated real frames through the batch codec
    and the reference CLI. When both accept, outputs must be
    byte-identical; the codec must reject with ValueError only."""
    import random

    decompress = _codec("zstd")[1]
    rng = random.Random(1234)
    seeds = []
    for payload in [b"hello world " * 500, bytes(2000), b"abcabc" * 3000]:
        seeds.append(pa.Codec("zstd").compress(payload, asbytes=True))
        seeds.append(_cli(["zstd", "-9", "--content-size", "-C"], payload))
    for i in range(300):
        base = bytearray(rng.choice(seeds))
        kind = rng.randrange(3)
        if kind == 0:
            for _ in range(rng.randrange(1, 4)):
                base[rng.randrange(len(base))] ^= 1 << rng.randrange(8)
        elif kind == 1:
            base = base[: rng.randrange(1, len(base))]
        else:
            other = rng.choice(seeds)
            cut = rng.randrange(1, min(len(base), len(other)))
            base = base[:cut] + other[cut:]
        data = bytes(base)
        p = subprocess.run(
            ["zstd", "-d", "-c"], input=data, capture_output=True
        )
        ref = p.stdout if p.returncode == 0 else None
        try:
            mine = decompress(data)
        except ValueError:
            mine = None
        if ref is not None and mine is not None:
            assert ref == mine, f"case {i}: decoders disagree on output"


# --------------------------------------------------------------------------- #
# produce-side zstd
# --------------------------------------------------------------------------- #


@given(payload=st.binary(max_size=400_000))
@settings(max_examples=60, deadline=None)
def test_zstd_encoder_roundtrips_own_decoder(payload):
    compress, decompress = _codec("zstd")
    assert decompress(compress(payload)) == payload


def test_zstd_encoder_decodes_by_reference_cli_and_pyarrow():
    """Produce-side zstd frames decode by the reference CLI and by
    pyarrow's exact-size API, across empty/runs/incompressible shapes
    and zstd's 128 KiB block boundary."""
    import os

    block = 128 << 10
    payloads = [
        b"",
        b"a",
        b"x" * 32,
        b"\x00" * (block + 17),
        os.urandom(block * 2 + 5),
        b"head" + b"r" * 50_000 + b"tail" + os.urandom(1000),
        b"ab" * 100_000,
    ]
    compress = _codec("zstd")[0]
    for data in payloads:
        enc = compress(data)
        got = pa.Codec("zstd").decompress(enc, len(data)).to_pybytes()
        assert got == data
        if shutil.which("zstd") is not None:
            assert _cli(["zstd", "-d"], enc) == data


@given(payload=st.binary(max_size=100_000))
@settings(max_examples=25, deadline=None)
def test_zstd_encoder_pyarrow_decodes_property(payload):
    enc = _codec("zstd")[0](payload)
    assert pa.Codec("zstd").decompress(enc, len(payload)).to_pybytes() == payload


# --------------------------------------------------------------------------- #
# records sections from foreign encoders, through decode_record_batches
# --------------------------------------------------------------------------- #

_RECORDS = [(b"k%d" % i, b"value-%d " % i * 40) for i in range(200)]
_SECTION = kw.encode_record_batch(0, _RECORDS)[61:]  # plain records
_SKIP = struct.pack("<II", 0x184D2A5F, 5) + b"skip!"  # a skippable frame


def _zstd(data):
    return pa.Codec("zstd").compress(data, asbytes=True)


def _lz4(data):
    return pa.Codec("lz4").compress(data, asbytes=True)


def _half(data):
    return data[: len(data) // 2], data[len(data) // 2 :]


def _batch(codec: str, blob: bytes) -> bytes:
    """A RecordBatch of ``_RECORDS`` whose records section is ``blob``
    as-is, under ``codec``'s attribute bits, with a valid CRC."""
    tail = bytearray(kw.encode_record_batch(0, _RECORDS)[21:61]) + blob
    struct.pack_into(">h", tail, 0, kw.CODEC_IDS[codec])
    inner = struct.pack(">ibI", -1, 2, kw.crc32c(bytes(tail))) + tail
    return struct.pack(">qi", 0, len(inner)) + inner


def _corrupt(frame):
    frame = bytearray(frame)
    frame[4] |= 0x08  # a reserved frame-header bit
    return bytes(frame)


def _flip_last(frame):
    return frame[:-1] + bytes([frame[-1] ^ 1])


# case -> (codec, records-section maker, MAX_DECOMPRESSED override or
# None, expected: "ok" or the ValueError match)
_FRAME_CASES = {
    "zstd-cli-content-size-checksum": (
        "zstd",
        lambda: _cli(["zstd", "-19", "--content-size", "-C"], _SECTION),
        None, "ok",
    ),
    "lz4-cli-block-checksums": (
        "lz4", lambda: _cli(["lz4", "-BX"], _SECTION), None, "ok",
    ),
    "zstd-concatenated": (
        "zstd", lambda: b"".join(map(_zstd, _half(_SECTION))), None, "ok",
    ),
    "zstd-skippable": (
        "zstd", lambda: _SKIP.join(map(_zstd, _half(_SECTION))), None, "ok",
    ),
    "lz4-concatenated-skippable": (
        "lz4", lambda: _SKIP + b"".join(map(_lz4, _half(_SECTION))),
        None, "ok",
    ),
    "zstd-corrupt": ("zstd", lambda: _corrupt(_zstd(_SECTION)), None, "zstd"),
    "zstd-truncated": ("zstd", lambda: _zstd(_SECTION)[:-3], None, "zstd"),
    "lz4-truncated": ("lz4", lambda: _lz4(_SECTION)[:-3], None, "lz4"),
    "snappy-truncated": (
        "snappy", lambda: _codec("snappy")[0](_SECTION)[:-3], None, "snappy",
    ),
    "zstd-bad-checksum": (
        "zstd",
        lambda: _flip_last(_cli(["zstd", "-C"], _SECTION)),
        None, "(?i)checksum",
    ),
    "lz4-bad-checksum": (
        "lz4",
        lambda: _flip_last(_cli(["lz4"], _SECTION)),
        None, "(?i)checksum",
    ),
    "zstd-bomb": ("zstd", lambda: _zstd(_SECTION), 1000, "inflates past"),
    "lz4-bomb": ("lz4", lambda: _lz4(_SECTION), 1000, "inflates past"),
    "snappy-bomb": (
        "snappy", lambda: _codec("snappy")[0](_SECTION), 1000, "inflates past",
    ),
}


@pytest.mark.parametrize("case", list(_FRAME_CASES))
def test_foreign_records_section_decodes_or_fails_loud(case, monkeypatch):
    codec, build, cap, expected = _FRAME_CASES[case]
    batch = _batch(codec, build())
    if cap is not None:
        monkeypatch.setattr(kw, "MAX_DECOMPRESSED", cap)
    if expected == "ok":
        got = [(k, v) for _o, k, v in kw.decode_record_batches(batch)]
        assert got == _RECORDS
    else:
        with pytest.raises(ValueError, match=expected):
            list(kw.decode_record_batches(batch))
