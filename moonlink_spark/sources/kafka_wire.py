"""Kafka WIRE protocol transport for the Avro event feed.

Parity: the reference's Avro events arrive from Kafka — its service
registers per-table value schemas and ingests raw datums
(``moonlink_service/src/rest_api.rs:418-419`` routes
``/kafka/{table}/schema`` + ``/kafka/{table}/ingest``;
``rest_ingest/rest_source.rs:371`` notes the Kafka side strips the
framing before the datum reaches the table). Until now the repo's queue
leg was a shared-directory file queue (``sources/queue.py``); this
module adds the BROKER SOCKET leg using only the public Apache Kafka
protocol layouts (kafka.apache.org/protocol):

- requests/responses are ``int32`` size-prefixed frames; the request
  header is ``api_key:i16  api_version:i16  correlation_id:i32
  client_id:nullable_string``; responses echo the correlation id;
- message payloads use the **RecordBatch v2** on-disk/wire format
  (magic 2): the 61-byte batch header with a CRC-32C over
  attributes..end, then varint-framed records (zigzag lengths/deltas,
  nullable keys, headers) — the same bytes a real broker stores;
- APIs spoken: ApiVersions(18) v0, Metadata(3) v1, Produce(0) v3,
  Fetch(1) v4, ListOffsets(2) v1, OffsetCommit(8) v2, OffsetFetch(9)
  v1, JoinGroup(11) v0, Heartbeat(12) v0, LeaveGroup(13) v0,
  SyncGroup(14) v0 — a non-transactional producer plus BOTH consumption
  modes: explicit ``assign()`` partitions and broker-coordinated
  subscribe groups (the pre-flexible encodings, so no tagged fields; a
  real client negotiates up via ApiVersions and these versions remain
  permanently supported);
- batch compression: gzip (attributes codec 1, stdlib zlib with the
  gzip wrapper), snappy (codec 2, xerial-framed raw blocks), lz4
  (codec 3, LZ4 frames) and zstd (codec 4) — snappy, lz4 and zstd run
  on the C codecs bundled with pyarrow, so every broker default works
  out of the box, on both encode and decode.

Architecture (the honest cluster shape): :class:`KafkaWireBroker` is a
single-node broker whose topic-partition logs hold the producers'
RecordBatches verbatim, as a Kafka log segment does: Produce validates
each batch by a full decode and rewrites only its base offset, and
Fetch returns the stored batches with no decode, re-encode or CRC on
the broker — a zstd batch travels to the consumer as the producer
compressed it. :class:`KafkaWireProducer` / :class:`KafkaWireConsumer`
speak the protocol from the client side; the consumer exposes the exact
``poll()/commit()/committed`` surface of ``FileQueueConsumer``, so the
ingestion path (``AvroQueueIngestor``) runs over a live socket with no
changes — swap the consumer, keep the idempotent LSN-floor contract.

Consumer decode (:func:`decode_record_batches`) is eager and one column
at a time. A fetch comes back as one :class:`RecordColumns`: int64
offsets, one ``uint8`` buffer of the decompressed records sections, and
key/value start and length arrays (length -1 = null). The only
per-record Python is the walk over each record's length varint; the
other framing fields decode for all records at once with the Avro
varint kernels (``avro_arrow._long``), each read bounded by its
record's end. ``AvroQueueIngestor`` and the ``moonlink-kafka`` stream
source decode Avro straight from that buffer, so no ``bytes`` object or
tuple is built per record; other callers iterate ``(offset, key,
value)`` tuples. A fetch stops after the batch that gives it
``max_messages`` records at or above its offset: later batches are
neither CRC-checked nor decompressed. A wrong magic, a CRC-32C mismatch,
a codec failure, a record running past its batch, a key or value
running past its own record and a length below -1 raise ValueError; a
torn final batch ends the decode. The broker's Produce validation runs
the same framing decode: a malformed record answers INVALID_RECORD
(87) and appends nothing, and a batch-level error (magic, CRC, codec)
drops the connection.

Group coordination follows Kafka's actual division of labor: the broker
(``_GroupCoordinator``) only barriers JoinGroup rounds, elects a leader,
and relays opaque assignment bytes through SyncGroup; the LEADER CLIENT
computes the range assignment (``range_assign``) and every member
discovers membership changes through Heartbeat's REBALANCE_IN_PROGRESS.
Offsets stay in the group (OffsetCommit/OffsetFetch), not the member, so
a partition handed to another consumer resumes at the committed floor —
no loss, and the ingest path's LSN floor absorbs the at-least-once
overlap.

Authentication: SASL/PLAIN (SaslHandshake v1 + SaslAuthenticate v0
carrying the RFC 4616 ``NUL user NUL pass`` payload) on both sides —
the broker gates every non-ApiVersions API behind the exchange when
given ``sasl_credentials`` and kills unauthenticated connections the
way a real broker does; clients re-authenticate transparently on every
reconnect, so broker drops mid-stream never leave a connection
half-authed.

Implemented: TLS (implicit on the port, a real broker's
``security.protocol=SSL`` — broker wraps every accepted connection,
clients verify against a pinned CA via ``tlsutil.client_context``).
Not implemented (fail-loud or out of scope): transactions
and idempotent producer ids (producerId is -1 throughout). All four
Kafka codecs are built in on both sides; a codec id Kafka never
assigned (5-7) raises ``UnsupportedCodecError`` naming the id and the
producer-config workaround.
"""

from __future__ import annotations

import bisect
import json
import os
import socket
import socketserver
import struct
import threading
import time
import uuid
from functools import partial
from typing import Any, Iterator

import numpy as np
import pyarrow as pa

from moonlink_spark.sources.avro_arrow import _long, binary_array
from moonlink_spark.sources.converters import AvroSchemaError

# ---------------------------------------------------------------------------
# CRC-32C (Castagnoli) — RecordBatch v2 checksums use this, NOT zlib's CRC-32
# ---------------------------------------------------------------------------

_CRC32C_TABLE: list[int] = []


def _crc32c_table() -> list[int]:
    # build into a LOCAL and publish with one atomic extend: two broker
    # threads racing the first use otherwise interleave item-by-item
    # appends into the shared list, permanently corrupting every CRC
    # computed afterwards (review r10)
    if not _CRC32C_TABLE:
        poly = 0x82F63B78  # reflected 0x1EDC6F41
        local = []
        for n in range(256):
            c = n
            for _ in range(8):
                c = (c >> 1) ^ poly if c & 1 else c >> 1
            local.append(c)
        if not _CRC32C_TABLE:  # single atomic publish (GIL-protected)
            _CRC32C_TABLE.extend(local)
    return _CRC32C_TABLE


def _crc32c_scalar(data: bytes, reg: int = 0xFFFFFFFF) -> int:
    """Raw register after ``data`` (no final xor) — the fold primitive."""
    table = _crc32c_table()
    for b in data:
        reg = table[(reg ^ b) & 0xFF] ^ (reg >> 8)
    return reg


_CRC_B = 256  # bytes per block of the gather kernel
_CRC_CHUNK = 256  # blocks per gather: ~1 MB of temporaries at most
_CRC_GATHER: list | None = None  # [flat T, row offsets, T[0..3] as lists]


def _crc_gather_tables():
    """``T[j][b]``: the register after one ``_CRC_B``-byte block, started
    at 0, whose only non-zero byte is ``b`` at position ``j``. CRC is
    GF(2)-linear, so a block's register is the XOR of ``T[j][block[j]]``
    over ``j``. Starting a block at register ``r`` is the same as
    XOR-ing ``r``'s four little-endian bytes into its first four bytes,
    so ``T[0..3]`` is also the shift-by-block operator of the fold."""
    global _CRC_GATHER
    if _CRC_GATHER is None:
        import numpy as np

        tbl = np.array(_crc32c_table(), dtype=np.uint32)
        t = np.empty((_CRC_B, 256), dtype=np.uint32)
        t[-1] = tbl
        for j in range(_CRC_B - 2, -1, -1):  # one zero byte further
            t[j] = tbl[t[j + 1] & 0xFF] ^ (t[j + 1] >> 8)
        offs = np.arange(_CRC_B, dtype=np.uint32) * 256
        _CRC_GATHER = [t.ravel(), offs] + [t[k].tolist() for k in range(4)]
    return _CRC_GATHER


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli, reflected — the RecordBatch checksum).

    Each block's register (started at 0) is one numpy gather from
    ``T`` plus an XOR-reduce; the block registers then fold left to
    right through the shift-by-block operator. Bit-for-bit equal to the
    scalar loop, which remains the path for inputs under four blocks."""
    nb = len(data) // _CRC_B
    if nb < 4:
        return _crc32c_scalar(data) ^ 0xFFFFFFFF
    import numpy as np

    flat, offs, s0, s1, s2, s3 = _crc_gather_tables()
    r = 0xFFFFFFFF
    for first in range(0, nb, _CRC_CHUNK):
        m = min(_CRC_CHUNK, nb - first)
        blocks = np.frombuffer(
            data, np.uint8, count=m * _CRC_B, offset=first * _CRC_B
        ).reshape(m, _CRC_B)
        regs = np.bitwise_xor.reduce(flat.take(blocks + offs), axis=1)
        for c in regs.tolist():
            r = (
                s0[r & 0xFF] ^ s1[(r >> 8) & 0xFF]
                ^ s2[(r >> 16) & 0xFF] ^ s3[r >> 24] ^ c
            )
    return _crc32c_scalar(data[nb * _CRC_B :], r) ^ 0xFFFFFFFF


# ---------------------------------------------------------------------------
# primitive codecs (pre-flexible Kafka encodings)
# ---------------------------------------------------------------------------


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _varint(n: int) -> bytes:
    """Unsigned LEB128 of the zigzagged value (Kafka's varint/varlong)."""
    v = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


_VARINT_CACHE: list[bytes] = []


def _varint_cache() -> list[bytes]:
    """Pre-encoded varints for 0..16383 (every offsetDelta and most
    length prefixes in practice hit this). Built into a local and
    published with ONE extend — racing first uses must not interleave
    (review r10)."""
    if not _VARINT_CACHE:
        local = [_varint(n) for n in range(16384)]
        if not _VARINT_CACHE:
            _VARINT_CACHE.extend(local)
    return _VARINT_CACHE


def _string(s: str) -> bytes:
    b = s.encode()
    return struct.pack(">h", len(b)) + b


def _nullable_string(s: str | None) -> bytes:
    return struct.pack(">h", -1) if s is None else _string(s)


def _read_string(buf: bytes, pos: int) -> tuple[str | None, int]:
    (n,) = struct.unpack_from(">h", buf, pos)
    pos += 2
    if n < 0:
        return None, pos
    return buf[pos : pos + n].decode(), pos + n


def _bytes32(b: bytes | None) -> bytes:
    return struct.pack(">i", -1) if b is None else struct.pack(">i", len(b)) + b


def _read_bytes32(buf: bytes, pos: int) -> tuple[bytes | None, int]:
    (n,) = struct.unpack_from(">i", buf, pos)
    pos += 4
    if n < 0:
        return None, pos
    return buf[pos : pos + n], pos + n


# ---------------------------------------------------------------------------
# RecordBatch v2 codec
# ---------------------------------------------------------------------------


class UnsupportedCodecError(ValueError):
    """A RecordBatch names a compression codec id Kafka never assigned
    (5-7 in the attributes' three codec bits). The message names the id
    and the producer-config workaround."""

    def __init__(self, codec_id: int):
        name = CODEC_NAMES.get(codec_id, str(codec_id))
        super().__init__(
            f"unsupported compression codec {name!r} (id {codec_id}): "
            f"Kafka defines only none/gzip/snappy/lz4/zstd (ids 0-4), "
            f"all built in on decode and produce; configure the producer "
            f"with one of them as its compression.type"
        )
        self.codec_id = codec_id
        self.codec_name = name


CODEC_NAMES = {0: "none", 1: "gzip", 2: "snappy", 3: "lz4", 4: "zstd"}
CODEC_IDS = {v: k for k, v in CODEC_NAMES.items()}

# hard ceiling on one records section's decompressed size (Kafka
# RecordBatches are bounded by fetch.max.bytes anyway): a decompression
# bomb from a network peer fails before the output is allocated
MAX_DECOMPRESSED = 1 << 31
_READ_CHUNK = 1 << 20
# baseOffset(8) batchLength(4) partitionLeaderEpoch(4) magic(1) crc(4)
# attributes(2) lastOffsetDelta(4) firstTimestamp(8) maxTimestamp(8)
# producerId(8) producerEpoch(2) baseSequence(4) recordCount(4)
_BATCH_HEADER = 61


def _gzip_compress(data: bytes) -> bytes:
    import zlib

    co = zlib.compressobj(wbits=31)  # gzip wrapper
    return co.compress(data) + co.flush()


def _gzip_decompress(data: bytes) -> bytes:
    import zlib

    try:
        return zlib.decompress(data, wbits=47)
    except zlib.error as e:
        raise ValueError(f"corrupt gzip records section: {e}") from e


def _arrow_compress(name: str, data: bytes) -> bytes:
    return pa.Codec(name).compress(data, asbytes=True)


def _frame_decompress(name: str, data: bytes) -> bytes:
    """zstd or lz4 frames, decoded as a stream in bounded chunks: frames
    without a content size still decode, concatenated and skippable
    frames are the C decoder's job, and output past
    ``MAX_DECOMPRESSED`` fails before it is read."""
    parts: list[bytes] = []
    total = 0
    try:
        stream = pa.CompressedInputStream(pa.BufferReader(data), name)
        while True:
            chunk = stream.read(min(_READ_CHUNK, MAX_DECOMPRESSED + 1 - total))
            if not chunk:
                return b"".join(parts)
            total += len(chunk)
            if total > MAX_DECOMPRESSED:
                raise ValueError(
                    f"{name} records section inflates past "
                    f"{MAX_DECOMPRESSED} bytes"
                )
            parts.append(chunk)
    except (OSError, pa.ArrowInvalid) as e:
        raise ValueError(f"corrupt {name} records section: {e}") from e


# snappy-java's xerial framing, which is what Kafka snappy payloads are:
# magic, version and compat int32s, then int32-BE-length-prefixed raw
# snappy blocks of at most 32 KiB uncompressed
_XERIAL_MAGIC = b"\x82SNAPPY\x00"
_XERIAL_HEADER = _XERIAL_MAGIC + struct.pack(">ii", 1, 1)
_XERIAL_BLOCK = 32 * 1024


def _snappy_compress(data: bytes) -> bytes:
    codec = pa.Codec("snappy")
    out = [_XERIAL_HEADER]
    # an empty payload still gets one (empty) block
    for i in range(0, max(len(data), 1), _XERIAL_BLOCK):
        block = codec.compress(data[i : i + _XERIAL_BLOCK], asbytes=True)
        out += (struct.pack(">I", len(block)), block)
    return b"".join(out)


def _snappy_block(codec, block: bytes, budget: int) -> bytes:
    # a raw snappy block opens with its decoded length as a uvarint
    n = shift = p = 0
    while True:
        if p >= len(block) or shift > 28:
            raise ValueError("corrupt snappy block: bad length preamble")
        b = block[p]
        p += 1
        n |= (b & 0x7F) << shift
        if b < 0x80:
            break
        shift += 7
    if n > budget:
        raise ValueError(
            f"snappy records section inflates past {MAX_DECOMPRESSED} bytes"
        )
    return codec.decompress(block, n, asbytes=True)


def _snappy_decompress(data: bytes) -> bytes:
    """A xerial block stream, or a bare raw-snappy payload (some
    librdkafka configurations send those)."""
    codec = pa.Codec("snappy")
    try:
        if not data.startswith(_XERIAL_MAGIC):
            return _snappy_block(codec, data, MAX_DECOMPRESSED)
        parts: list[bytes] = []
        total = 0
        p = len(_XERIAL_HEADER)
        while p < len(data):
            if p + 4 > len(data):
                raise ValueError("corrupt xerial snappy: truncated length")
            (blen,) = struct.unpack_from(">I", data, p)
            p += 4
            if p + blen > len(data):
                raise ValueError("corrupt xerial snappy: truncated block")
            out = _snappy_block(
                codec, data[p : p + blen], MAX_DECOMPRESSED - total
            )
            total += len(out)
            parts.append(out)
            p += blen
        return b"".join(parts)
    except (OSError, pa.ArrowInvalid) as e:
        raise ValueError(f"corrupt snappy records section: {e}") from e


# codec id -> (compress, decompress): gzip through stdlib zlib, the other
# three through the C codecs bundled with pyarrow
_CODECS: dict[int, tuple] = {
    1: (_gzip_compress, _gzip_decompress),
    2: (_snappy_compress, _snappy_decompress),
    3: (partial(_arrow_compress, "lz4"), partial(_frame_decompress, "lz4")),
    4: (partial(_arrow_compress, "zstd"), partial(_frame_decompress, "zstd")),
}


def _codec_or_raise(codec_id: int) -> tuple:
    try:
        return _CODECS[codec_id]
    except KeyError:
        raise UnsupportedCodecError(codec_id) from None


def encode_record_batch(
    base_offset: int,
    records: list[tuple[bytes | None, bytes]],
    first_timestamp_ms: int | None = None,
    compression: str | None = None,
) -> bytes:
    """One magic-2 batch; ``records`` is [(key|None, value)].

    ``compression="gzip"`` compresses the records section (everything
    after the record count, per the batch spec) and sets attributes
    codec bits to 1; the CRC covers the COMPRESSED bytes."""
    ts = (
        int(time.time() * 1000)
        if first_timestamp_ms is None
        else first_timestamp_ms
    )
    # hot loop (every produce): varints come from a small-value cache
    # and records are assembled with one join
    vc = _varint_cache()
    vlast = len(vc) - 1
    null_len = b"\x01"  # varint(-1) zigzagged
    parts: list[bytes] = []
    ap = parts.append
    for i, (key, value) in enumerate(records):
        od = vc[i] if 0 <= i <= vlast else _varint(i)
        if key is None:
            kpart = null_len
            klen = 0
        else:
            klen = len(key)
            kpart = (
                (vc[klen] if klen <= vlast else _varint(klen)) + key
            )
        if value is None:  # tombstone
            vpart = null_len
            vlen = 0
        else:
            vlen = len(value)
            vpart = (
                (vc[vlen] if vlen <= vlast else _varint(vlen)) + value
            )
        # attributes \x00, timestampDelta 0, offsetDelta, key, value,
        # headers count 0
        body = b"\x00\x00" + od + kpart + vpart + b"\x00"
        blen = len(body)
        ap(vc[blen] if blen <= vlast else _varint(blen))
        ap(body)
    recs = b"".join(parts)
    n = len(records)
    if compression is None or compression == "none":
        attrs, rec_bytes = 0, bytes(recs)
    else:
        cid = CODEC_IDS.get(compression)
        if cid is None:
            raise ValueError(f"unknown compression {compression!r}")
        compress, _ = _codec_or_raise(cid)
        attrs, rec_bytes = cid, compress(bytes(recs))
    # attributes..end — the CRC-covered span per the batch spec
    tail = (
        struct.pack(
            ">hiqqqhii",
            attrs,  # codec bits 0-2 (0=none, 1=gzip), create-time
            n - 1,  # lastOffsetDelta
            ts,  # firstTimestamp
            ts,  # maxTimestamp
            -1,  # producerId
            -1,  # producerEpoch
            -1,  # baseSequence
            n,  # record count
        )
        + rec_bytes
    )
    crc = crc32c(tail)
    # batchLength counts bytes AFTER itself: partitionLeaderEpoch(4) +
    # magic(1) + crc(4) + tail
    inner = struct.pack(">ibI", -1, 2, crc) + tail
    return struct.pack(">qi", base_offset, len(inner)) + inner


class RecordColumns:
    """The records of one fetch, one array per field.

    ``offsets`` is int64; ``buf`` is ``uint8``, the fetch's records
    sections (decompressed); ``key_start``/``key_len`` and
    ``value_start``/``value_len`` are int64 positions in ``buf``, where
    a length of -1 is a null. Bulk consumers read the arrays. The value
    also iterates and indexes as ``(offset, key, value)`` tuples, and
    only then slices ``bytes`` out of ``buf``."""

    __slots__ = (
        "offsets", "buf", "key_start", "key_len", "value_start", "value_len"
    )

    def __init__(self, offsets, buf, key_start, key_len, value_start, value_len):
        self.offsets = offsets
        self.buf = buf
        self.key_start = key_start
        self.key_len = key_len
        self.value_start = value_start
        self.value_len = value_len

    @classmethod
    def from_tuples(cls, msgs) -> "RecordColumns":
        """``[(offset, key, value)]`` -> columns, keys and values packed
        into one buffer."""
        offsets, ks, kl, vs, vl, parts, at = [], [], [], [], [], [], 0
        for off, key, value in msgs:
            offsets.append(off)
            for b, starts, lens in ((key, ks, kl), (value, vs, vl)):
                starts.append(at)
                lens.append(-1 if b is None else len(b))
                if b is not None:
                    parts.append(b)
                    at += len(b)
        return cls(
            np.array(offsets, np.int64),
            np.frombuffer(b"".join(parts), np.uint8),
            *(np.array(c, np.int64) for c in (ks, kl, vs, vl)),
        )

    @staticmethod
    def concat(parts: list["RecordColumns"]) -> "RecordColumns":
        """One value holding ``parts``' records in order."""
        if not parts:
            return RecordColumns.from_tuples([])
        shift = np.cumsum([0] + [len(p.buf) for p in parts[:-1]])
        return RecordColumns(
            np.concatenate([p.offsets for p in parts]),
            np.concatenate([p.buf for p in parts]),
            np.concatenate([p.key_start + s for p, s in zip(parts, shift)]),
            np.concatenate([p.key_len for p in parts]),
            np.concatenate([p.value_start + s for p, s in zip(parts, shift)]),
            np.concatenate([p.value_len for p in parts]),
        )

    def take(self, rows) -> "RecordColumns":
        """The records at ``rows`` (indexes or a boolean mask); the
        buffer is shared."""
        return RecordColumns(
            self.offsets[rows], self.buf, self.key_start[rows],
            self.key_len[rows], self.value_start[rows], self.value_len[rows],
        )

    def keys(self) -> pa.Array:
        """The keys as a ``large_binary`` array (null keys null)."""
        return binary_array(self.buf, self.key_start, self.key_len)

    def values(self) -> pa.Array:
        """The values as a ``large_binary`` array (tombstones null)."""
        return binary_array(self.buf, self.value_start, self.value_len)

    def __len__(self) -> int:
        return len(self.offsets)

    def __getitem__(self, i: int) -> tuple[int, bytes | None, bytes | None]:
        i = range(len(self))[i]
        ks, kl = int(self.key_start[i]), int(self.key_len[i])
        vs, vl = int(self.value_start[i]), int(self.value_len[i])
        return (
            int(self.offsets[i]),
            None if kl < 0 else self.buf[ks : ks + kl].tobytes(),
            None if vl < 0 else self.buf[vs : vs + vl].tobytes(),
        )

    def __iter__(self) -> Iterator[tuple[int, bytes | None, bytes | None]]:
        data = self.buf.tobytes()
        for off, ks, kl, vs, vl in zip(
            self.offsets.tolist(), self.key_start.tolist(),
            self.key_len.tolist(), self.value_start.tolist(),
            self.value_len.tolist(),
        ):
            yield (
                off,
                None if kl < 0 else data[ks : ks + kl],
                None if vl < 0 else data[vs : vs + vl],
            )


def _open_batches(data: bytes) -> Iterator[tuple[int, int, bytes]]:
    """``(base offset, record count, records section)`` of each whole
    batch in ``data``, its magic and CRC-32C checked and its section
    decompressed (ValueError otherwise). A torn final batch (a fetch may
    cut one) ends the walk. A batch is read only when the caller asks
    for it."""
    pos = 0
    while pos + 12 <= len(data):
        base, blen = struct.unpack_from(">qi", data, pos)
        if pos + 12 + blen > len(data):
            return  # torn tail
        if blen < _BATCH_HEADER - 12:
            raise ValueError(f"record batch length {blen} is below its header")
        _epoch, magic, crc = struct.unpack_from(">ibI", data, pos + 12)
        if magic != 2:
            raise ValueError(f"unsupported record batch magic {magic}")
        tail = data[pos + 21 : pos + 12 + blen]
        if crc32c(tail) != crc:
            raise ValueError("record batch CRC-32C mismatch")
        attrs, _last, _ft, _mt, _pid, _pe, _bs, count = struct.unpack_from(
            ">hiqqqhii", tail, 0
        )
        codec = attrs & 0x07
        section = _codec_or_raise(codec)[1](tail[40:]) if codec else tail[40:]
        yield base, max(count, 0), section
        pos += 12 + blen


def _record_heads(section: bytes, count: int, heads: list) -> None:
    """Append where each record (its length varint) begins in
    ``section``: the walk over the records' length varints, the one
    per-record Python loop of the decode."""
    ap = heads.append
    p = 0
    try:
        for _ in range(count):
            ap(p)
            r = section[p]
            p += 1
            if r >= 0x80:
                r &= 0x7F
                sh = 7
                while True:
                    b = section[p]
                    p += 1
                    r |= (b & 0x7F) << sh
                    if b < 0x80:
                        break
                    sh += 7
            p += (r >> 1) ^ -(r & 1)
    except IndexError:
        raise ValueError("record length overruns the batch") from None


def _field(length, pos, end, what: str):
    """Check a key or value length against its record -> the position
    after the field. -1 is a null; anything below, or a field running
    past its record's end, raises."""
    bad = (length < -1) | (length > end - pos)
    if bad.any():
        n = length[np.flatnonzero(bad)[0]]
        raise ValueError(
            f"record {what} length {n} "
            + ("is below -1" if n < -1 else "overruns its record")
        )
    return pos + np.maximum(length, 0)


def _frame(
    batches: list[tuple[int, int, bytes]],
    floor: int | None = None,
    limit: int | None = None,
) -> RecordColumns:
    """The records of opened batches, their framing decoded one field
    at a time for every record with the Avro varint kernels, each read
    bounded by its record's end. Keeps the first ``limit`` records at or
    above ``floor``."""
    heads: list[int] = []
    for _base, count, section in batches:
        _record_heads(section, count, heads)
    if not heads:  # an empty fetch skips the kernels' fixed cost (~0.1 ms)
        return RecordColumns.from_tuples([])
    counts = [c for _b, c, _s in batches]
    sizes = np.array([len(s) for _b, _c, s in batches], np.int64)
    # each record's section: where it begins and ends in the buffer
    sec_end = np.repeat(np.cumsum(sizes), counts)
    head = np.array(heads, np.int64) + sec_end - np.repeat(sizes, counts)
    buf = np.frombuffer(b"".join(s for _b, _c, s in batches), np.uint8)
    try:
        length, start = _long(buf, head, sec_end)
        if ((length < 0) | (length > sec_end - start)).any():
            raise ValueError("record length overruns the batch")
        end = start + length
        # attributes (one byte), timestampDelta, offsetDelta, key, value;
        # the headers after the value are not read
        _ts, pos = _long(buf, start + 1, end)
        delta, pos = _long(buf, pos, end)
        key_len, key_start = _long(buf, pos, end)
        value_len, value_start = _long(buf, _field(key_len, key_start, end, "key"), end)
    except AvroSchemaError as e:
        raise ValueError(f"malformed record: {e}") from e
    _field(value_len, value_start, end, "value")
    offsets = np.repeat(np.array([b for b, _c, _s in batches], np.int64), counts)
    offsets += delta
    out = RecordColumns(offsets, buf, key_start, key_len, value_start, value_len)
    if floor is not None:
        out = out.take(offsets >= floor)
    return out if limit is None else out.take(slice(limit))


def decode_record_batches(
    data: bytes, floor: int | None = None, limit: int | None = None
) -> RecordColumns:
    """The records of every whole RecordBatch in ``data`` as one
    :class:`RecordColumns`, decoded eagerly.

    With ``floor``, only records at or above that offset are kept; with
    ``limit``, at most that many, the first in order, and the decode
    stops after the batch that provides them: later batches are neither
    CRC-checked nor decompressed.

    Errors: a wrong magic, a CRC-32C mismatch, a codec failure, a record
    running past its batch, a key or value running past its own record
    and a length below -1 raise ValueError. A torn final batch (a fetch
    may cut one) ends the decode."""
    opened = []
    kept = 0
    for base, count, section in _open_batches(data):
        opened.append((base, count, section))
        # at least this many of the batch's records are at or above the
        # floor: its offsets are distinct and none is below ``base``
        kept += count if floor is None else max(0, count - max(0, floor - base))
        if limit is not None and kept >= limit:
            break
    return _frame(opened, floor, limit)


# ---------------------------------------------------------------------------
# broker
# ---------------------------------------------------------------------------

_API = {"produce": 0, "fetch": 1, "list_offsets": 2, "metadata": 3,
        "offset_commit": 8, "offset_fetch": 9, "join_group": 11,
        "heartbeat": 12, "leave_group": 13, "sync_group": 14,
        "sasl_handshake": 17, "api_versions": 18, "sasl_authenticate": 36}
_ERR_NONE = 0
_ERR_OFFSET_OUT_OF_RANGE = 1
_ERR_UNKNOWN_TOPIC = 3
_ERR_ILLEGAL_GENERATION = 22
_ERR_UNKNOWN_MEMBER = 25
_ERR_REBALANCE_IN_PROGRESS = 27
_ERR_UNSUPPORTED_SASL_MECHANISM = 33
_ERR_SASL_AUTH_FAILED = 58
_ERR_INVALID_RECORD = 87


class SaslAuthError(Exception):
    """SASL authentication rejected by the broker — NOT retriable (a
    retry would just fail again with the same credentials), so it
    escapes the transport retry loop and surfaces to the caller."""


class _GroupCoordinator:
    """Consumer-group state machine (the GroupCoordinator role of a real
    broker, kafka.apache.org/protocol group-membership APIs): JoinGroup
    barriers a rebalance round, the leader distributes assignments via
    SyncGroup (client-side assignment, Kafka's actual model — the broker
    never interprets assignment bytes), Heartbeat reports
    REBALANCE_IN_PROGRESS so stable members rejoin, LeaveGroup triggers
    the next round. Members that miss a rebalance round are evicted at
    the round deadline (session-timeout eviction for crashed members)."""

    def __init__(self, rebalance_timeout_s: float = 2.0):
        self.rebalance_timeout_s = rebalance_timeout_s
        self._groups: dict[str, dict[str, Any]] = {}
        self._cond = threading.Condition()
        self._seq = 0

    def _group(self, gid: str) -> dict[str, Any]:
        if gid not in self._groups:
            self._groups[gid] = {
                "state": "empty",  # empty | rebalancing | syncing | stable
                "generation": 0,
                "members": {},  # member_id -> subscription metadata
                "joined": {},  # members seen in the CURRENT round
                "assignments": {},  # member_id -> assignment bytes
                "leader": None,
                "deadline": 0.0,
            }
        return self._groups[gid]

    def _begin_rebalance(self, g: dict[str, Any]) -> None:
        g["state"] = "rebalancing"
        g["generation"] += 1
        g["joined"] = {}
        g["assignments"] = {}
        g["deadline"] = time.monotonic() + self.rebalance_timeout_s

    def join(
        self, gid: str, member_id: str, metadata: bytes
    ) -> tuple[int, int, str, str, list[tuple[str, bytes]]]:
        """-> (error, generation, leader_id, member_id, members). Blocks
        (bounded by the round deadline) until every previously-known
        member has rejoined — the JoinGroup barrier."""
        with self._cond:
            g = self._group(gid)
            if not member_id:
                self._seq += 1
                member_id = f"member-{self._seq}-{uuid.uuid4().hex[:8]}"
            if g["state"] in ("empty", "stable", "syncing"):
                self._begin_rebalance(g)
            g["joined"][member_id] = metadata
            g["members"].setdefault(member_id, metadata)
            g["members"][member_id] = metadata
            gen = g["generation"]
            self._cond.notify_all()
            while (
                g["generation"] == gen
                and g["state"] == "rebalancing"
                and not set(g["members"]) <= set(g["joined"])
                and time.monotonic() < g["deadline"]
            ):
                self._cond.wait(timeout=0.05)
            if g["generation"] != gen:
                # a newer round superseded this one mid-wait: rejoin
                return (_ERR_REBALANCE_IN_PROGRESS, 0, "", member_id, [])
            if g["state"] == "rebalancing":
                # round complete (all rejoined, or deadline evicted the rest)
                g["members"] = dict(g["joined"])
                g["leader"] = sorted(g["members"])[0]
                g["state"] = "syncing"
                self._cond.notify_all()
            members = (
                sorted(g["members"].items())
                if member_id == g["leader"]
                else []
            )
            return (_ERR_NONE, gen, g["leader"], member_id, members)

    def sync(
        self,
        gid: str,
        generation: int,
        member_id: str,
        assignment_map: dict[str, bytes],
    ) -> tuple[int, bytes]:
        """-> (error, this member's assignment). The leader's call carries
        the full map and releases the followers."""
        with self._cond:
            g = self._group(gid)
            if member_id not in g["members"]:
                return (_ERR_UNKNOWN_MEMBER, b"")
            if generation != g["generation"]:
                return (_ERR_ILLEGAL_GENERATION, b"")
            if member_id == g["leader"] and assignment_map:
                g["assignments"] = dict(assignment_map)
                g["state"] = "stable"
                self._cond.notify_all()
            else:
                deadline = time.monotonic() + self.rebalance_timeout_s * 2
                while (
                    g["generation"] == generation
                    and g["state"] != "stable"
                    and time.monotonic() < deadline
                ):
                    self._cond.wait(timeout=0.05)
                if g["generation"] != generation:
                    return (_ERR_REBALANCE_IN_PROGRESS, b"")
                if g["state"] != "stable":
                    return (_ERR_REBALANCE_IN_PROGRESS, b"")
            return (_ERR_NONE, g["assignments"].get(member_id, b""))

    def heartbeat(self, gid: str, generation: int, member_id: str) -> int:
        with self._cond:
            g = self._group(gid)
            if member_id not in g["members"]:
                return _ERR_UNKNOWN_MEMBER
            if g["state"] in ("rebalancing", "syncing"):
                return _ERR_REBALANCE_IN_PROGRESS
            if generation != g["generation"]:
                return _ERR_ILLEGAL_GENERATION
            return _ERR_NONE

    def leave(self, gid: str, member_id: str) -> int:
        with self._cond:
            g = self._group(gid)
            if member_id not in g["members"]:
                return _ERR_UNKNOWN_MEMBER
            del g["members"][member_id]
            g["joined"].pop(member_id, None)
            g["assignments"].pop(member_id, None)
            if g["members"]:
                self._begin_rebalance(g)
            else:
                g["state"] = "empty"
                g["leader"] = None
            self._cond.notify_all()
            return _ERR_NONE


class _PartitionLog:
    """One topic-partition: the producers' RecordBatch v2 batches stored
    verbatim in ``segment-broker.log``, as a Kafka log segment holds
    them. Produce rewrites only each batch's ``baseOffset`` (bytes 0-7,
    outside the CRC); fetch serves the stored bytes unchanged.

    ``_index`` has one ``(base offset, end offset, file position,
    length)`` entry per batch in offset order. Appends extend it after
    their fsync, together with ``next_offset``, so a fetch never sees an
    unpublished batch. A restart rebuilds it from the batch headers."""

    def __init__(self, log_dir: str):
        self.dir = log_dir
        os.makedirs(log_dir, exist_ok=True)
        self.path = os.path.join(log_dir, "segment-broker.log")
        self.lock = threading.Lock()
        self.next_offset = 0
        self._index: list[tuple[int, int, int, int]] = []
        self._size = 0  # bytes of whole batches in the file
        if os.path.exists(self.path):
            self._recover()

    def _recover(self) -> None:
        size = os.path.getsize(self.path)
        pos = 0
        with open(self.path, "rb") as fh:
            while pos < size:
                fh.seek(pos)
                head = fh.read(_BATCH_HEADER)
                if len(head) < _BATCH_HEADER:
                    break  # torn tail
                base, blen, _epoch, magic, crc = struct.unpack_from(
                    ">qiibI", head
                )
                if magic != 2 or blen < _BATCH_HEADER - 12:
                    raise ValueError(
                        f"{self.path}: not a RecordBatch v2 log (magic "
                        f"{magic}, length {blen} at byte {pos})"
                    )
                if pos + 12 + blen > size:
                    break  # torn tail
                if pos == 0:  # later batches: headers only
                    rest = fh.read(12 + blen - _BATCH_HEADER)
                    if crc32c(head[21:] + rest) != crc:
                        raise ValueError(
                            f"{self.path}: not a RecordBatch v2 log (bad "
                            f"CRC-32C on the first batch)"
                        )
                (last,) = struct.unpack_from(">i", head, 23)
                self._index.append((base, base + last + 1, pos, 12 + blen))
                pos += 12 + blen
        if pos == 0 and size:
            raise ValueError(
                f"{self.path}: not a RecordBatch v2 log ({size} bytes, "
                f"no whole batch)"
            )
        if pos < size:  # a crash cut the last append short
            os.truncate(self.path, pos)
        self._size = pos
        if self._index:
            self.next_offset = self._index[-1][1]

    def append(self, batches: list[bytes]) -> int:
        """Store validated batches under one fsync; -> the first one's
        base offset."""
        with self.lock:
            base = off = self.next_offset
            pos = self._size
            out, entries = [], []
            for b in batches:
                (last,) = struct.unpack_from(">i", b, 23)
                out.append(struct.pack(">q", off) + b[8:])
                entries.append((off, off + last + 1, pos, len(b)))
                off += last + 1
                pos += len(b)
            with open(self.path, "ab") as fh:
                fh.truncate(self._size)  # bytes a failed append left
                fh.write(b"".join(out))
                fh.flush()
                os.fsync(fh.fileno())
            self._index.extend(entries)
            self._size = pos
            self.next_offset = off
            return base

    def read(self, from_offset: int, max_bytes: int, hw: int) -> bytes:
        """The stored batches from the one holding ``from_offset`` on,
        each ending at or below ``hw``, within ``max_bytes`` — but at
        least one batch, however large (KIP-74)."""
        idx = self._index
        n = len(idx)  # entries a concurrent append adds are not read
        i = max(0, bisect.bisect_right(idx, (from_offset, 1 << 63), 0, n) - 1)
        if i < n and idx[i][1] <= from_offset:
            i += 1
        j, total = i, 0
        while j < n and idx[j][1] <= hw and (
            j == i or total + idx[j][3] <= max_bytes
        ):
            total += idx[j][3]
            j += 1
        if j == i:
            return b""
        with open(self.path, "rb") as fh:
            fh.seek(idx[i][2])
            return fh.read(total)


def _split_batches(rset: bytes) -> list[bytes] | None:
    """A produced record set as its batches, each validated by a full
    decode. A wrong magic, a CRC-32C mismatch or a codec failure raises
    ValueError. None when the set is not whole batches, a record's
    framing is malformed, or a batch's offset deltas are not ``0..n-1``
    with ``lastOffsetDelta == n-1``: stored as-is, such a batch would
    serve offsets the log never assigned."""
    out = []
    pos = 0
    while pos < len(rset):
        if pos + _BATCH_HEADER > len(rset):
            return None
        (blen,) = struct.unpack_from(">i", rset, pos + 8)
        end = pos + 12 + blen
        if blen < _BATCH_HEADER - 12 or end > len(rset):
            return None
        batch = rset[pos:end]
        (base,) = struct.unpack_from(">q", batch, 0)
        (last,) = struct.unpack_from(">i", batch, 23)
        (count,) = struct.unpack_from(">i", batch, 57)
        opened = list(_open_batches(batch))
        try:
            offsets = _frame(opened).offsets
        except ValueError:
            return None
        if count < 1 or last != count - 1 or not np.array_equal(
            offsets - base, np.arange(count)
        ):
            return None
        out.append(batch)
        pos = end
    return out


class KafkaWireBroker:
    """Single-node Kafka-protocol broker over file-backed partition logs.

    Topics auto-create on first Produce (the ``auto.create.topics``
    shape); group offsets persist to ``_groups/{group}.json`` so a
    consumer restart resumes exactly like the reference's committed
    Kafka group."""

    def __init__(
        self,
        log_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        drop_every: int = 0,
        rebalance_timeout_s: float = 2.0,
        sasl_credentials: dict[str, str] | None = None,
        ssl_cert: str | None = None,
        ssl_key: str | None = None,
    ):
        # TLS: with a cert/key the broker is TLS-only on its port
        # (security.protocol=SSL — implicit TLS, no STARTTLS in Kafka);
        # plaintext clients fail the handshake and are dropped
        self._ssl_ctx = None
        if ssl_cert is not None:
            from moonlink_spark.tlsutil import server_context

            self._ssl_ctx = server_context(ssl_cert, ssl_key or ssl_cert)
        # username -> password; when set, every connection must complete
        # SaslHandshake(PLAIN) + SaslAuthenticate before any other API
        # (ApiVersions excepted, as on a real broker) — unauthenticated
        # requests close the connection, failed auth gets error 58
        self.sasl_credentials = sasl_credentials
        self.log_dir = log_dir
        os.makedirs(log_dir, exist_ok=True)
        self._logs: dict[tuple[str, int], _PartitionLog] = {}
        self._lock = threading.Lock()
        self.coordinator = _GroupCoordinator(rebalance_timeout_s)
        # fault injection: abruptly close the connection BEFORE handling
        # every Nth request (the broker-restart / LB-reset shape clients
        # must absorb by reconnecting)
        self.drop_every = drop_every
        self.dropped = 0
        self._req_count = 0
        broker = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self):
                broker._serve_conn(self.request)

        class TCP(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._tcp = TCP((host, port), Handler)
        self.host, self.port = self._tcp.server_address
        self._thread: threading.Thread | None = None

    # -- storage --------------------------------------------------------------

    def log(self, topic: str, partition: int, create: bool = False):
        with self._lock:
            key = (topic, partition)
            if key not in self._logs:
                d = os.path.join(self.log_dir, f"{topic}-{partition}")
                if not create and not os.path.isdir(d):
                    return None
                self._logs[key] = _PartitionLog(d)
            return self._logs[key]

    def topic_dir(self, topic: str, partition: int = 0) -> str:
        """The partition's log directory: ``segment-broker.log`` there
        holds its stored RecordBatches (see :class:`_PartitionLog`)."""
        return os.path.join(self.log_dir, f"{topic}-{partition}")

    def _topics(self) -> dict[str, list[int]]:
        out: dict[str, list[int]] = {}
        for name in sorted(os.listdir(self.log_dir)):
            if name.startswith("_") or "-" not in name:
                continue
            topic, _, p = name.rpartition("-")
            if p.isdigit() and os.path.isdir(os.path.join(self.log_dir, name)):
                out.setdefault(topic, []).append(int(p))
        return out

    def _group_path(self, group: str) -> str:
        d = os.path.join(self.log_dir, "_groups")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{group}.json")

    def _group_offsets(self, group: str) -> dict[str, int]:
        p = self._group_path(group)
        if os.path.exists(p):
            with open(p) as fh:
                return json.load(fh)
        return {}

    def _commit_offsets(self, group: str, updates: dict[str, int]) -> None:
        with self._lock:
            cur = self._group_offsets(group)
            cur.update(updates)
            p = self._group_path(group)
            tmp = p + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(cur, fh)
            os.replace(tmp, p)

    # -- connection loop ------------------------------------------------------

    def _serve_conn(self, sock: socket.socket) -> None:
        if self._ssl_ctx is not None:
            import ssl as _ssl

            try:
                sock = self._ssl_ctx.wrap_socket(sock, server_side=True)
            except (_ssl.SSLError, ConnectionError, OSError):
                return  # plaintext or untrusting client: drop
        f = sock.makefile("rb")
        # per-connection SASL state: the session-authentication model of
        # a real broker (handshake + authenticate gate every later API)
        authed = self.sasl_credentials is None
        handshaken = False
        try:
            while True:
                head = f.read(4)
                if len(head) < 4:
                    return
                (n,) = struct.unpack(">i", head)
                # a request must at least carry the header (api, version,
                # correlation id); a negative length would make f.read()
                # block for EOF, and a huge one is a bad peer (real
                # brokers cap via socket.request.max.bytes) — close, never
                # crash the handler thread
                if n < 8 or n > (128 << 20):
                    return
                req = f.read(n)
                if len(req) < n:
                    return
                try:
                    api, ver, corr = struct.unpack_from(">hhi", req, 0)
                    _cid, pos = _read_string(req, 8)
                except (struct.error, ValueError, IndexError):
                    return  # malformed header: protocol violation, close
                if self.drop_every:
                    with self._lock:
                        self._req_count += 1
                        if self._req_count % self.drop_every == 0:
                            self.dropped += 1
                            return  # abrupt close before any state change
                if not authed and api == _API["sasl_handshake"]:
                    body, handshaken = self._sasl_handshake(req, pos)
                elif not authed and api == _API["sasl_authenticate"]:
                    if not handshaken:
                        return  # authenticate before handshake: close
                    body, authed = self._sasl_authenticate(req, pos)
                elif not authed and api != _API["api_versions"]:
                    # a real broker kills unauthenticated connections
                    return
                else:
                    try:
                        body = self._dispatch(api, ver, req, pos)
                    except (
                        struct.error,
                        ValueError,
                        IndexError,
                        KeyError,
                        UnicodeDecodeError,
                        AttributeError,  # null where a string is required
                        TypeError,
                    ):
                        # malformed request BODY: a real broker drops the
                        # connection on unparseable requests
                        return
                resp = struct.pack(">i", corr) + body
                sock.sendall(struct.pack(">i", len(resp)) + resp)
                if not authed and handshaken and api == _API[
                    "sasl_authenticate"
                ]:
                    return  # failed authenticate: respond, then close
        except (ConnectionError, OSError):
            return
        finally:
            try:
                f.close()
                sock.close()
            except OSError:
                pass

    def _sasl_handshake(self, req: bytes, pos: int) -> tuple[bytes, bool]:
        """SaslHandshake v1: mechanism -> (error, [supported]). Only
        PLAIN (RFC 4616 over the Kafka frame) is offered."""
        mechanism, _ = _read_string(req, pos)
        ok = mechanism == "PLAIN"
        err = _ERR_NONE if ok else _ERR_UNSUPPORTED_SASL_MECHANISM
        body = struct.pack(">hi", err, 1) + _string("PLAIN")
        return body, ok

    def _sasl_authenticate(self, req: bytes, pos: int) -> tuple[bytes, bool]:
        """SaslAuthenticate v0 carrying a PLAIN payload
        (``authzid NUL authcid NUL passwd``, RFC 4616)."""
        auth, _ = _read_bytes32(req, pos)
        parts = (auth or b"").split(b"\x00")
        ok = False
        if len(parts) == 3:
            user = parts[1].decode("utf-8", "replace")
            pw = parts[2].decode("utf-8", "replace")
            ok = self.sasl_credentials.get(user) == pw
        if ok:
            body = (
                struct.pack(">h", _ERR_NONE)
                + _nullable_string(None)
                + _bytes32(b"")
            )
        else:
            body = (
                struct.pack(">h", _ERR_SASL_AUTH_FAILED)
                + _nullable_string("Authentication failed")
                + _bytes32(b"")
            )
        return body, ok

    def _dispatch(self, api: int, ver: int, req: bytes, pos: int) -> bytes:
        if api == _API["api_versions"]:
            return self._api_versions()
        if api == _API["metadata"]:
            return self._metadata(req, pos)
        if api == _API["produce"]:
            return self._produce(req, pos)
        if api == _API["fetch"]:
            return self._fetch(req, pos)
        if api == _API["list_offsets"]:
            return self._list_offsets(req, pos)
        if api == _API["offset_commit"]:
            return self._offset_commit(req, pos)
        if api == _API["offset_fetch"]:
            return self._offset_fetch(req, pos)
        if api == _API["join_group"]:
            return self._join_group(req, pos)
        if api == _API["sync_group"]:
            return self._sync_group(req, pos)
        if api == _API["heartbeat"]:
            return self._heartbeat(req, pos)
        if api == _API["leave_group"]:
            return self._leave_group(req, pos)
        # UNSUPPORTED_VERSION-shaped refusal: error body for ApiVersions
        return struct.pack(">hi", 35, 0)

    def _api_versions(self) -> bytes:
        keys = [(0, 3, 3), (1, 4, 4), (2, 1, 1), (3, 1, 1), (8, 2, 2),
                (9, 1, 1), (11, 0, 0), (12, 0, 0), (13, 0, 0), (14, 0, 0),
                (18, 0, 0)]
        if self.sasl_credentials:
            # standards-following clients consult ApiVersions BEFORE
            # handshaking; omitting 17/36 made them refuse to
            # authenticate against a SASL-gated broker (review r10)
            keys += [(17, 0, 1), (36, 0, 0)]
        out = struct.pack(">hi", _ERR_NONE, len(keys))
        for k, lo, hi in keys:
            out += struct.pack(">hhh", k, lo, hi)
        return out

    def _metadata(self, req: bytes, pos: int) -> bytes:
        (ntop,) = struct.unpack_from(">i", req, pos)
        pos += 4
        wanted = None
        if ntop >= 0:
            wanted = []
            for _ in range(ntop):
                t, pos = _read_string(req, pos)
                wanted.append(t)
        topics = self._topics()
        names = wanted if wanted is not None else sorted(topics)
        out = struct.pack(">i", 1)  # one broker
        out += struct.pack(">i", 0) + _string(self.host)
        out += struct.pack(">i", self.port) + _nullable_string(None)
        out += struct.pack(">i", 0)  # controller_id
        out += struct.pack(">i", len(names))
        for t in names:
            parts = topics.get(t)
            err = _ERR_NONE if parts else _ERR_UNKNOWN_TOPIC
            out += struct.pack(">h", err) + _string(t) + b"\x00"
            out += struct.pack(">i", len(parts or []))
            for p in sorted(parts or []):
                out += struct.pack(">hii", _ERR_NONE, p, 0)
                out += struct.pack(">ii", 1, 0)  # replicas [0]
                out += struct.pack(">ii", 1, 0)  # isr [0]
        return out

    def _produce(self, req: bytes, pos: int) -> bytes:
        _txn, pos = _read_string(req, pos)  # v3 transactional_id
        _acks, _timeout, ntop = struct.unpack_from(">hii", req, pos)
        pos += 10
        results = []
        for _ in range(ntop):
            topic, pos = _read_string(req, pos)
            (nparts,) = struct.unpack_from(">i", req, pos)
            pos += 4
            for _ in range(nparts):
                (part,) = struct.unpack_from(">i", req, pos)
                pos += 4
                rset, pos = _read_bytes32(req, pos)
                log = self.log(topic, part, create=True)
                batches = _split_batches(rset or b"")
                if batches is None:
                    results.append((topic, part, _ERR_INVALID_RECORD, -1))
                else:
                    base = log.append(batches) if batches else log.next_offset
                    results.append((topic, part, _ERR_NONE, base))
        by_topic: dict[str, list] = {}
        for t, p, e, b in results:
            by_topic.setdefault(t, []).append((p, e, b))
        out = struct.pack(">i", len(by_topic))
        for t, parts in by_topic.items():
            out += _string(t) + struct.pack(">i", len(parts))
            for p, e, b in parts:
                # partition, error, base_offset, log_append_time (v3)
                out += struct.pack(">ihqq", p, e, b, -1)
        out += struct.pack(">i", 0)  # throttle_time_ms
        return out

    def _fetch(self, req: bytes, pos: int) -> bytes:
        _replica, _max_wait, _min_b, _max_b = struct.unpack_from(
            ">iiii", req, pos
        )
        pos += 16
        _isolation = req[pos]
        pos += 1
        (ntop,) = struct.unpack_from(">i", req, pos)
        pos += 4
        out_topics = []
        for _ in range(ntop):
            topic, pos = _read_string(req, pos)
            (nparts,) = struct.unpack_from(">i", req, pos)
            pos += 4
            parts = []
            for _ in range(nparts):
                part, fetch_off, pmax = struct.unpack_from(">iqi", req, pos)
                pos += 16
                log = self.log(topic, part)
                if log is None:
                    parts.append((part, _ERR_UNKNOWN_TOPIC, 0, b""))
                    continue
                hw = log.next_offset
                if fetch_off > hw:
                    parts.append((part, _ERR_OFFSET_OUT_OF_RANGE, hw, b""))
                    continue
                parts.append(
                    (part, _ERR_NONE, hw, log.read(fetch_off, pmax, hw))
                )
            out_topics.append((topic, parts))
        out = struct.pack(">i", 0)  # throttle_time_ms
        out += struct.pack(">i", len(out_topics))
        for topic, parts in out_topics:
            out += _string(topic) + struct.pack(">i", len(parts))
            for part, err, hw, rset in parts:
                out += struct.pack(">ihqq", part, err, hw, hw)  # lso = hw
                out += struct.pack(">i", 0)  # aborted_transactions: none
                out += _bytes32(rset)
        return out

    def _list_offsets(self, req: bytes, pos: int) -> bytes:
        _replica, ntop = struct.unpack_from(">ii", req, pos)
        pos += 8
        out_topics = []
        for _ in range(ntop):
            topic, pos = _read_string(req, pos)
            (nparts,) = struct.unpack_from(">i", req, pos)
            pos += 4
            parts = []
            for _ in range(nparts):
                part, ts = struct.unpack_from(">iq", req, pos)
                pos += 12
                log = self.log(topic, part)
                if log is None:
                    parts.append((part, _ERR_UNKNOWN_TOPIC, -1))
                    continue
                # -2 earliest, -1 latest. A real timestamp (seek-by-
                # time) has no timestamp index here; returning the
                # EARLIEST offset over-delivers (the consumer filters
                # forward) — returning log end silently skipped every
                # existing message (review r10)
                off = log.next_offset if ts == -1 else 0
                parts.append((part, _ERR_NONE, off))
            out_topics.append((topic, parts))
        out = struct.pack(">i", len(out_topics))
        for topic, parts in out_topics:
            out += _string(topic) + struct.pack(">i", len(parts))
            for part, err, off in parts:
                out += struct.pack(">ihqq", part, err, -1, off)
        return out

    def _offset_commit(self, req: bytes, pos: int) -> bytes:
        group, pos = _read_string(req, pos)
        (_gen,) = struct.unpack_from(">i", req, pos)
        pos += 4
        _member, pos = _read_string(req, pos)
        (_retention,) = struct.unpack_from(">q", req, pos)
        pos += 8
        (ntop,) = struct.unpack_from(">i", req, pos)
        pos += 4
        updates: dict[str, int] = {}
        echo = []
        for _ in range(ntop):
            topic, pos = _read_string(req, pos)
            (nparts,) = struct.unpack_from(">i", req, pos)
            pos += 4
            parts = []
            for _ in range(nparts):
                part, off = struct.unpack_from(">iq", req, pos)
                pos += 12
                _meta, pos = _read_string(req, pos)
                updates[f"{topic}-{part}"] = off
                parts.append(part)
            echo.append((topic, parts))
        self._commit_offsets(group, updates)
        out = struct.pack(">i", len(echo))
        for topic, parts in echo:
            out += _string(topic) + struct.pack(">i", len(parts))
            for part in parts:
                out += struct.pack(">ih", part, _ERR_NONE)
        return out

    def _offset_fetch(self, req: bytes, pos: int) -> bytes:
        group, pos = _read_string(req, pos)
        (ntop,) = struct.unpack_from(">i", req, pos)
        pos += 4
        stored = self._group_offsets(group)
        echo = []
        for _ in range(ntop):
            topic, pos = _read_string(req, pos)
            (nparts,) = struct.unpack_from(">i", req, pos)
            pos += 4
            parts = []
            for _ in range(nparts):
                (part,) = struct.unpack_from(">i", req, pos)
                pos += 4
                parts.append((part, stored.get(f"{topic}-{part}", -1)))
            echo.append((topic, parts))
        out = struct.pack(">i", len(echo))
        for topic, parts in echo:
            out += _string(topic) + struct.pack(">i", len(parts))
            for part, off in parts:
                out += struct.pack(">iq", part, off)
                out += _nullable_string(None) + struct.pack(">h", _ERR_NONE)
        return out

    # -- group coordination (JoinGroup/SyncGroup/Heartbeat/LeaveGroup v0) ----

    def _join_group(self, req: bytes, pos: int) -> bytes:
        group, pos = _read_string(req, pos)
        (_session_timeout,) = struct.unpack_from(">i", req, pos)
        pos += 4
        member, pos = _read_string(req, pos)
        _ptype, pos = _read_string(req, pos)
        (nproto,) = struct.unpack_from(">i", req, pos)
        pos += 4
        metadata = b""
        for i in range(nproto):
            _name, pos = _read_string(req, pos)
            meta, pos = _read_bytes32(req, pos)
            if i == 0:
                metadata = meta or b""
        err, gen, leader, member_id, members = self.coordinator.join(
            group, member or "", metadata
        )
        out = struct.pack(">hi", err, gen)
        out += _string("range") + _string(leader or "") + _string(member_id)
        out += struct.pack(">i", len(members))
        for mid, meta in members:
            out += _string(mid) + _bytes32(meta)
        return out

    def _sync_group(self, req: bytes, pos: int) -> bytes:
        group, pos = _read_string(req, pos)
        (gen,) = struct.unpack_from(">i", req, pos)
        pos += 4
        member, pos = _read_string(req, pos)
        (nassign,) = struct.unpack_from(">i", req, pos)
        pos += 4
        amap: dict[str, bytes] = {}
        for _ in range(nassign):
            mid, pos = _read_string(req, pos)
            a, pos = _read_bytes32(req, pos)
            amap[mid] = a or b""
        err, assignment = self.coordinator.sync(group, gen, member, amap)
        return struct.pack(">h", err) + _bytes32(assignment)

    def _heartbeat(self, req: bytes, pos: int) -> bytes:
        group, pos = _read_string(req, pos)
        (gen,) = struct.unpack_from(">i", req, pos)
        pos += 4
        member, pos = _read_string(req, pos)
        return struct.pack(">h", self.coordinator.heartbeat(group, gen, member))

    def _leave_group(self, req: bytes, pos: int) -> bytes:
        group, pos = _read_string(req, pos)
        member, pos = _read_string(req, pos)
        return struct.pack(">h", self.coordinator.leave(group, member))

    # -- lifecycle ------------------------------------------------------------

    def start(self) -> "KafkaWireBroker":
        self._thread = threading.Thread(
            target=self._tcp.serve_forever, name="kafka-broker", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._tcp.shutdown()
        self._tcp.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5.0)


# ---------------------------------------------------------------------------
# clients
# ---------------------------------------------------------------------------


class _WireConn:
    """One broker connection: framed request/response with correlation
    ids (requests on one connection are serialized, matching the
    protocol's per-connection ordering guarantee).

    Connects lazily and RECONNECTS after a socket failure; ``call``
    retries up to ``retries`` times when the caller marks the request
    retriable. Reads (Fetch/Metadata/ListOffsets/OffsetFetch) and
    OffsetCommit are idempotent, so clients retry them; Produce is NOT
    retried by default — a retry after a lost response re-appends the
    batch, the classic at-least-once duplicate of a non-idempotent
    Kafka producer (``enable.idempotence=false``). Callers that want
    that trade-off opt in explicitly."""

    def __init__(
        self,
        host: str,
        port: int,
        client_id: str,
        timeout_s: float,
        retries: int = 3,
        backoff_s: float = 0.05,
        sasl_plain: tuple[str, str] | None = None,
        ssl_ca_file: str | None = None,
        tls: bool | None = None,
    ):
        # tls=None resolves, in order: explicit CA pin -> the
        # MOONLINK_KAFKA_SECURITY_PROTOCOL env var (values SSL /
        # SASL_SSL, rdkafka's security.protocol names) -> off. tls=True
        # without a CA verifies against the system trust store
        # (tlsutil.client_context honors SSL_CERT_FILE).
        if tls is None:
            proto = os.environ.get(
                "MOONLINK_KAFKA_SECURITY_PROTOCOL", ""
            ).upper()
            tls = ssl_ca_file is not None or proto in ("SSL", "SASL_SSL")
        self.tls = tls
        self.ssl_ca_file = ssl_ca_file
        self.host = host
        self.port = port
        self.client_id = client_id
        self.timeout_s = timeout_s
        self.retries = retries
        self.backoff_s = backoff_s
        # (username, password): when set, every (re)connect runs the
        # SaslHandshake(PLAIN) + SaslAuthenticate exchange before any
        # other request — so reconnects after broker drops stay authed
        self.sasl_plain = sasl_plain
        self.sock: socket.socket | None = None
        self.f = None
        self._corr = 0
        self._lock = threading.Lock()

    def _connect(self) -> None:
        self.sock = socket.create_connection(
            (self.host, self.port), self.timeout_s
        )
        self.sock.settimeout(self.timeout_s)
        if self.tls:
            from moonlink_spark.tlsutil import client_context

            ctx = client_context(self.ssl_ca_file)
            self.sock = ctx.wrap_socket(
                self.sock, server_hostname=self.host
            )
        self.f = self.sock.makefile("rb")
        if self.sasl_plain is not None:
            self._sasl_auth()

    def _sasl_auth(self) -> None:
        user, pw = self.sasl_plain
        resp = self._call_once(
            _API["sasl_handshake"], 1, _string("PLAIN")
        )
        (err,) = struct.unpack_from(">h", resp, 0)
        if err != _ERR_NONE:
            raise SaslAuthError(f"SASL handshake rejected: error={err}")
        payload = b"\x00" + user.encode() + b"\x00" + pw.encode()
        resp = self._call_once(
            _API["sasl_authenticate"], 0, _bytes32(payload)
        )
        (err,) = struct.unpack_from(">h", resp, 0)
        if err != _ERR_NONE:
            msg, _ = _read_string(resp, 2)
            raise SaslAuthError(
                f"SASL authentication failed: error={err} {msg!r}"
            )

    def _drop(self) -> None:
        try:
            if self.f is not None:
                self.f.close()
            if self.sock is not None:
                self.sock.close()
        except OSError:
            pass
        self.sock = None
        self.f = None

    def call(
        self, api: int, version: int, body: bytes, retriable: bool = True
    ) -> bytes:
        with self._lock:
            attempt = 0
            while True:
                try:
                    if self.sock is None:
                        self._connect()
                    return self._call_once(api, version, body)
                except (ConnectionError, socket.timeout, OSError) as e:
                    self._drop()
                    attempt += 1
                    if not retriable or attempt > self.retries:
                        raise ConnectionError(str(e)) from e
                    time.sleep(self.backoff_s * attempt)

    def _call_once(self, api: int, version: int, body: bytes) -> bytes:
        self._corr += 1
        corr = self._corr
        req = (
            struct.pack(">hhi", api, version, corr)
            + _string(self.client_id)
            + body
        )
        self.sock.sendall(struct.pack(">i", len(req)) + req)
        head = self.f.read(4)
        if len(head) < 4:
            raise ConnectionError("broker closed")
        (n,) = struct.unpack(">i", head)
        resp = self.f.read(n)
        if len(resp) < n:
            raise ConnectionError("short response")
        (got,) = struct.unpack_from(">i", resp, 0)
        if got != corr:
            raise ConnectionError(
                f"correlation mismatch: sent {corr}, got {got}"
            )
        return resp[4:]

    def close(self) -> None:
        try:
            if self.f is not None:
                self.f.close()
            if self.sock is not None:
                self.sock.close()
        except OSError:
            pass


class KafkaWireProducer:
    """Protocol-side producer: batches (key, value) pairs into a
    RecordBatch v2 and Produces with acks=-1. Returns the broker-assigned
    base offset.

    ``at_least_once=True`` retries a Produce across reconnects — the
    non-idempotent Kafka producer's ``retries>0`` semantics: a lost
    RESPONSE can duplicate the batch (new offsets, same payloads), so
    only enable it when the downstream dedups (e.g. a key-identity
    table where replays upsert). Off by default: a send that fails
    mid-flight surfaces instead of risking duplicates."""

    def __init__(
        self,
        host: str,
        port: int,
        client_id: str = "moonlink-producer",
        timeout_s: float = 10.0,
        at_least_once: bool = False,
        retries: int = 3,
        compression: str | None = None,
        sasl_plain: tuple[str, str] | None = None,
        ssl_ca_file: str | None = None,
    ):
        self._conn = _WireConn(
            host, port, client_id, timeout_s, retries,
            sasl_plain=sasl_plain, ssl_ca_file=ssl_ca_file,
        )
        self.at_least_once = at_least_once
        self.compression = compression

    def send(
        self,
        topic: str,
        records: list[tuple[bytes | None, bytes]],
        partition: int = 0,
    ) -> int:
        batch = encode_record_batch(0, records, compression=self.compression)
        body = (
            _nullable_string(None)  # transactional_id
            + struct.pack(">hi", -1, 10_000)  # acks=-1, timeout
            + struct.pack(">i", 1)
            + _string(topic)
            + struct.pack(">i", 1)
            + struct.pack(">i", partition)
            + _bytes32(batch)
        )
        resp = self._conn.call(
            _API["produce"], 3, body, retriable=self.at_least_once
        )
        pos = 4  # topic count (1)
        _t, pos = _read_string(resp, pos)
        pos += 4  # partition count (1)
        part, err, base, _lat = struct.unpack_from(">ihqq", resp, pos)
        if err != _ERR_NONE:
            raise OSError(f"produce failed: topic={topic} error={err}")
        return base

    def close(self) -> None:
        self._conn.close()


class KafkaWireConsumer:
    """Protocol-side committed consumer over one explicit partition.

    Surface-compatible with ``queue.FileQueueConsumer`` —
    ``poll() -> RecordColumns`` (iterates as ``(offset, key, value)``),
    ``commit(next_offset)``,
    ``committed`` — so ``AvroQueueIngestor`` drains a live broker
    socket with zero changes and keeps its LSN-floor idempotence."""

    def __init__(
        self,
        host: str,
        port: int,
        topic: str,
        partition: int = 0,
        group: str = "default",
        client_id: str = "moonlink-consumer",
        timeout_s: float = 10.0,
        sasl_plain: tuple[str, str] | None = None,
        ssl_ca_file: str | None = None,
    ):
        self._conn = _WireConn(
            host, port, client_id, timeout_s,
            sasl_plain=sasl_plain, ssl_ca_file=ssl_ca_file,
        )
        self.topic = topic
        self.partition = partition
        self.group = group
        # adaptive wire-bytes-per-record estimate (real clients size
        # their fetch via max.partition.fetch.bytes the same way): the
        # request asks for ~max_messages worth of stored batch bytes, not
        # the 8 MiB cap — otherwise every poll on a deep log makes the
        # broker read and send ~5x the records the client will keep
        # (measured 23k -> 99k msg/s on a 200k-message drain, SCALE.md §9)
        self._avg_msg_bytes = 128

    @property
    def committed(self) -> int:
        body = (
            _string(self.group)
            + struct.pack(">i", 1)
            + _string(self.topic)
            + struct.pack(">ii", 1, self.partition)
        )
        resp = self._conn.call(_API["offset_fetch"], 1, body)
        pos = 4
        _t, pos = _read_string(resp, pos)
        pos += 4
        _part, off = struct.unpack_from(">iq", resp, pos)
        return 0 if off < 0 else off

    def poll(
        self, max_messages: int = 10_000, max_bytes: int = 8 << 20
    ) -> RecordColumns:
        return self.fetch(self.committed, max_messages, max_bytes)

    def fetch(
        self,
        from_offset: int,
        max_messages: int = 10_000,
        max_bytes: int = 8 << 20,
    ) -> RecordColumns:
        """Group-less fetch from an EXPLICIT offset — the surface an
        external offset manager (e.g. Spark's streaming checkpoint)
        drives; never touches the committed group position.

        Returns the first ``max_messages`` records at or above
        ``from_offset`` as one :class:`RecordColumns`. The decode stops
        after the batch that provides them (a batch after it is neither
        CRC-checked nor decompressed), and raises ValueError as
        :func:`decode_record_batches` does."""
        floor = from_offset
        # right-size the request: ask for ~max_messages worth of bytes
        # (adaptive estimate, x1.25 headroom), bounded by the caller's cap —
        # never the cap itself, which on a deep log makes the broker
        # read and send records this call will discard
        want = min(
            max_bytes,
            max(64 << 10, max_messages * self._avg_msg_bytes * 5 // 4),
        )
        body = (
            struct.pack(">iiii", -1, 0, 0, want)
            + b"\x00"  # isolation_level: read_uncommitted
            + struct.pack(">i", 1)
            + _string(self.topic)
            + struct.pack(">i", 1)
            + struct.pack(">iqi", self.partition, floor, want)
        )
        resp = self._conn.call(_API["fetch"], 4, body)
        pos = 8  # throttle + topic count
        _t, pos = _read_string(resp, pos)
        pos += 4  # partition count
        _part, err, _hw, _lso = struct.unpack_from(">ihqq", resp, pos)
        pos += 22
        (naborted,) = struct.unpack_from(">i", resp, pos)
        pos += 4 + max(0, naborted) * 16
        rset, pos = _read_bytes32(resp, pos)
        if err == _ERR_UNKNOWN_TOPIC:
            return RecordColumns.from_tuples([])
        if err != _ERR_NONE:
            raise OSError(f"fetch failed: error={err}")
        out = decode_record_batches(rset or b"", floor, max_messages)
        # update the sizing estimate from the whole batches received:
        # their bytes on the wire (compressed, if the producer compressed)
        # over the records they hold, read from the batch headers
        data = rset or b""
        end = nrec = 0
        while end + _BATCH_HEADER <= len(data):
            (blen,) = struct.unpack_from(">i", data, end + 8)
            if end + 12 + blen > len(data):
                break
            nrec += struct.unpack_from(">i", data, end + 57)[0]
            end += 12 + blen
        if nrec > 0:
            self._avg_msg_bytes = max(1, end // nrec)
        return out

    def commit(self, next_offset: int) -> None:
        body = (
            _string(self.group)
            + struct.pack(">i", -1)  # generation
            + _string("")  # member id
            + struct.pack(">q", -1)  # retention
            + struct.pack(">i", 1)
            + _string(self.topic)
            + struct.pack(">i", 1)
            + struct.pack(">iq", self.partition, next_offset)
            + _nullable_string(None)
        )
        resp = self._conn.call(_API["offset_commit"], 2, body)
        pos = 4
        _t, pos = _read_string(resp, pos)
        pos += 4
        _part, err = struct.unpack_from(">ih", resp, pos)
        if err != _ERR_NONE:
            raise OSError(f"offset commit failed: error={err}")

    def list_offsets(self, earliest: bool = False) -> int:
        body = (
            struct.pack(">ii", -1, 1)
            + _string(self.topic)
            + struct.pack(">i", 1)
            + struct.pack(">iq", self.partition, -2 if earliest else -1)
        )
        resp = self._conn.call(_API["list_offsets"], 1, body)
        pos = 4
        _t, pos = _read_string(resp, pos)
        pos += 4
        _part, err, _ts, off = struct.unpack_from(">ihqq", resp, pos)
        if err != _ERR_NONE:
            raise OSError(f"list_offsets failed: error={err}")
        return off

    def api_versions(self) -> dict[int, tuple[int, int]]:
        resp = self._conn.call(_API["api_versions"], 0, b"")
        err, n = struct.unpack_from(">hi", resp, 0)
        if err != _ERR_NONE:
            raise OSError(f"api_versions failed: error={err}")
        out = {}
        pos = 6
        for _ in range(n):
            k, lo, hi = struct.unpack_from(">hhh", resp, pos)
            pos += 6
            out[k] = (lo, hi)
        return out

    def metadata(self, topics: list[str] | None = None) -> dict[str, Any]:
        if topics is None:
            body = struct.pack(">i", -1)
        else:
            body = struct.pack(">i", len(topics)) + b"".join(
                _string(t) for t in topics
            )
        resp = self._conn.call(_API["metadata"], 1, body)
        (nbrokers,) = struct.unpack_from(">i", resp, 0)
        pos = 4
        brokers = []
        for _ in range(nbrokers):
            (node,) = struct.unpack_from(">i", resp, pos)
            pos += 4
            host, pos = _read_string(resp, pos)
            (port,) = struct.unpack_from(">i", resp, pos)
            pos += 4
            _rack, pos = _read_string(resp, pos)
            brokers.append({"node_id": node, "host": host, "port": port})
        (_controller,) = struct.unpack_from(">i", resp, pos)
        pos += 4
        (ntop,) = struct.unpack_from(">i", resp, pos)
        pos += 4
        topics_out = {}
        for _ in range(ntop):
            (err,) = struct.unpack_from(">h", resp, pos)
            pos += 2
            name, pos = _read_string(resp, pos)
            pos += 1  # is_internal
            (nparts,) = struct.unpack_from(">i", resp, pos)
            pos += 4
            parts = []
            for _ in range(nparts):
                _perr, pid, _leader = struct.unpack_from(">hii", resp, pos)
                pos += 10
                (nr,) = struct.unpack_from(">i", resp, pos)
                pos += 4 + nr * 4
                (ni,) = struct.unpack_from(">i", resp, pos)
                pos += 4 + ni * 4
                parts.append(pid)
            topics_out[name] = {"error": err, "partitions": parts}
        return {"brokers": brokers, "topics": topics_out}

    def close(self) -> None:
        self._conn.close()


# ---------------------------------------------------------------------------
# consumer group client (JoinGroup/SyncGroup dance, client-side assignment)
# ---------------------------------------------------------------------------


def encode_subscription(topics: list[str]) -> bytes:
    """ConsumerProtocol Subscription v0: version + topics + user_data."""
    out = struct.pack(">h", 0) + struct.pack(">i", len(topics))
    for t in topics:
        out += _string(t)
    return out + _bytes32(b"")


def decode_subscription(data: bytes) -> list[str]:
    (_v, n) = struct.unpack_from(">hi", data, 0)
    pos, topics = 6, []
    for _ in range(n):
        t, pos = _read_string(data, pos)
        topics.append(t)
    return topics


def encode_assignment(parts: dict[str, list[int]]) -> bytes:
    """ConsumerProtocol Assignment v0: version + [topic, partitions]."""
    out = struct.pack(">h", 0) + struct.pack(">i", len(parts))
    for t in sorted(parts):
        out += _string(t) + struct.pack(">i", len(parts[t]))
        for p in parts[t]:
            out += struct.pack(">i", p)
    return out + _bytes32(b"")


def decode_assignment(data: bytes) -> dict[str, list[int]]:
    if not data:
        return {}
    (_v, n) = struct.unpack_from(">hi", data, 0)
    pos, out = 6, {}
    for _ in range(n):
        t, pos = _read_string(data, pos)
        (np,) = struct.unpack_from(">i", data, pos)
        pos += 4
        ps = list(struct.unpack_from(f">{np}i", data, pos))
        pos += 4 * np
        out[t] = ps
    return out


def range_assign(
    members: list[tuple[str, list[str]]], partitions: dict[str, list[int]]
) -> dict[str, dict[str, list[int]]]:
    """Kafka's range assignor: per topic, sorted partitions split into
    contiguous runs over the sorted subscribing members — the first
    ``n_part % n_members`` members get one extra partition."""
    out: dict[str, dict[str, list[int]]] = {m: {} for m, _ in members}
    for topic, parts in partitions.items():
        subs = sorted(m for m, topics in members if topic in topics)
        if not subs:
            continue
        parts = sorted(parts)
        base, extra = divmod(len(parts), len(subs))
        start = 0
        for i, m in enumerate(subs):
            n = base + (1 if i < extra else 0)
            if n:
                out[m][topic] = parts[start : start + n]
            start += n
    return out


class KafkaGroupConsumer:
    """Subscribe-mode consumer: group membership via the JoinGroup/
    SyncGroup dance with broker-coordinated rebalances (the reference's
    production consumption shape — the explicit-partition
    ``KafkaWireConsumer`` is the ``assign()`` mode). The elected LEADER
    computes the range assignment client-side and distributes it through
    SyncGroup, exactly Kafka's division of labor: the broker coordinates
    membership, clients own assignment semantics.

    ``poll()`` heartbeats first and transparently re-joins on
    REBALANCE_IN_PROGRESS / UNKNOWN_MEMBER / ILLEGAL_GENERATION, then
    fetches every assigned partition from its committed group offset.
    ``commit_polled()`` commits the high-water mark of the last poll per
    partition — at-least-once, with loss/duplication prevented across
    rebalances because offsets live in the group, not the member."""

    def __init__(
        self,
        host: str,
        port: int,
        topic: str,
        group: str,
        client_id: str = "moonlink-group-consumer",
        timeout_s: float = 15.0,
        sasl_plain: tuple[str, str] | None = None,
        ssl_ca_file: str | None = None,
    ):
        self._conn = _WireConn(
            host, port, client_id, timeout_s,
            sasl_plain=sasl_plain, ssl_ca_file=ssl_ca_file,
        )
        # a second connection for the blocking JoinGroup barrier, so a
        # rebalance in progress never stalls this member's in-flight
        # fetches on the shared connection
        self._coord = _WireConn(
            host, port, client_id + "-coord", timeout_s,
            sasl_plain=sasl_plain, ssl_ca_file=ssl_ca_file,
        )
        self.topic = topic
        self.group = group
        self.member_id = ""
        self.generation = -1
        self.assigned: list[int] = []
        self._last_polled: dict[int, int] = {}
        # reuse the explicit-partition consumer for fetch/commit wire code
        self._fetcher = KafkaWireConsumer(
            host, port, topic, 0, group=group, client_id=client_id
        )
        self._fetcher._conn = self._conn

    # -- membership ----------------------------------------------------------

    def _join_once(self) -> int:
        body = (
            _string(self.group)
            + struct.pack(">i", 30_000)  # session timeout
            + _string(self.member_id)
            + _string("consumer")
            + struct.pack(">i", 1)
            + _string("range")
            + _bytes32(encode_subscription([self.topic]))
        )
        resp = self._coord.call(_API["join_group"], 0, body)
        err, gen = struct.unpack_from(">hi", resp, 0)
        pos = 6
        _proto, pos = _read_string(resp, pos)
        leader, pos = _read_string(resp, pos)
        member_id, pos = _read_string(resp, pos)
        self.member_id = member_id
        if err != _ERR_NONE:
            return err
        (nmem,) = struct.unpack_from(">i", resp, pos)
        pos += 4
        members = []
        for _ in range(nmem):
            mid, pos = _read_string(resp, pos)
            meta, pos = _read_bytes32(resp, pos)
            members.append((mid, decode_subscription(meta or b"")))
        self.generation = gen

        amap: dict[str, bytes] = {}
        if member_id == leader:
            md = self._fetcher.metadata([self.topic])
            partitions = {
                self.topic: md["topics"].get(self.topic, {}).get(
                    "partitions", []
                )
            }
            amap = {
                m: encode_assignment(a)
                for m, a in range_assign(members, partitions).items()
            }
        body = (
            _string(self.group)
            + struct.pack(">i", gen)
            + _string(member_id)
            + struct.pack(">i", len(amap))
        )
        for mid, a in amap.items():
            body += _string(mid) + _bytes32(a)
        resp = self._coord.call(_API["sync_group"], 0, body)
        (err,) = struct.unpack_from(">h", resp, 0)
        if err != _ERR_NONE:
            return err
        assignment, _ = _read_bytes32(resp, 2)
        self.assigned = sorted(
            decode_assignment(assignment or b"").get(self.topic, [])
        )
        return _ERR_NONE

    def ensure_active(self, max_rounds: int = 20) -> None:
        if self.generation >= 0 and self.assigned is not None:
            err = self._heartbeat()
            if err == _ERR_NONE:
                return
        for _ in range(max_rounds):
            if self._join_once() == _ERR_NONE:
                return
            time.sleep(0.05)
        raise OSError(
            f"group {self.group} did not stabilize in {max_rounds} rounds"
        )

    def _heartbeat(self) -> int:
        body = (
            _string(self.group)
            + struct.pack(">i", self.generation)
            + _string(self.member_id)
        )
        resp = self._coord.call(_API["heartbeat"], 0, body)
        return struct.unpack_from(">h", resp, 0)[0]

    # -- consumption ---------------------------------------------------------

    def poll(
        self, max_messages: int = 10_000
    ) -> list[tuple[int, int, bytes | None, bytes | None]]:
        """-> [(partition, offset, key, value)] across this member's
        currently-assigned partitions, from their committed offsets."""
        self.ensure_active()
        out: list[tuple[int, int, bytes | None, bytes | None]] = []
        self._last_polled = {}
        for p in self.assigned:
            self._fetcher.partition = p
            floor = self._fetcher.committed
            msgs = self._fetcher.fetch(floor, max_messages - len(out))
            for off, k, v in msgs:
                out.append((p, off, k, v))
            if len(msgs):
                self._last_polled[p] = int(msgs.offsets[-1]) + 1
            if len(out) >= max_messages:
                break
        return out

    def commit_polled(self) -> None:
        for p, nxt in self._last_polled.items():
            self._fetcher.partition = p
            self._fetcher.commit(nxt)
        self._last_polled = {}

    def close(self) -> None:
        if self.member_id:
            try:
                body = _string(self.group) + _string(self.member_id)
                self._coord.call(_API["leave_group"], 0, body)
            except (ConnectionError, OSError):
                pass
        self._coord.close()
        self._conn.close()
