"""File-backed message queue: the Kafka-shaped transport, jar-free.

Parity: the reference's Avro events arrive over Kafka and flow through
``rest_ingest/avro_converter.rs`` into table appends. No broker (or
Kafka jar) ships in this environment, so the queue contract is
re-expressed over append-only segment files with the three properties
the ingestion path actually relies on:

- **ordered, offset-addressed messages** (per-queue monotonic offset);
- **durable consumer groups** (committed offset survives restarts;
  replays are idempotent because the table's LSN floor skips
  already-applied batches — same guard the REST journal replay uses);
- **key+value byte payloads** (value = Avro datum; key optional).

On a real cluster, swap ``FileQueueConsumer`` for a Kafka consumer and
``AvroQueueIngestor`` is unchanged — it only sees (offset, key, value).

Segments are length-prefixed frames: u32-BE total frame length, u64-BE
offset, u32-BE key length (0xFFFFFFFF = null key), key bytes, value
bytes. One segment per producer session; readers scan segments in name
order.
"""

from __future__ import annotations

import json
import os
import struct
import uuid
from typing import Any, Iterator

from moonlink_spark.schema import field_schema_to_struct
from moonlink_spark.sources.avro_arrow import arrow_batch_for_spark, decode_columns
from moonlink_spark.table.table import MoonlinkTable

_NULL_KEY = 0xFFFFFFFF  # null key, non-null value
# Kafka tombstones (null VALUE) must survive the log: conflating them with
# empty values silently changes semantics for any Kafka-protocol client
# using compacted-topic delete markers. The key-length field carries the
# null-value state: bit 31 set = value is null (key length in the low 31
# bits); 0xFFFFFFFE = null key AND null value.
_NULL_KEY_NULL_VALUE = 0xFFFFFFFE
_NULL_VALUE_FLAG = 0x80000000


def _parse_kv(klen: int, body: bytes) -> tuple[bytes | None, bytes | None]:
    """Decode the (key, value) pair from a frame's key-length field."""
    if klen == _NULL_KEY:
        return None, body
    if klen == _NULL_KEY_NULL_VALUE:
        return None, None
    if klen & _NULL_VALUE_FLAG:
        n = klen & 0x7FFFFFFF
        return body[:n], None
    return body[:klen], body[klen:]


class FileQueueProducer:
    """Appends messages to a new segment file under ``queue_dir``."""

    def __init__(self, queue_dir: str):
        self.queue_dir = queue_dir
        os.makedirs(queue_dir, exist_ok=True)
        self._segment = os.path.join(
            queue_dir, f"segment-{uuid.uuid4().hex[:12]}.log"
        )
        self._fh = None

    def _next_offset(self) -> int:
        # A distributed produce_df_avro in flight holds _producer.lock
        # and stages invisible segments whose offsets this scan cannot
        # see — publishing over them would put different payloads below
        # the consumer's committed floor (silent loss). Fail loud; two
        # plain FileQueueProducers (no staged publish) remain legal.
        lock_path = os.path.join(self.queue_dir, "_producer.lock")
        if os.path.exists(lock_path):
            try:
                with open(lock_path) as fh:
                    holder = int(fh.read().strip() or "0")
                os.kill(holder, 0)
            except (ProcessLookupError, FileNotFoundError, ValueError):
                pass  # stale or gone: offsets below are all visible
            else:
                raise RuntimeError(
                    f"queue directory {self.queue_dir!r} has an active "
                    "distributed produce (_producer.lock held); its "
                    "staged offsets are invisible to this producer — "
                    "wait for it to publish"
                )
        # resume after the max offset present in any segment
        # (header-scan only — O(1) memory on a deep queue)
        return max_queue_offset(self.queue_dir) + 1

    def send(self, value: bytes, key: bytes | None = None) -> int:
        if self._fh is None:
            # offset FIRST: if the resume scan refuses (active
            # distributed produce) the producer stays cleanly unopened
            # and a later send retries both steps
            self._offset = self._next_offset()
            self._fh = open(self._segment, "ab")
        off = self._offset
        self._fh.write(_frame(off, key, value))
        self._offset += 1
        return off

    def flush(self) -> None:
        if self._fh is not None:
            self._fh.flush()
            os.fsync(self._fh.fileno())

    def close(self) -> None:
        if self._fh is not None:
            self.flush()
            self._fh.close()
            self._fh = None


def _frame(off: int, key: bytes | None, value: bytes | None) -> bytes:
    """One length-prefixed wire frame (see module docstring);
    ``value=None`` encodes a Kafka tombstone."""
    if value is None:
        if key is None:
            klen, kbytes, vbytes = _NULL_KEY_NULL_VALUE, b"", b""
        else:
            klen, kbytes, vbytes = _NULL_VALUE_FLAG | len(key), key, b""
    else:
        klen = _NULL_KEY if key is None else len(key)
        kbytes = b"" if key is None else key
        vbytes = value
    payload = struct.pack(">QI", off, klen) + kbytes + vbytes
    return struct.pack(">I", len(payload)) + payload


def produce_df_avro(
    df,
    queue_dir: str,
    value_schema: dict | str,
    key_col: str | None = None,
    base_offset: int | None = None,
) -> None:
    """Produce a DataFrame onto the queue FROM THE EXECUTORS — the
    distributed producer (the Kafka producer-per-task shape). Each
    partition Avro-encodes its rows and writes its own segment file via
    ``foreachPartition``; no rows ever pass through the driver.

    Offsets are partition-disjoint without coordination
    (``base + (partition_id << 32) + local_index``); readers restore a
    global order because ``iter_queue`` sorts by offset across segments.

    Publish protocol (concurrent-consumer safe): tasks only STAGE their
    segments (``_pending-p{pid}-*``, invisible to readers); after the
    action completes, the DRIVER publishes them via atomic rename in
    ascending partition-id — i.e. ascending offset — order. A drain tick
    racing the produce therefore only ever observes a monotone offset
    prefix, so its committed floor can never land above a not-yet-
    published lower-offset segment (which would permanently skip those
    messages, since both ``poll`` and the ingestor's applied floor drop
    offsets below it). Retried / speculative task attempts leave extra
    staged files with identical offsets; publish keeps exactly one per
    partition and discards the rest, and ``iter_queue`` dedupes by
    offset as a backstop.

    The 'broker' is a shared directory: real on local mode and any
    shared-fs cluster; on an object-store deployment swap the directory
    for the store and this function for a real Kafka producer."""
    qdir = os.path.abspath(queue_dir)
    os.makedirs(qdir, exist_ok=True)
    # Single-producer-per-directory guard: the publish step quarantines
    # every foreign _pending-* file, so a second in-flight produce on
    # the same directory would have its staged segments orphaned and
    # silently publish nothing. Fail loud instead of losing data.
    lock_path = os.path.join(qdir, "_producer.lock")

    def _acquire() -> bool:
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        return True

    if not _acquire():
        # stale-lock recovery: a SIGKILLed producer never reaches the
        # finally, so a lock whose pid is dead (same host — the driver
        # writes it) is stolen instead of bricking the queue forever.
        # ONLY ProcessLookupError means dead: EPERM (kill on another
        # user's live pid) must NOT read as stale, or a live producer's
        # lock gets stolen and two publishes corrupt each other.
        stale = False
        try:
            with open(lock_path) as fh:
                holder = int(fh.read().strip() or "0")
            os.kill(holder, 0)
        except ProcessLookupError:
            stale = True
        except FileNotFoundError:
            pass  # holder released between our two attempts
        except ValueError:
            stale = True  # unreadable pid: a torn lock write
        except PermissionError:
            pass  # pid alive under another uid: NOT stale
        if stale:
            # single-winner steal: rename is atomic, so of N waiters
            # exactly one moves the stale lock aside; the rest see
            # FileNotFoundError and just retry the acquire
            claim = lock_path + f".stale-{uuid.uuid4().hex[:8]}"
            try:
                os.rename(lock_path, claim)
                os.unlink(claim)
            except FileNotFoundError:
                pass
        if not _acquire():
            raise RuntimeError(
                f"queue directory {qdir!r} has an active producer "
                f"({lock_path} exists and its pid is alive); "
                "produce_df_avro is single-producer per directory — "
                "wait for the other produce to finish"
            )
    try:
        _produce_df_avro_locked(
            df, qdir, value_schema, key_col, base_offset
        )
    finally:
        try:
            os.unlink(lock_path)
        except FileNotFoundError:
            pass


def _produce_df_avro_locked(df, qdir, value_schema, key_col, base_offset):
    from moonlink_spark.sources.avro_binary import encode_datum

    schema = (
        json.loads(value_schema)
        if isinstance(value_schema, str)
        else value_schema
    )
    if base_offset is None:
        # resume above anything already produced (FileQueueProducer's
        # _next_offset contract): without this, a second produce to the
        # same queue would reuse offsets below the consumer's committed
        # floor and its messages would be silently never consumed.
        # Header-scan only: O(1) memory however deep the queue is.
        base_offset = max_queue_offset(qdir) + 1

    # Per-invocation run id: the driver publishes ONLY this run's staged
    # files below. Without it, an orphaned _pending-* from a produce that
    # crashed between staging and publish would be grouped with the next
    # invocation's segment and the keep-one rule could silently discard
    # real data from either side.
    run_id = uuid.uuid4().hex[:12]

    def _write_partition(rows) -> None:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        fh = None
        tmp = final = None
        n = 0
        for r in rows:
            if fh is None:
                name = f"p{pid:05d}-r{run_id}-{uuid.uuid4().hex[:12]}.log"
                final = os.path.join(qdir, f"_pending-{name}")
                tmp = os.path.join(qdir, f"_stage-{name}")
                fh = open(tmp, "wb")
            d = r.asDict()
            off = base_offset + (pid << 32) + n
            key = str(d[key_col]).encode() if key_col else None
            fh.write(_frame(off, key, encode_datum(schema, d)))
            n += 1
        if fh is not None:
            fh.flush()
            os.fsync(fh.fileno())
            fh.close()
            # stage->pending rename is atomic, so a task crash never
            # leaves a torn file; _pending-* stays invisible to readers
            # until the driver publishes it below
            os.replace(tmp, final)

    df.foreachPartition(_write_partition)

    # Driver-side publish: all tasks have completed, so every partition's
    # staged segment exists. Publish in ascending pid (= ascending offset)
    # order; keep ONE staged file per (partition, THIS run) — task retries
    # leave byte-identical duplicates (same deterministic input partition),
    # so dropping extras is safe only within a run. Foreign _pending-*
    # files (an earlier produce that crashed before publishing) are
    # quarantined, never unlinked: their data may differ and discarding
    # one silently would be data loss.
    by_pid: dict[int, list[str]] = {}
    run_tag = f"-r{run_id}-"
    for name in os.listdir(qdir):
        if not name.startswith("_pending-p"):
            continue
        if run_tag not in name:
            import warnings

            warnings.warn(
                f"quarantining orphaned staged segment {name!r} in "
                f"{qdir!r} (a previous produce crashed between staging "
                "and publish); its data is preserved as _orphan-* but "
                "will NOT be published — inspect and recover manually",
                stacklevel=2,
            )
            os.replace(
                os.path.join(qdir, name),
                os.path.join(qdir, "_orphan-" + name[len("_pending-"):]),
            )
            continue
        # pid is everything between '_pending-p' and the first '-'
        # (NOT a fixed-width slice: pid >= 100000 formats as 6+ digits
        # under {pid:05d} and a 5-char slice would mis-group it)
        pid = int(name[len("_pending-p"):].split("-", 1)[0])
        by_pid.setdefault(pid, []).append(name)
    for pid in sorted(by_pid):
        names = sorted(by_pid[pid])
        keep = names[0]
        os.replace(
            os.path.join(qdir, keep),
            os.path.join(qdir, "segment-" + keep[len("_pending-"):]),
        )
        for extra in names[1:]:
            os.unlink(os.path.join(qdir, extra))


class _UnsortedSegment(Exception):
    """A segment violated the offsets-ascend-within-a-file invariant;
    the caller falls back to the sorted full-scan path."""


def _iter_frame_headers(path: str, fh=None):
    """Yield (offset, key_len_field, frame_pos, frame_len) for every
    complete frame in one segment file, headers only — payloads are
    seeked over. THE one copy of the length/offset/torn-tail walk (used
    by the merge poll, the full-scan path, and the max-offset resume).
    A VANISHED file (concurrent cleanup between listdir and open) yields
    nothing; any other open failure (EMFILE, EACCES, EIO) PROPAGATES —
    swallowing it would silently drop the segment from polls and from
    the max-offset resume, losing or overwriting its messages for good.
    Pass an already-open ``fh`` to interleave body reads with the walk
    (the walk re-seeks before every header read)."""
    close = fh is None
    if fh is None:
        try:
            fh = open(path, "rb")
        except FileNotFoundError:
            return
    try:
        size = os.fstat(fh.fileno()).st_size
        pos = 0
        while pos + 4 <= size:
            fh.seek(pos)
            head = fh.read(16)  # frame len + offset + key-len field
            if len(head) < 16:
                return  # torn tail
            flen, off, klen = struct.unpack(">IQI", head)
            if flen < 12 or pos + 4 + flen > size:
                return  # torn tail: same skip rule everywhere
            yield off, klen, pos, flen
            pos += 4 + flen
    finally:
        if close:
            fh.close()


def _iter_segment_from(
    path: str, name: str, floor: int, check_sorted: bool = True
):
    """Yield (offset, segment_name, key, value) for frames with
    offset >= floor, header-skipping everything below (payloads before
    the floor are seeked over, not parsed; one open file handle serves
    both the header walk and the body reads). ``check_sorted`` asserts
    the ascending-offset invariant every producer upholds and raises
    _UnsortedSegment on violation so callers can degrade to the sorted
    path."""
    prev = -1
    try:
        fh = open(path, "rb")
    except FileNotFoundError:
        return
    with fh:
        for off, klen, pos, flen in _iter_frame_headers(path, fh):
            if check_sorted:
                if off < prev:
                    raise _UnsortedSegment(name)
                prev = off
            if off < floor:
                continue
            fh.seek(pos + 16)
            key, value = _parse_kv(klen, fh.read(flen - 12))
            yield off, name, key, value


def max_queue_offset(queue_dir: str) -> int:
    """Highest offset across segments, by frame-HEADER scan only —
    payloads are seeked over, never read, parsed, or sorted. This is
    the produce-resume path: ``iter_queue`` materializes and sorts
    every message (right for consumers that need global order), which
    on a deep queue would make every later produce pay O(queue) memory
    just to learn the next free offset. STAGED (``_pending-*``) and
    QUARANTINED (``_orphan-*``) frames count too: their offsets are
    spoken for, and reusing them would publish different payloads below
    a committed consumer floor (silent loss) or make orphan recovery
    impossible. Returns -1 for an empty or missing queue. Torn tails
    are ignored like ``iter_queue``."""
    last = -1
    if not os.path.isdir(queue_dir):
        return last
    for name in os.listdir(queue_dir):
        if not name.startswith(("segment-", "_pending-", "_orphan-")):
            continue
        for off, _klen, _pos, _flen in _iter_frame_headers(
            os.path.join(queue_dir, name)
        ):
            if off > last:
                last = off
    return last


def iter_queue(
    queue_dir: str,
) -> Iterator[tuple[int, bytes | None, bytes | None]]:
    """All messages across segments, offset order (``value`` is None for
    Kafka tombstone frames)."""
    msgs = []
    if not os.path.isdir(queue_dir):
        return iter(())
    for name in sorted(os.listdir(queue_dir)):
        if not name.startswith("segment-"):
            continue
        path = os.path.join(queue_dir, name)
        msgs.extend(
            _iter_segment_from(path, name, floor=-1, check_sorted=False)
        )
    # sort by (offset, segment name), then absorb retry duplicates: a
    # late-published duplicate segment from a retried producer task
    # carries identical offsets AND identical bytes — drop only those.
    # Two independent producers colliding on an offset (both computed
    # _next_offset from the same max) carry DIFFERENT payloads; those
    # must both deliver, like before the dedupe existed.
    msgs.sort(key=lambda m: (m[0], m[1]))
    out: list[tuple[int, bytes | None, bytes | None]] = []
    cur_off: int | None = None
    seen: set[tuple] = set()
    for off, _seg, key, value in msgs:
        if off != cur_off:
            cur_off = off
            seen = set()
        sig = (key, value)
        if sig in seen:
            # byte-identical duplicate AT THIS OFFSET — a retried task's
            # re-published segment, regardless of how colliding-but-
            # different payloads interleave between the copies
            continue
        seen.add(sig)
        out.append((off, key, value))
    return iter(out)


class FileQueueConsumer:
    """Offset-committed consumer group over a file queue."""

    def __init__(self, queue_dir: str, group: str = "default"):
        self.queue_dir = queue_dir
        self.state_path = os.path.join(queue_dir, f"_group-{group}.json")

    @property
    def committed(self) -> int:
        """Next offset to read (all below are consumed)."""
        if os.path.exists(self.state_path):
            with open(self.state_path) as fh:
                return json.load(fh)["next_offset"]
        return 0

    def poll(self, max_messages: int = 10_000) -> list[tuple[int, bytes | None, bytes]]:
        """Next ``max_messages`` at-or-above the committed floor, global
        offset order, retry duplicates absorbed — WITHOUT materializing
        the queue. Segments are internally offset-ascending (every
        producer writes sequentially), so this is a lazy k-way heap
        merge over per-segment iterators that header-skip to the floor:
        O(#segments) memory and O(consumed + skipped headers) time per
        poll, where the old iter_queue path parsed and sorted the WHOLE
        queue per poll (quadratic drains on a deep queue). A segment
        that violates the ascending invariant falls back to the sorted
        full-scan path, so order semantics never degrade."""
        import heapq

        floor = self.committed
        try:
            merged = heapq.merge(
                *(
                    _iter_segment_from(
                        os.path.join(self.queue_dir, name), name, floor
                    )
                    for name in sorted(os.listdir(self.queue_dir))
                    if name.startswith("segment-")
                )
                if os.path.isdir(self.queue_dir)
                else ()
            )
            out: list[tuple[int, bytes | None, bytes | None]] = []
            cur_off: int | None = None
            seen: set[tuple] = set()
            for off, _name, key, value in merged:
                if off != cur_off:
                    # the cap breaks only at an offset-GROUP boundary:
                    # colliding producers can put distinct payloads at
                    # one offset, and the ingestor commits past
                    # last_offset — splitting the group would lose the
                    # undelivered sibling below the floor forever
                    if len(out) >= max_messages:
                        break
                    cur_off = off
                    seen = set()
                sig = (key, value)
                if sig in seen:
                    continue  # retried-task duplicate: identical bytes
                seen.add(sig)
                out.append((off, key, value))
            return out
        except _UnsortedSegment:
            out = []
            for off, key, value in iter_queue(self.queue_dir):
                if off < floor:
                    continue
                if (
                    len(out) >= max_messages
                    and off != out[-1][0]  # same group-boundary rule
                ):
                    break
                out.append((off, key, value))
            return out

    def commit(self, next_offset: int) -> None:
        os.makedirs(self.queue_dir, exist_ok=True)
        tmp = self.state_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"next_offset": next_offset}, fh)
        os.replace(tmp, self.state_path)


class AvroQueueIngestor:
    """Drain Avro datums from a queue into a MoonlinkTable.

    Each drain decodes through the schema-compiled columnar decoder
    (``sources/avro_arrow.py``) into ONE Arrow table in the table's
    schema, staged with ``append_arrow``, and becomes one commit whose
    LSN is ``lsn_base + last_offset + 1`` — monotone in the queue
    offset, so a crash between commit and consumer-offset write replays
    the batch and the table's LSN floor makes the replay a no-op (the
    same idempotence contract as the REST journal, ingest/rest.py)."""

    def __init__(
        self,
        table: MoonlinkTable,
        consumer: FileQueueConsumer,
        value_schema: dict | str,
        lsn_base: int = 1_000_000,
    ):
        self.table = table
        self.consumer = consumer
        self.schema = (
            json.loads(value_schema)
            if isinstance(value_schema, str)
            else value_schema
        )
        self.lsn_base = lsn_base

    # manifest property carrying the last queue offset this ingestor
    # applied. The floor used to be DERIVED from last_lsn, which broke
    # the moment any non-queue commit advanced the table's LSN: the
    # inflated floor silently dropped genuinely new messages while the
    # consumer offset moved past them.
    APPLIED_OFFSET_PROP = "avro_queue.applied_offset"

    def drain_once(self, max_messages: int = 50_000) -> dict[str, Any]:
        import pyarrow as pa

        batch = self.consumer.poll(max_messages)
        if not batch:
            return {"messages": 0, "version": self.table.manifest.version}
        # Per-MESSAGE replay floor, not just per-batch: after a crash
        # between table commit and consumer-offset commit, a re-poll
        # that merges the already-applied batch WITH newly produced
        # messages must drop the applied prefix — a batch-level check
        # alone would re-append it (duplicates). The floor is the
        # manifest-recorded applied offset, never one derived from the
        # LSN: a FOREIGN writer's commit (streaming batch, REST) has an
        # LSN that is not offset-derived, and deriving a floor from it
        # skipped every queued message. No property means nothing is
        # recorded as applied.
        m = self.table.manifest
        applied_floor = int(m.properties.get(self.APPLIED_OFFSET_PROP, -1))
        # tombstone policy: a null-value record carries no Avro datum to
        # decode. Moonlink deletes are expressed through the CDC `op`
        # field inside the datum (ingest/cdc.py), not through
        # compacted-topic delete markers — skip, but still advance the
        # offset floor past it.
        live = [
            v for off, _k, v in batch if off > applied_floor and v is not None
        ]
        last_offset = batch[-1][0]
        lsn = self.lsn_base + last_offset + 1
        version = self.table.manifest.version
        if live:
            struct = field_schema_to_struct(m.schema_fields)
            named = decode_columns(self.schema, live)
            tbl = pa.Table.from_batches(
                [arrow_batch_for_spark(struct, named, len(live))]
            )
            mark = self.table.pending_mark()
            try:
                self.table.append_arrow(tbl)
                version = self.table.commit(
                    # monotone even when foreign commits advanced the
                    # table past the offset-derived LSN — the applied
                    # floor lives in the property, not the LSN
                    lsn=max(lsn, self.table.last_lsn + 1),
                    operation="avro-queue",
                    properties_update={
                        self.APPLIED_OFFSET_PROP: int(last_offset)
                    },
                )
            except BaseException:
                # a failed commit restores the staged table for the
                # non-queue retry pattern; OUR retry re-polls and
                # re-appends, so the restored copy must go or the next
                # successful commit applies the batch twice
                self.table.discard_pending_since(mark)
                raise
        self.consumer.commit(last_offset + 1)
        return {"messages": len(batch), "version": version, "lsn": lsn}
