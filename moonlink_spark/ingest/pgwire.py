"""PostgreSQL streaming-replication WIRE transport for the pgoutput feed.

Parity: the reference consumes a LIVE replication socket — a copy-both
stream of XLogData frames with standby status updates acknowledging
progress so the server can discard WAL
(``pg_replicate/postgres_source.rs:532+`` drives
``LogicalReplicationStream``; keepalives and
``standby_status_update(lsn, lsn, lsn, ts, 0)`` at :573). Until now the
repo's tailer replayed a recorded trace FILE; this module adds the
socket leg using the public PostgreSQL protocol layouts:

- backend/frontend messages are ``[type:1][length:4 incl itself][body]``;
- after the client's ``START_REPLICATION SLOT ... LOGICAL X/Y`` query
  ('Q'), the server answers CopyBothResponse ('W') and the connection
  switches to CopyData ('d') in both directions;
- server->client CopyData bodies: XLogData ``'w' + start_lsn:u64 +
  end_lsn:u64 + send_ts:u64 + <pgoutput message bytes>`` and primary
  keepalive ``'k' + end_lsn:u64 + send_ts:u64 + reply_required:u8``;
- client->server CopyData body: standby status update ``'r' +
  written:u64 + flushed:u64 + applied:u64 + ts:u64 + reply:u8``.

Architecture (the honest cluster shape): the server follows a growing
length-prefixed pgoutput trace (its stand-in for the WAL — a real
deployment replaces ``_frames_from`` with the actual decoder input) and
assigns each frame a WAL position; the client is a RELAY
(``pg_receivewal`` shape): it appends received frames to a local spool
file and runs the existing crash-safe :class:`ReplicationTailer` over
it, so every resume/partial-txn/replay guarantee carries over unchanged.
The client's status updates report the tailer's committed LSN, which the
server exposes as ``confirmed_flush_lsn`` — completing the reference's
acknowledgment loop.

The connection is AUTHENTICATED: the client runs the full PG startup
through :class:`~moonlink_spark.pg_protocol.PgWireClient` with the
``replication=database`` startup parameter (libpq's replication
keyword), so cleartext/MD5/SCRAM-SHA-256(-PLUS) auth and TLS (with
channel binding) apply to the replication wire exactly as to the query
wire — the reference connects its replication stream authenticated
(``postgres_source.rs:532+`` over tokio-postgres), and every real
``pg_hba.conf`` guards the walsender. The server side requires the
startup + auth (shared :class:`~moonlink_spark.pg_protocol.ServerAuth`)
and refuses START_REPLICATION on a non-replication connection, like a
real walsender.

Not implemented (fail-loud or out of scope): timeline history, physical
replication.
"""

from __future__ import annotations

import os
import re
import socket
import socketserver
import struct
import threading
import time
from typing import Any

from moonlink_spark.ingest.replication import ReplicationTailer
from moonlink_spark.table.table import MoonlinkTable

_EPOCH_2000 = 946_684_800  # PG timestamps are micros since 2000-01-01


def _pg_ts() -> int:
    return int((time.time() - _EPOCH_2000) * 1_000_000)


def lsn_str(lsn: int) -> str:
    """PG LSN text form ``XXXXXXXX/XXXXXXXX``."""
    return f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}"


def parse_lsn(s: str) -> int:
    hi, lo = s.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def _msg(type_byte: bytes, body: bytes) -> bytes:
    return type_byte + struct.pack(">I", len(body) + 4) + body


def _read_msg(sock_file) -> tuple[bytes, bytes]:
    head = sock_file.read(5)
    if len(head) < 5:
        raise ConnectionError("peer closed")
    t = head[:1]
    (n,) = struct.unpack(">I", head[1:])
    if n < 4 or n > (1 << 30):
        # a desynced/corrupt peer: n=0 would read(-4) -> block to EOF
        # and then return the rest of the stream as one "message"
        # (pg_protocol._read_msg carries the same guard; review r10)
        raise ConnectionError(f"invalid message length {n}")
    body = sock_file.read(n - 4)
    if len(body) < n - 4:
        raise ConnectionError("short message body")
    return t, body


_START_RE = re.compile(
    r"START_REPLICATION\s+SLOT\s+(\S+)\s+LOGICAL\s+([0-9A-Fa-f]+/[0-9A-Fa-f]+)"
)


class ReplicationWireServer:
    """Serve a growing pgoutput trace over the replication wire protocol.

    Each trace frame's WAL position is its BYTE OFFSET in the feed (+1 so
    position 0 means "from the start"), which makes resume exact without
    a separate index: ``START_REPLICATION ... LOGICAL <pos>`` streams
    frames whose offset is >= pos. Standby status updates advance
    ``confirmed_flush_lsn`` per slot (visible to tests and to a vacuum
    policy, like the reference's WAL-discard contract)."""

    def __init__(
        self,
        trace_path: str,
        host: str = "127.0.0.1",
        port: int = 0,
        keepalive_idle_s: float = 0.05,
        password: str | None = None,
        auth: str = "password",
        ssl_cert: str | None = None,
        ssl_key: str | None = None,
    ):
        """``password``/``auth``/``ssl_cert``/``ssl_key``: identical
        semantics to PgMockServer — with a password set, every
        connection must pass cleartext/MD5/SCRAM auth before
        START_REPLICATION is accepted; with a cert, SSLRequest upgrades
        to TLS (and SCRAM offers -PLUS channel binding)."""
        from moonlink_spark.pg_protocol import ServerAuth

        self._auth = ServerAuth(
            password=password, auth=auth, ssl_cert=ssl_cert, ssl_key=ssl_key
        )
        self.trace_path = trace_path
        self.keepalive_idle_s = keepalive_idle_s
        self.confirmed_flush: dict[str, int] = {}
        self.keepalives_sent = 0
        self._stop = threading.Event()
        server = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self):
                server._serve_conn(self.request)

        class TCP(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._tcp = TCP((host, port), Handler)
        self.host, self.port = self._tcp.server_address
        self._thread: threading.Thread | None = None

    # -- trace frames -------------------------------------------------------

    def _frames_from(self, pos: int, aligned: bool = False):
        """(offset, payload) for complete frames at byte offset >= pos.

        ``aligned=True`` (positions produced by our own send loop) seeks
        straight to ``pos`` — O(new frames) per wake instead of rewalking
        the whole feed's headers, which goes quadratic on a long-lived
        connection. The first call of a connection keeps the full walk:
        a client-supplied start position gets snapped to the next real
        frame boundary instead of desyncing the framing."""
        if not os.path.exists(self.trace_path):
            return
        with open(self.trace_path, "rb") as fh:
            fh.seek(0, os.SEEK_END)
            end = fh.tell()
            off = pos if aligned else 0
            while off + 4 <= end:
                fh.seek(off)
                (n,) = struct.unpack(">I", fh.read(4))
                if off + 4 + n > end:
                    return  # torn tail
                if off >= pos:
                    yield off, fh.read(n)
                off += 4 + n

    # -- connection loop ----------------------------------------------------

    def _serve_conn(self, sock: socket.socket) -> None:
        f = sock.makefile("rb")
        try:
            # authenticated startup FIRST (shared ServerAuth): a real
            # walsender sits behind the same pg_hba.conf as the query
            # wire; an unauthenticated/legacy client never reaches
            # START_REPLICATION
            res = self._auth.handshake(sock, f)
            if res is None:
                return
            sock, f, params = res
            # walsender gate: the startup must select a replication
            # connection (replication=database for logical), like real
            # PG's "cannot execute START_REPLICATION" on a plain session
            if params.get(b"replication", b"").decode() != "database":
                sock.sendall(
                    self._auth.err(
                        "42601",
                        "START_REPLICATION requires replication=database",
                    )
                )
                return
            sock.sendall(_msg(b"S", b"server_version\x0016.0 (moonlink-walsender)\x00"))
            sock.sendall(_msg(b"Z", b"I"))  # ReadyForQuery
            t, body = _read_msg(f)
            if t != b"Q":
                sock.sendall(_msg(b"E", b"SEVERITY\x00expected Query\x00\x00"))
                return
            m = _START_RE.search(body.decode("utf-8", "replace"))
            if not m:
                sock.sendall(
                    _msg(b"E", b"SEVERITY\x00expected START_REPLICATION\x00\x00")
                )
                return
            slot, start = m.group(1), parse_lsn(m.group(2))
            # CopyBothResponse: format 0, zero columns
            sock.sendall(_msg(b"W", struct.pack(">bh", 0, 0)))

            # Client messages (standby status updates, Terminate) arrive
            # asynchronously relative to the outbound stream — a blocking
            # reader THREAD mirrors the full-duplex copy-both shape
            # instead of racing timeouts against a buffered reader.
            done = threading.Event()

            def reader():
                try:
                    while not done.is_set():
                        rt, rbody = _read_msg(f)
                        if rt == b"d" and rbody[:1] == b"r":
                            _w, flushed, _a, _ts, _r = struct.unpack_from(
                                ">QQQQB", rbody, 1
                            )
                            self.confirmed_flush[slot] = flushed
                        elif rt == b"X":  # Terminate
                            done.set()
                except (ConnectionError, OSError, ValueError):
                    done.set()

            threading.Thread(
                target=reader, name="pgwire-conn-reader", daemon=True
            ).start()

            pos = start
            aligned = False  # first pass snaps pos to a frame boundary
            while not self._stop.is_set() and not done.is_set():
                sent = False
                for off, payload in self._frames_from(pos, aligned=aligned):
                    wal = off + 1
                    xlog = (
                        b"w"
                        + struct.pack(
                            ">QQQ", wal, off + 4 + len(payload), _pg_ts()
                        )
                        + payload
                    )
                    sock.sendall(_msg(b"d", xlog))
                    pos = off + 4 + len(payload)
                    aligned = True  # pos is now our own frame boundary
                    sent = True
                if not sent:
                    ka = b"k" + struct.pack(">QQ", pos, _pg_ts()) + b"\x00"
                    try:
                        sock.sendall(_msg(b"d", ka))
                    except OSError:
                        return
                    self.keepalives_sent += 1
                    time.sleep(self.keepalive_idle_s)
        except (ConnectionError, OSError):
            return
        finally:
            try:
                f.close()
                sock.close()
            except OSError:
                pass

    # -- lifecycle ----------------------------------------------------------

    def start(self) -> "ReplicationWireServer":
        self._thread = threading.Thread(
            target=self._tcp.serve_forever, name="pgwire-server", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._tcp.shutdown()
        self._tcp.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5.0)


class ReplicationWireClient:
    """WAL-relay client: stream XLogData frames from the wire into a local
    spool file and apply them with the crash-safe ReplicationTailer; each
    applied batch is acknowledged with a standby status update carrying
    the tailer's committed LSN (postgres_source.rs:573 parity).

    The relay position (how many wire bytes landed in the spool) is
    recovered from the spool itself on restart — the spool byte length IS
    the next wire position, because the server's WAL positions are feed
    byte offsets and the relay preserves framing byte-for-byte."""

    def __init__(
        self,
        table: MoonlinkTable,
        host: str,
        port: int,
        spool_path: str,
        slot: str = "moonlink",
        user: str = "moonlink",
        database: str = "postgres",
        password: str | None = None,
        sslmode: str | None = None,
        ssl_ca_file: str | None = None,
    ):
        """Credentials/TLS knobs are PgWireClient's: the replication
        connection runs the SAME authenticated startup as the query
        wire, with the ``replication=database`` startup parameter
        selecting the walsender (postgres_source.rs:532+ parity)."""
        self.host = host
        self.port = port
        self.spool_path = spool_path
        self.slot = slot
        self.user = user
        self.database = database
        self.password = password
        self.sslmode = sslmode
        self.ssl_ca_file = ssl_ca_file
        self.tailer = ReplicationTailer(table, spool_path)

    def _spool_len(self) -> int:
        """Resume position = the spool length up to the last COMPLETE
        frame. A crash mid-append can leave a torn frame at the tail;
        resuming at the raw byte size would skip the torn frame's
        remainder AND desync the relay framing forever, so the tail is
        truncated to the last frame boundary first (the tailer never
        read past it — it stops at torn frames too)."""
        if not os.path.exists(self.spool_path):
            return 0
        size = os.path.getsize(self.spool_path)
        good = 0
        with open(self.spool_path, "rb") as fh:
            while good + 4 <= size:
                fh.seek(good)
                (n,) = struct.unpack(">I", fh.read(4))
                if good + 4 + n > size:
                    break  # torn tail
                good += 4 + n
        if good < size:
            with open(self.spool_path, "ab") as fh:
                fh.truncate(good)
        return good

    def stream_once(
        self, idle_rounds: int = 3, timeout_s: float = 10.0
    ) -> dict[str, Any]:
        """Connect (authenticated startup with replication=database),
        catch up to the feed's current end, apply, ack, and disconnect
        (the availableNow-style drain; a daemon would loop). Returns
        tailer stats + wire counters."""
        from moonlink_spark.pg_protocol import PgWireClient

        # the full startup path — TLS negotiation, cleartext/MD5/SCRAM
        # auth, parameter statuses, ReadyForQuery — then this client
        # takes over the raw socket for the copy-both leg
        pg = PgWireClient(
            self.host,
            self.port,
            user=self.user,
            database=self.database,
            password=self.password,
            timeout_s=timeout_s,
            sslmode=self.sslmode,
            ssl_ca_file=self.ssl_ca_file,
            replication="database",
        )
        sock = pg.sock
        stats = {"frames": 0, "keepalives": 0, "commits": 0, "events": 0}
        try:
            start = self._spool_len()
            q = (
                f"START_REPLICATION SLOT {self.slot} LOGICAL "
                f"{lsn_str(start)}\x00"
            )
            sock.sendall(_msg(b"Q", q.encode()))
            f = pg._f
            t, _ = _read_msg(f)
            if t != b"W":
                raise ConnectionError(f"expected CopyBothResponse, got {t!r}")
            idle = 0
            written = start  # tracked incrementally: rescanning the whole
            # spool per ack is O(spool) and goes quadratic on long streams
            sock.settimeout(timeout_s)
            # one held handle for the whole receive loop: re-opening per
            # frame dominated the per-frame cost on catch-up backlogs
            spool_fh = open(self.spool_path, "ab")
            while idle < idle_rounds:
                t, body = _read_msg(f)
                if t != b"d":
                    continue
                kind = body[:1]
                if kind == b"w":
                    payload = body[25:]  # after 'w' + 3x u64
                    spool_fh.write(struct.pack(">I", len(payload)) + payload)
                    written += 4 + len(payload)
                    stats["frames"] += 1
                    idle = 0
                elif kind == b"k":
                    stats["keepalives"] += 1
                    idle += 1
                    # flush the spool ONLY here, before the tailer reads
                    # it and before anything is acknowledged: a
                    # per-frame flush was one syscall per WAL record
                    # (catch-up backlogs = tens of thousands), while the
                    # exactly-once contract needs bytes durable only
                    # ahead of the ack they back — unflushed-then-lost
                    # frames are unacked and replay on reconnect, same
                    # as in-flight network bytes (r12)
                    spool_fh.flush()
                    # apply whatever landed, then acknowledge progress
                    s = self.tailer.poll_once()
                    stats["commits"] += s["commits"]
                    stats["events"] += s["events"]
                    # all three fields are WAL positions (feed byte
                    # offsets here): written = received into the spool,
                    # flushed/applied = the tailer's durable checkpoint —
                    # everything below it is safe for the server to
                    # discard, the reference's WAL-retention contract
                    flushed = self.tailer._pos
                    status = (
                        b"r"
                        + struct.pack(
                            ">QQQQ",
                            written,
                            flushed,
                            flushed,
                            _pg_ts(),
                        )
                        + b"\x00"
                    )
                    sock.sendall(_msg(b"d", status))
            return stats
        finally:
            try:
                spool_fh.close()
            except (OSError, NameError):
                pass
            try:
                sock.sendall(_msg(b"X", b""))
            except OSError:
                pass
            sock.close()
