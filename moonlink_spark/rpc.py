"""Binary RPC protocol + scan-result wire format.

Parity: the reference exposes a TCP RPC beside its HTTP service
(``src/moonlink_rpc/src/lib.rs:28-39``): length-prefixed bincode frames
carrying a request enum (create_snapshot, create_table, drop_table,
get_parquet_metadatas, get_table_schema, list_tables, load_files,
optimize_table, scan_table_begin, scan_table_end), and scan results
returned as the compact ``MooncakeTableMetadata`` byte blob
(``moonlink_table_metadata/src/table_metadata.rs``: offset-indexed path
arrays + u32 deletion-vector/position-delete records) that the
DataFusion read side consumes.

This module re-implements both layers in Python against the same byte
layouts:

- the envelope is a u32-LE length prefix + bincode *standard-config*
  payload (varint ints: <251 one byte, then 251/252/253 markers for
  u16/u32/u64 LE; enum discriminants as varint u32; strings/vecs as
  varint length + elements; Option as 0/1; Result as discriminant 0=Ok
  1=Err) — the encoding ``bincode::config::standard()`` produces, so the
  framing matches what a reference client sends;
- the scan-result blob is byte-exact per table_metadata.rs (u32-LE
  counts/offsets, paths concatenated after the fixed section);
- ``get_table_schema`` returns the Arrow IPC schema serialization
  (pyarrow ``schema.serialize()``), the same self-describing bytes the
  reference hands out;
- ``get_parquet_metadatas`` returns raw parquet footer (thrift) bytes
  sliced from each file's tail.

Live tables carry deletes as position-delete parquet, so
``scan_table_begin`` emits them in the ``position_deletes`` section
(``puffin_files``/``deletion_vectors`` fill after an Iceberg DV export;
the reader contract treats the two sections identically). Error payloads
carry the message as a string — the reference's structured error enum is
collapsed, documented divergence.
"""

from __future__ import annotations

import os
import socket
import socketserver
import struct
import threading
from dataclasses import dataclass, field
from typing import Any

# --------------------------------------------------------------------------- #
# bincode standard-config primitives
# --------------------------------------------------------------------------- #


def enc_varint(v: int) -> bytes:
    if v < 0:
        raise ValueError("unsigned only")
    if v < 251:
        return bytes([v])
    if v <= 0xFFFF:
        return b"\xfb" + struct.pack("<H", v)
    if v <= 0xFFFFFFFF:
        return b"\xfc" + struct.pack("<I", v)
    return b"\xfd" + struct.pack("<Q", v)


def dec_varint(buf: bytes, pos: int) -> tuple[int, int]:
    b = buf[pos]
    if b < 251:
        return b, pos + 1
    if b == 251:
        return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
    if b == 252:
        return struct.unpack_from("<I", buf, pos + 1)[0], pos + 5
    if b == 253:
        return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9
    raise ValueError(f"unsupported varint marker {b}")


def enc_str(s: str) -> bytes:
    raw = s.encode("utf-8")
    return enc_varint(len(raw)) + raw


def dec_str(buf: bytes, pos: int) -> tuple[str, int]:
    n, pos = dec_varint(buf, pos)
    return buf[pos:pos + n].decode("utf-8"), pos + n


def enc_bytes(b: bytes) -> bytes:
    return enc_varint(len(b)) + bytes(b)


def dec_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = dec_varint(buf, pos)
    return bytes(buf[pos:pos + n]), pos + n


# --------------------------------------------------------------------------- #
# request enum (variant order = lib.rs:28-39 declaration order)
# --------------------------------------------------------------------------- #

# name -> (variant index, field spec); "s"=string, "u"=u64, "vs"=Vec<String>
RPC_DEFS: dict[str, tuple[int, list[tuple[str, str]]]] = {
    "create_snapshot": (0, [("database", "s"), ("table", "s"), ("lsn", "u")]),
    "create_table": (
        1,
        [
            ("database", "s"),
            ("table", "s"),
            ("src", "s"),
            ("src_uri", "s"),
            ("table_config", "s"),
        ],
    ),
    "drop_table": (2, [("database", "s"), ("table", "s")]),
    "get_parquet_metadatas": (3, [("data_files", "vs")]),
    "get_table_schema": (4, [("database", "s"), ("table", "s")]),
    "list_tables": (5, []),
    "load_files": (6, [("database", "s"), ("table", "s"), ("files", "vs")]),
    "optimize_table": (7, [("database", "s"), ("table", "s"), ("mode", "s")]),
    "scan_table_begin": (8, [("database", "s"), ("table", "s"), ("lsn", "u")]),
    "scan_table_end": (9, [("database", "s"), ("table", "s")]),
    # EXTENSION (variant 100, outside the reference's 0-9 RPC space):
    # executors touch this to extend the post-planning vacuum lease when
    # a scan's read phase outlives the fixed pin_lease_s window (review
    # r11). ``file`` scopes the renewal to leased versions containing
    # that data file — the task's own snapshot, never every orphaned
    # lease on the table ("" = unscoped, admin use only).
    "lease_renew": (
        100,
        [("database", "s"), ("table", "s"), ("ttl_ms", "u"), ("file", "s")],
    ),
}
_BY_INDEX = {idx: (name, spec) for name, (idx, spec) in RPC_DEFS.items()}


def encode_request(name: str, **kwargs: Any) -> bytes:
    idx, spec = RPC_DEFS[name]
    out = bytearray(enc_varint(idx))
    for fname, kind in spec:
        v = kwargs[fname]
        if kind == "s":
            out += enc_str(v)
        elif kind == "u":
            out += enc_varint(int(v))
        elif kind == "vs":
            out += enc_varint(len(v))
            for item in v:
                out += enc_str(item)
    return bytes(out)


def decode_request(buf: bytes) -> tuple[str, dict[str, Any]]:
    idx, pos = dec_varint(buf, 0)
    name, spec = _BY_INDEX[idx]
    kwargs: dict[str, Any] = {}
    for fname, kind in spec:
        if kind == "s":
            kwargs[fname], pos = dec_str(buf, pos)
        elif kind == "u":
            kwargs[fname], pos = dec_varint(buf, pos)
        elif kind == "vs":
            n, pos = dec_varint(buf, pos)
            items = []
            for _ in range(n):
                s, pos = dec_str(buf, pos)
                items.append(s)
            kwargs[fname] = items
    return name, kwargs


# --------------------------------------------------------------------------- #
# scan-result wire format (table_metadata.rs, byte-exact)
# --------------------------------------------------------------------------- #


@dataclass
class TableMetadataBlob:
    data_files: list[str] = field(default_factory=list)
    puffin_files: list[str] = field(default_factory=list)
    # (data_file_number, puffin_file_number, offset, size)
    deletion_vectors: list[tuple[int, int, int, int]] = field(default_factory=list)
    # (data_file_number, data_file_row_number), sorted by file number
    position_deletes: list[tuple[int, int]] = field(default_factory=list)

    def encode(self) -> bytes:
        u32 = lambda v: struct.pack("<I", v)  # noqa: E731
        out = bytearray()
        out += u32(len(self.data_files))
        off = 0
        for p in self.data_files:
            out += u32(off)
            off += len(p.encode())
        out += u32(off)
        out += u32(len(self.puffin_files))
        off = 0
        for p in self.puffin_files:
            out += u32(off)
            off += len(p.encode())
        out += u32(off)
        out += u32(len(self.deletion_vectors))
        prev = 0
        for dfn, pfn, o, s in self.deletion_vectors:
            assert dfn >= prev, "deletion vectors must be file-ordered"
            prev = dfn
            out += u32(dfn) + u32(pfn) + u32(o) + u32(s)
        out += u32(len(self.position_deletes))
        prev = 0
        for dfn, row in self.position_deletes:
            assert dfn >= prev, "position deletes must be file-ordered"
            prev = dfn
            out += u32(dfn) + u32(row)
        for p in self.data_files:
            out += p.encode()
        for p in self.puffin_files:
            out += p.encode()
        return bytes(out)

    @classmethod
    def decode(cls, buf: bytes) -> "TableMetadataBlob":
        pos = 0

        def u32() -> int:
            nonlocal pos
            (v,) = struct.unpack_from("<I", buf, pos)
            pos += 4
            return v

        n_data = u32()
        data_offsets = [u32() for _ in range(n_data + 1)]
        n_puffin = u32()
        puffin_offsets = [u32() for _ in range(n_puffin + 1)]
        dvs = [tuple(u32() for _ in range(4)) for _ in range(u32())]
        pds = [tuple(u32() for _ in range(2)) for _ in range(u32())]
        data_base = pos
        data_files = [
            buf[data_base + data_offsets[i]:data_base + data_offsets[i + 1]].decode()
            for i in range(n_data)
        ]
        puffin_base = data_base + data_offsets[n_data]
        puffin_files = [
            buf[
                puffin_base + puffin_offsets[i]:puffin_base + puffin_offsets[i + 1]
            ].decode()
            for i in range(n_puffin)
        ]
        return cls(data_files, puffin_files, dvs, pds)  # type: ignore[arg-type]


# --------------------------------------------------------------------------- #
# framing
# --------------------------------------------------------------------------- #


def _send_frame(sock: socket.socket, payload: bytes) -> None:
    sock.sendall(struct.pack("<I", len(payload)) + payload)


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    out = bytearray()
    while len(out) < n:
        chunk = sock.recv(n - len(out))
        if not chunk:
            raise ConnectionError("peer closed")
        out += chunk
    return bytes(out)


_MAX_FRAME = 64 << 20  # requests are tiny; a huge prefix is a bad peer


def _recv_frame(sock: socket.socket) -> bytes:
    (n,) = struct.unpack("<I", _recv_exact(sock, 4))
    if n > _MAX_FRAME:
        raise ConnectionError(f"frame length {n} exceeds {_MAX_FRAME}")
    return _recv_exact(sock, n)


# --------------------------------------------------------------------------- #
# server
# --------------------------------------------------------------------------- #


class MoonlinkRpcServer:
    """TCP RPC over a MoonlinkBackend (parity moonlink_service's RPC
    listener). One frame in -> one Result frame out per request;
    connections are served concurrently."""

    def __init__(
        self,
        backend,
        host: str = "127.0.0.1",
        port: int = 0,
        pin_lease_s: float = 300.0,
    ):
        """``pin_lease_s``: when a connection dies holding scan pins, the
        pinned versions are LEASED for this long instead of released —
        Spark's Python data source plans in a transient worker whose
        socket closes before executors read the planned files, so an
        instant release would let vacuum delete files mid-query. 0
        restores instant release (a crashed reader then never delays
        GC).

        CEILING: this window is NOT tied to query lifetime. A read phase
        longer than pin_lease_s loses vacuum protection mid-query unless
        executors renew — the Spark data source reader does this
        automatically (one ``lease_renew`` touch per task; see
        integrations/spark_datasource.py), and other readers can call
        ``MoonlinkRpcClient.lease_renew`` themselves or size the window
        at plan time via the reader's ``pin_lease_s`` option."""
        self.backend = backend
        self.pin_lease_s = pin_lease_s
        rpc = self
        self._lock = threading.Lock()
        # footer metadata cache (parity: the reference's metadata cache,
        # cache/metadata/moka_cache.rs — LRU + insertion-TTL). Parquet
        # files are content-immutable under their path (rewrites create
        # new names), so footer bytes cache safely by path.
        from moonlink_spark.table.objcache import MetadataCache

        self._footer_cache = MetadataCache(max_size=4096, ttl_secs=3600.0)

        class Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:
                # scan pins acquired on THIS connection: released on
                # scan_table_end, and force-released when the connection
                # dies (the reference provider's Drop scope) — a crashed
                # reader must not block vacuum forever
                conn_pins: list[tuple[str, str, int]] = []
                try:
                    while True:
                        try:
                            frame = _recv_frame(self.request)
                        except (ConnectionError, struct.error):
                            return
                        try:
                            name, kwargs = decode_request(frame)
                            payload = rpc._dispatch(name, kwargs, conn_pins)
                            _send_frame(self.request, b"\x00" + payload)  # Ok
                        except Exception as e:  # -> Err(message)
                            _send_frame(self.request, b"\x01" + enc_str(str(e)))
                finally:
                    for db, tbl, version in conn_pins:
                        try:
                            t = rpc.backend.get_table(db, tbl)
                            # convert the orphaned pin into a bounded
                            # lease: the planner's socket dying does NOT
                            # mean the executors are done reading
                            t.lease_version(version, rpc.pin_lease_s)
                            t.unpin_version(version)
                        except Exception:
                            pass  # table dropped since: nothing to unpin

        self.server = socketserver.ThreadingTCPServer((host, port), Handler)
        self.server.daemon_threads = True
        self.port = self.server.server_address[1]
        self._thread: threading.Thread | None = None

    # -- dispatch ----------------------------------------------------------

    def _dispatch(
        self,
        name: str,
        kw: dict[str, Any],
        conn_pins: list[tuple[str, str, int]] | None = None,
    ) -> bytes:
        if conn_pins is None:
            conn_pins = []  # direct test calls: pins released by end only
        if name == "create_snapshot":
            t = self.backend.get_table(kw["database"], kw["table"])
            t.store.wait_for_lsn(kw["lsn"])
            return b""
        if name == "create_table":
            import json

            cfg = json.loads(kw["table_config"]) if kw["table_config"] else {}
            from moonlink_spark.table.identity import IdentityProp

            ident = IdentityProp.from_json(
                cfg.get("identity", {"mode": "none", "columns": []})
            )
            self.backend.create_table(
                kw["database"], kw["table"], cfg["schema"], ident
            )
            return b""
        if name == "drop_table":
            self.backend.drop_table(kw["database"], kw["table"])
            return b""
        if name == "get_parquet_metadatas":
            metas = []
            for p in kw["data_files"]:
                m = self._footer_cache.get(p)
                if m is None:
                    m = _parquet_footer_bytes(p)
                    self._footer_cache.put(p, m)
                metas.append(m)
            out = bytearray(enc_varint(len(metas)))
            for m in metas:
                out += enc_bytes(m)
            return bytes(out)
        if name == "get_table_schema":
            from pyspark.sql.pandas.types import to_arrow_schema

            t = self.backend.get_table(kw["database"], kw["table"])
            return enc_bytes(to_arrow_schema(t.schema).serialize().to_pybytes())
        if name == "list_tables":
            from moonlink_spark.table.iceberg_export import read_iceberg_sync

            rows = []
            for full in self.backend.list_tables():  # "db.table" keys
                db, tbl = full.split(".", 1)
                t = self.backend.get_table(db, tbl)
                m = t.manifest
                # flush_lsn = last Iceberg sync, None if never synced —
                # same contract as backend.list_table_status and the
                # reference's TableStatus (table_status.rs:5-18)
                sync = read_iceberg_sync(t)
                flush = int(sync["flush_lsn"]) if sync else None
                rows.append((db, tbl, t.cardinality(), m.lsn, flush, t.path))
            out = bytearray(enc_varint(len(rows)))
            for db, tbl, card, commit_lsn, flush_lsn, loc in rows:
                out += enc_str(db) + enc_str(tbl)
                out += enc_varint(card) + enc_varint(commit_lsn)
                if flush_lsn is None:
                    out += b"\x00"  # Option::None
                else:
                    out += b"\x01" + enc_varint(flush_lsn)
                out += enc_str(loc)
            return bytes(out)
        if name == "load_files":
            t = self.backend.get_table(kw["database"], kw["table"])
            t.load_files(kw["files"])
            t.commit(operation="rpc-load-files")
            return b""
        if name == "optimize_table":
            self.backend.optimize_table(kw["database"], kw["table"], kw["mode"])
            return b""
        if name == "scan_table_begin":
            blob, version = self._scan_blob(
                kw["database"], kw["table"], kw["lsn"]
            )
            conn_pins.append((kw["database"], kw["table"], version))
            return enc_bytes(blob)
        if name == "lease_renew":
            t = self.backend.get_table(kw["database"], kw["table"])
            renewed = t.renew_leases(
                kw["ttl_ms"] / 1000.0, file=kw["file"] or None
            )
            return enc_varint(renewed)
        if name == "scan_table_end":
            # release the most recent pin THIS connection holds for the
            # table; a double-end is a no-op (never an underflow)
            for i in range(len(conn_pins) - 1, -1, -1):
                db, tbl, version = conn_pins[i]
                if db == kw["database"] and tbl == kw["table"]:
                    del conn_pins[i]
                    self.backend.get_table(db, tbl).unpin_version(version)
                    break
            return b""
        raise ValueError(f"unknown rpc {name!r}")

    def _scan_blob(self, db: str, table: str, lsn: int) -> tuple[bytes, int]:
        """-> (encoded blob, pinned manifest version). The caller owns the
        pin and must eventually release it via unpin_version."""
        from moonlink_spark.table.table import dv_positions

        t = self.backend.get_table(db, table)
        # resolve+pin must be atomic vs vacuum: vacuum reads
        # pinned_versions() under t._lock, so an unlocked gap between
        # resolving an older (time-travel) manifest and pinning it would
        # let vacuum GC the very version we're about to read
        with t._lock:
            m = (
                t._resolve_manifest(lsn=lsn) if lsn else t.manifest
            )
            t.pin_version(m.version)
        data_files = [t._resolve(f.path) for f in m.data_files]
        index = {f.path: i for i, f in enumerate(m.data_files)}
        dead = dv_positions(t.data_path, m.delete_files, only=index)
        pds = sorted((index[fp], ri) for fp, pos in dead.items() for ri in pos)
        return (
            TableMetadataBlob(
                data_files=data_files, position_deletes=pds
            ).encode(),
            m.version,
        )

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> "MoonlinkRpcServer":
        self._thread = threading.Thread(
            target=self.server.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()


def _parquet_footer_bytes(path: str) -> bytes:
    """Raw parquet footer (thrift) bytes: tail = footer | u32-LE len | PAR1."""
    size = os.path.getsize(path)
    with open(path, "rb") as fh:
        fh.seek(size - 8)
        tail = fh.read(8)
        if tail[4:] != b"PAR1":
            raise ValueError(f"{path} is not parquet")
        (flen,) = struct.unpack("<I", tail[:4])
        fh.seek(size - 8 - flen)
        return fh.read(flen)


# --------------------------------------------------------------------------- #
# client
# --------------------------------------------------------------------------- #


class RpcError(RuntimeError):
    pass


class MoonlinkRpcClient:
    """Blocking client for the server above (one socket, request/response)."""

    def __init__(self, host: str, port: int, timeout_s: float = 30.0):
        self.sock = socket.create_connection((host, port), timeout=timeout_s)

    def close(self) -> None:
        self.sock.close()

    def _call(self, name: str, **kwargs: Any) -> bytes:
        _send_frame(self.sock, encode_request(name, **kwargs))
        resp = _recv_frame(self.sock)
        if resp[:1] == b"\x01":
            msg, _ = dec_str(resp, 1)
            raise RpcError(msg)
        return resp[1:]

    def create_snapshot(self, database: str, table: str, lsn: int) -> None:
        self._call("create_snapshot", database=database, table=table, lsn=lsn)

    def create_table(
        self, database: str, table: str, src: str, src_uri: str, table_config: str
    ) -> None:
        self._call(
            "create_table",
            database=database,
            table=table,
            src=src,
            src_uri=src_uri,
            table_config=table_config,
        )

    def drop_table(self, database: str, table: str) -> None:
        self._call("drop_table", database=database, table=table)

    def get_parquet_metadatas(self, data_files: list[str]) -> list[bytes]:
        buf = self._call("get_parquet_metadatas", data_files=data_files)
        n, pos = dec_varint(buf, 0)
        out = []
        for _ in range(n):
            b, pos = dec_bytes(buf, pos)
            out.append(b)
        return out

    def get_table_schema(self, database: str, table: str):
        import pyarrow as pa

        buf = self._call("get_table_schema", database=database, table=table)
        raw, _ = dec_bytes(buf, 0)
        return pa.ipc.read_schema(pa.BufferReader(raw))

    def list_tables(self) -> list[dict[str, Any]]:
        buf = self._call("list_tables")
        n, pos = dec_varint(buf, 0)
        out = []
        for _ in range(n):
            db, pos = dec_str(buf, pos)
            tbl, pos = dec_str(buf, pos)
            card, pos = dec_varint(buf, pos)
            commit_lsn, pos = dec_varint(buf, pos)
            has_flush = buf[pos]
            pos += 1
            flush_lsn = None
            if has_flush:
                flush_lsn, pos = dec_varint(buf, pos)
            loc, pos = dec_str(buf, pos)
            out.append(
                {
                    "database": db,
                    "table": tbl,
                    "cardinality": card,
                    "commit_lsn": commit_lsn,
                    "flush_lsn": flush_lsn,
                    "iceberg_warehouse_location": loc,
                }
            )
        return out

    def load_files(self, database: str, table: str, files: list[str]) -> None:
        self._call("load_files", database=database, table=table, files=files)

    def optimize_table(self, database: str, table: str, mode: str) -> None:
        self._call("optimize_table", database=database, table=table, mode=mode)

    def scan_table_begin(
        self, database: str, table: str, lsn: int
    ) -> TableMetadataBlob:
        buf = self._call(
            "scan_table_begin", database=database, table=table, lsn=lsn
        )
        raw, _ = dec_bytes(buf, 0)
        return TableMetadataBlob.decode(raw)

    def scan_table_end(self, database: str, table: str) -> None:
        self._call("scan_table_end", database=database, table=table)

    def lease_renew(
        self,
        database: str,
        table: str,
        ttl_s: float = 300.0,
        file: str = "",
    ) -> int:
        """Extend still-active vacuum leases to at least ``now + ttl_s``
        (extension RPC; see RPC_DEFS). ``file`` scopes renewal to leased
        versions containing that data file — pass the file the task is
        reading so only its own scan's snapshot is extended. Returns the
        number of leases extended — 0 means every matching lease already
        lapsed and the caller's snapshot may no longer be protected."""
        buf = self._call(
            "lease_renew",
            database=database,
            table=table,
            ttl_ms=int(ttl_s * 1000),
            file=file,
        )
        n, _ = dec_varint(buf, 0)
        return n
