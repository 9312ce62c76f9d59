"""Versioned manifest store: the commit log of a MoonlinkTable.

Design (Spark-first re-expression of the reference's snapshot + Iceberg sync,
``src/moonlink/src/storage/mooncake_table.rs:159-186`` and
``storage/table/iceberg/iceberg_table_syncer.rs``):

- One JSON manifest per committed version under ``<table>/_manifests/``,
  named ``v{version:012d}.json``; commit = exclusive-create + atomic rename,
  so a torn write is never visible and two racing writers can't both win.
- A manifest lists immutable data files and deletion-vector (position-delete)
  files, carries the schema, identity config, and the commit LSN.
- The LSN -> version mapping IS the manifest sequence: read-at-LSN X resolves
  to the largest version whose lsn <= X ("any record committed at lsn <= X is
  visible", reference mooncake_table.rs:440-444).

Manifests are tiny (file lists, not row data), so driver-side JSON is fine
even for tables with thousands of files; at true 100 TB scale the same layout
holds — Iceberg's own metadata is equally driver-parsed.
"""

from __future__ import annotations

import dataclasses
import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from moonlink_spark.errors import CommitConflictError, LsnError
from moonlink_spark.table.fs import CommitRaceLost, fs_for

MANIFEST_DIR = "_manifests"


@dataclass(frozen=True)
class FileEntry:
    path: str  # relative to table dir unless absolute (bulk-loaded external)
    rows: int
    bytes: int = 0
    # per-column [min, max] from the parquet footer (stats.py); powers
    # driver-side file pruning (parity: Iceberg manifest stats,
    # parquet_stats_utils.rs)
    stats: dict[str, list] | None = None

    def to_json(self) -> dict[str, Any]:
        o: dict[str, Any] = {"path": self.path, "rows": self.rows, "bytes": self.bytes}
        if self.stats:
            o["stats"] = self.stats
        return o

    @staticmethod
    def from_json(o: dict[str, Any]) -> "FileEntry":
        return FileEntry(o["path"], o["rows"], o.get("bytes", 0), o.get("stats"))


@dataclass
class Manifest:
    version: int
    lsn: int
    schema_fields: list[dict[str, Any]]  # FieldSchema DSL (moonlink_spark.schema)
    identity: dict[str, Any]
    data_files: list[FileEntry] = field(default_factory=list)
    delete_files: list[FileEntry] = field(default_factory=list)
    parent: int | None = None
    operation: str = ""
    properties: dict[str, Any] = field(default_factory=dict)
    timestamp_ms: int = 0

    @property
    def live_rows(self) -> int:
        return sum(f.rows for f in self.data_files) - sum(
            f.rows for f in self.delete_files
        )

    @property
    def deleted_rows(self) -> int:
        return sum(f.rows for f in self.delete_files)

    def to_json(self) -> dict[str, Any]:
        return {
            "format_version": 1,
            "version": self.version,
            "lsn": self.lsn,
            "schema_fields": self.schema_fields,
            "identity": self.identity,
            "data_files": [f.to_json() for f in self.data_files],
            "delete_files": [f.to_json() for f in self.delete_files],
            "parent": self.parent,
            "operation": self.operation,
            "properties": self.properties,
            "timestamp_ms": self.timestamp_ms,
        }

    @staticmethod
    def from_json(o: dict[str, Any]) -> "Manifest":
        return Manifest(
            version=o["version"],
            lsn=o["lsn"],
            schema_fields=o["schema_fields"],
            identity=o["identity"],
            data_files=[FileEntry.from_json(f) for f in o["data_files"]],
            delete_files=[FileEntry.from_json(f) for f in o["delete_files"]],
            parent=o.get("parent"),
            operation=o.get("operation", ""),
            properties=o.get("properties", {}),
            timestamp_ms=o.get("timestamp_ms", 0),
        )

    def copy(self) -> "Manifest":
        """A Manifest with its own top-level lists and dicts. The file
        entries are frozen and shared; nested values (file stats, schema
        field dicts, property values) are shared and read-only by
        contract: every writer copies before it changes one
        (``keyindex``, ``maintenance``, ``MoonlinkTable._index_new_files``)."""
        return dataclasses.replace(
            self,
            schema_fields=list(self.schema_fields),
            identity=dict(self.identity),
            data_files=list(self.data_files),
            delete_files=list(self.delete_files),
            properties=dict(self.properties),
        )


class ManifestStore:
    """Reads/commits versioned manifests under one table directory.

    A version is published once by exclusive create and never rewritten,
    so the store keeps the last version it parsed and serves copies of
    it (:meth:`Manifest.copy`) without re-reading it. A hit needs the
    version to still exist: :meth:`latest` and :meth:`version_for_lsn`
    see it in the same call's listing and :meth:`read` stats the file,
    so a version vacuum pruned still raises ``LsnError``, and a commit
    by another writer is seen through the listing."""

    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        self.fs = fs_for(table_dir)
        self.manifest_dir = os.path.join(table_dir, MANIFEST_DIR)
        # the last version parsed; callers get copies
        self._last: Manifest | None = None

    # -- reads ------------------------------------------------------------

    def exists(self) -> bool:
        return self.fs.isdir(self.manifest_dir) and bool(self.versions())

    def versions(self) -> list[int]:
        if not self.fs.isdir(self.manifest_dir):
            return []
        out = []
        for name in self.fs.listdir(self.manifest_dir):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def _path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"v{version:012d}.json")

    def read(self, version: int) -> Manifest:
        return self._read(version, listed=False)

    def _read(self, version: int, listed: bool) -> Manifest:
        """``listed``: the caller's own listing shows ``version``, so a
        memo hit needs no stat."""
        last = self._last
        if (
            last is not None
            and last.version == version
            and (listed or self.fs.exists(self._path(version)))
        ):
            return last.copy()
        try:
            with self.fs.open_read(self._path(version)) as fh:
                last = Manifest.from_json(json.load(fh))
        except FileNotFoundError:
            # the version existed when listed but vacuum pruned it before
            # the read: surface the read-path contract error, not a raw
            # filesystem crash
            raise LsnError(
                f"manifest version {version} not found (pruned by vacuum?)"
            ) from None
        self._last = last
        return last.copy()

    def latest(self) -> Manifest | None:
        # lock-free readers race in-process vacuum's manifest unlink:
        # on a pruned read, re-list and retry (the newest version is
        # never pruned, so this converges)
        for _ in range(8):
            vs = self.versions()
            if not vs:
                return None
            try:
                return self._read(vs[-1], listed=True)
            except LsnError:
                continue
        raise LsnError("manifest listing unstable (concurrent vacuum)")

    def version_for_lsn(self, lsn: int) -> int | None:
        """Largest version whose commit lsn <= requested lsn. LSNs are
        non-decreasing in version (enforced by commit), so this binary
        searches — O(log versions) manifest reads instead of reading
        every version's JSON on each time-travel resolve. A concurrent
        vacuum pruning a listed version mid-search restarts the search
        on a fresh listing."""
        for _ in range(8):
            vs = self.versions()
            best = None
            lo, hi = 0, len(vs) - 1
            try:
                while lo <= hi:
                    mid = (lo + hi) // 2
                    if self._read(vs[mid], listed=True).lsn <= lsn:
                        best = vs[mid]
                        lo = mid + 1
                    else:
                        hi = mid - 1
                return best
            except LsnError:
                continue
        raise LsnError("manifest listing unstable (concurrent vacuum)")

    def wait_for_lsn(self, lsn: int, timeout_s: float = 30.0) -> int:
        """Block until a snapshot with lsn >= requested exists (parity:
        ReadStateManager blocking read, union_read/read_state_manager.rs:91).
        Returns the version to read."""
        deadline = time.monotonic() + timeout_s
        while True:
            latest = self.latest()
            if latest is not None and latest.lsn >= lsn:
                v = self.version_for_lsn(lsn)
                if v is None:
                    # every retained version has lsn > requested: the
                    # wait condition holds but the snapshot to READ was
                    # vacuumed away — a None here would crash the caller
                    # with a misleading type error downstream
                    raise LsnError(
                        f"history for lsn {lsn} predates retained "
                        f"versions (vacuumed)"
                    )
                return v
            if time.monotonic() >= deadline:
                raise LsnError(
                    f"timed out waiting for lsn >= {lsn} "
                    f"(latest: {latest.lsn if latest else None})"
                )
            time.sleep(0.05)

    # -- commits ----------------------------------------------------------

    def commit(self, manifest: Manifest, allow_equal_lsn: bool = False) -> None:
        """Atomically publish ``manifest`` as the next version.

        Exclusive-create of the final name makes concurrent committers
        fail-fast (optimistic concurrency, single-winner like the reference's
        single per-table event loop). ``allow_equal_lsn`` is for maintenance
        commits (optimize/alter) that add no new data."""
        self.fs.makedirs(self.manifest_dir)
        latest = self.latest()
        if latest is not None:
            if manifest.version != latest.version + 1:
                raise CommitConflictError(
                    f"stale commit: next version is {latest.version + 1}, "
                    f"got {manifest.version}"
                )
            floor_ok = (
                manifest.lsn >= latest.lsn
                if allow_equal_lsn
                else manifest.lsn > latest.lsn
            )
            if not floor_ok:
                raise LsnError(
                    f"LSN must increase: {manifest.lsn} <= {latest.lsn}"
                )
        manifest.timestamp_ms = int(time.time() * 1000)
        path = self._path(manifest.version)
        tmp = path + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        self.fs.write_text_new(
            tmp, json.dumps(manifest.to_json(), separators=(",", ":"))
        )
        try:
            # exclusive publish: the loser of a race fails cleanly and never
            # leaves a half-written manifest (LocalFS: hard link, then a
            # directory fsync; object stores: conditional put — see
            # table/fs.py)
            self.fs.publish_exclusive(tmp, path)
        except CommitRaceLost as e:
            raise CommitConflictError(f"version {manifest.version} exists") from e
