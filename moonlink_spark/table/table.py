"""MoonlinkTable: an LSN-versioned, identity-aware lakehouse table on Parquet.

Spark-first re-expression of the reference's core table
(``src/moonlink/src/storage/mooncake_table.rs:445-507``):

- mem-slice            -> a driver-side row buffer, flushed to Parquet at
                          commit (or when it exceeds ``mem_slice_rows``,
                          parity mooncake_table_config.rs:152-166)
- deletion vectors     -> position-delete Parquet files (file_path, row_index)
                          anti-joined at scan time; compaction folds them in
                          (parity BatchDeletionVector + Puffin blobs). This
                          module is the one reader of the format: Spark
                          scans read DVs in ``_read_manifest``; driver-side
                          consumers (exports, the RPC blob, the data
                          sources, point reads) take :func:`dv_positions`
                          and read rows back with :func:`read_positions`
- snapshot + Iceberg   -> one JSON manifest per commit (manifest.py); the
  sync                    commit LSN gives exact read-at-LSN
                          ("read at X sees commits <= X",
                          mooncake_table.rs:440-444)
- hash index           -> optional persisted key index (keyindex.py),
                          probed on the driver to pick the files a key batch
                          touches; delete targeting is then a broadcast
                          semi-join against live rows of those files.
                          Without it, Parquet min/max stats + runtime bloom
                          filters prune files (SURVEY.md §4)
- streaming xact       -> ``TransactionStream`` staged ops, commit/abort
                          (parity transaction_stream.rs)

Scale notes (100 TB / 1000 executors):
- Scans are plain parquet DataFrames: Catalyst pushes projection + predicates
  into the scan. The DV anti-join keys on the raw file URI Spark reports
  (``_metadata.file_path``) and ``_metadata.row_index``. The DV side maps
  each manifest path to its URI (:func:`file_uris`, computed per file)
  through a literal map, so no data row carries a path expression; it is
  broadcast (up to ``DV_BROADCAST_MAX_ROWS``) and never shuffles the fact
  side. Heavily-deleted tables should run ``optimize()``, after which
  scans have no anti-join at all.
- Delete targeting broadcasts the delete-key set (bounded by the micro-batch
  size, i.e. small) against the live view — a map-side semi-join, no shuffle
  of the table.
- Appends write through Spark, preserving input parallelism; the row-buffer
  fast path only serves small interactive/REST batches.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import shutil
import threading
import uuid
import zlib
from typing import Any, Iterable

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from moonlink_spark.errors import (
    IdentityError,
    LsnError,
    TableConfigError,
    TransactionError,
)
from moonlink_spark.schema import field_schema_to_struct, struct_to_field_schema
from moonlink_spark.session import local_frame
from moonlink_spark.table.identity import IdentityProp
from moonlink_spark.table.stats import (
    PrunePredicate,
    collect_file_stats,
    file_rows_and_stats,
    key_batch_predicate,
)
from moonlink_spark.table.fs import fs_for
from moonlink_spark.table.manifest import FileEntry, Manifest, ManifestStore
from moonlink_spark.observability import METRICS

DATA_DIR = "data"
DELETE_DIR = "deletes"

# Mem-slice capacity: 32 batches x 4096 rows in the reference
# (mooncake_table_config.rs:152-166).
DEFAULT_MEM_SLICE_ROWS = 32 * 4096
# Broadcast the DV side of the scan anti-join below this many deleted rows.
DV_BROADCAST_MAX_ROWS = 4_000_000
# Columns of a deletion-vector parquet file (see ``_write_dv``), as a
# Spark DDL string and as an Arrow schema.
DV_SCHEMA = "file_path string, row_index long"
DV_ARROW_SCHEMA = pa.schema([("file_path", pa.string()), ("row_index", pa.int64())])


def _parquet_num_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def resolve(data_path: str, rel: str) -> str:
    """Manifest path -> readable path. Files the table wrote (data, DVs,
    index blocks) are stored relative to ``data_path``; files loaded in
    place keep their absolute path. DV rows store manifest paths, so
    they resolve alike."""
    return rel if os.path.isabs(rel) else os.path.join(data_path, rel)


def dv_positions(
    data_path: str, dv_files: list[FileEntry], only=None
) -> dict[str, list[int]]:
    """The deleted positions the DV files ``dv_files`` record:
    ``{manifest path: sorted row indexes, each once}``, read with one
    pyarrow read on the driver. ``only`` (manifest paths) is pushed
    down as a ``file_path`` filter."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if not dv_files or (only is not None and not only):
        return {}
    tbl = pq.read_table(
        [resolve(data_path, f.path) for f in dv_files],
        schema=DV_ARROW_SCHEMA,
        filters=None if only is None else pc.field("file_path").isin(list(only)),
    )
    tbl = tbl.group_by("file_path").aggregate([("row_index", "distinct")])
    return {
        fp: sorted(pos)
        for fp, pos in zip(
            tbl.column("file_path").to_pylist(),
            tbl.column("row_index_distinct").to_pylist(),
        )
    }


def conform(tbl, schema):
    """``tbl`` (an Arrow table or record batch) in the Arrow ``schema``:
    columns it lacks (files written before an ``alter``) come back null,
    the others are cast (pyarrow reads Spark's timestamps UTC-zoned, or
    as INT96 nanoseconds)."""
    names = set(tbl.schema.names)
    return type(tbl).from_arrays(
        [
            tbl.column(f.name).cast(f.type)
            if f.name in names
            else pa.nulls(tbl.num_rows, f.type)
            for f in schema
        ],
        schema=schema,
    )


def read_positions(path: str, positions: list[int], schema):
    """The rows at the sorted positions ``positions``
    (``_metadata.row_index``) of the data file at ``path``, in the Arrow
    ``schema`` (:func:`conform`). Only the row groups that hold them are
    read."""
    import numpy as np
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    sizes = [md.row_group(g).num_rows for g in range(md.num_row_groups)]
    starts = np.cumsum([0] + sizes)
    pos = np.asarray(positions, np.int64)
    group = np.searchsorted(starts, pos, side="right") - 1
    names = set(pf.schema_arrow.names)
    columns = [n for n in schema.names if n in names]
    tbl = pa.concat_tables(
        [
            pf.read_row_group(g, columns=columns).take(pos[group == g] - starts[g])
            for g in np.unique(group).tolist()
        ]
    )
    return conform(tbl, schema)


def file_uris(df: DataFrame, paths: dict[str, str]) -> dict[str, str]:
    """The one owner of data-file path spelling: ``{uri: manifest path}``
    for each file ``df`` reads, ``paths`` mapping the plain path handed to
    the reader to the manifest path. The URIs are Spark's own, from
    ``inputFiles()`` (percent-encoded like ``_metadata.file_path``), with
    a ``file`` URI spelled as ``_metadata.file_path`` spells it
    (``file:/x``, where ``inputFiles()`` says ``file:///x``). A URI that
    does not decode to a key of ``paths`` raises ``KeyError``."""
    from urllib.parse import unquote, urlsplit

    out = {}
    for uri in df.inputFiles():
        u = urlsplit(uri)
        if u.scheme == "file":
            out["file:" + u.path] = paths[unquote(u.path)]
        else:
            out[uri] = paths[unquote(uri)]
    return out


def path_lookup(mapping: dict[str, str], col: Column) -> Column:
    """``col`` looked up in ``mapping`` (NULL when absent) as a literal
    map: unlike a join with a local relation it launches no job. Spark
    finds a map key by comparing it with each key in turn, so the entries
    are split over ~sqrt(n) maps by the CRC-32 of the key, and a lookup
    compares ~2*sqrt(n) keys. The maps are one JSON literal that the
    optimizer folds."""
    n = max(1, math.isqrt(len(mapping)))
    buckets: dict[str, dict[str, str]] = {}
    for k, v in mapping.items():
        buckets.setdefault(str(zlib.crc32(k.encode()) % n), {})[k] = v
    maps = F.from_json(F.lit(json.dumps(buckets)), "map<string,map<string,string>>")
    bucket = (F.crc32(col) % n).cast("string")
    return F.element_at(F.element_at(maps, bucket), col)


def _verify_types(schema: T.StructType, rows: Iterable) -> None:
    """``createDataFrame(list)``'s type check over rows (tuples in
    ``schema`` order, or dicts). The driver-side writers convert rows
    with pyarrow, which alone reads 1.5 into a bigint column as 1."""
    verify = T._make_type_verifier(schema)
    for r in rows:
        verify(r)


def drop_positions(
    df: DataFrame,
    dv: DataFrame | None,
    broadcast: bool = True,
    keep_pos: bool = False,
) -> DataFrame:
    """``df``, a parquet read, without the rows at the ``dv`` positions
    (``__uri``, ``__ri``): anti-joined on ``(_metadata.file_path,
    _metadata.row_index)``, which ``keep_pos`` keeps as ``__uri`` and
    ``__ri``."""
    df = df.select(
        "*",
        F.col("_metadata.file_path").alias("__uri"),
        F.col("_metadata.row_index").alias("__ri"),
    )
    if dv is not None:
        dv = F.broadcast(dv) if broadcast else dv
        df = df.join(dv, ["__uri", "__ri"], "left_anti")
    return df if keep_pos else df.drop("__uri", "__ri")


class MoonlinkTable:
    """One versioned table rooted at ``path``."""

    def __init__(
        self, spark: SparkSession, path: str, data_path: str | None = None
    ):
        from moonlink_spark.session import ensure_package_on_workers

        ensure_package_on_workers(spark)
        self.spark = spark
        # file:// is the local filesystem by definition: strip the scheme
        # so abspath() sees the real path — abspath('file:///tmp/t') would
        # otherwise mangle it into '<cwd>/file:/tmp/t'
        if path.startswith("file://"):
            path = path[len("file://"):] or "/"
        if data_path is not None and data_path.startswith("file://"):
            data_path = data_path[len("file://"):] or "/"
        # resolve the FS on the RAW path: abspath() would mangle an
        # object-store URI into a relative local path before the seam
        # could reject it (table/fs.py)
        fs_for(path)
        has_scheme = "://" in path
        self.path = path.rstrip("/") if has_scheme else os.path.abspath(path)
        self.store = ManifestStore(self.path)
        self.fs = self.store.fs
        # Split warehouse: control plane (manifests, WAL) on the table's
        # filesystem; the DATA plane on a path Spark's reader/writer can
        # address. For a local table they coincide. For an object-store
        # control plane (parity: the reference keeps table state behind
        # its accessor trait while parquet IO goes through the engine's
        # own readers), pass ``data_path`` — a local staging dir, or a
        # scheme registered via register_fs_scheme (the driver-side file
        # adoption in the writers goes through that FS, so an unregistered
        # scheme fails loudly here instead of issuing POSIX calls against
        # the URI).
        if data_path is None:
            if has_scheme:
                raise TableConfigError(
                    f"table at {path!r} needs data_path=... : Spark cannot "
                    "read parquet through the control-plane store; give a "
                    "local staging dir or a connector-served location"
                )
            data_path = self.path
        self.data_path = (
            data_path.rstrip("/")
            if "://" in data_path
            else os.path.abspath(data_path)
        )
        self.data_fs = (
            self.fs if self.data_path == self.path else fs_for(self.data_path)
        )
        self._pending: list[tuple] = []
        # ops at indexes below this floor must not be coalesced INTO:
        # pending_mark() raises it so a later append/delete can never
        # merge into an op staged before the mark — merged rows would be
        # invisible to discard_pending_since(mark), breaking the REST/
        # queue sync-commit failure-retry invariant (review r11)
        self._coalesce_floor = 0
        self._lock = threading.RLock()
        # refcounted version pins: an in-flight reader (RPC scan_table_begin,
        # an exported-snapshot reader) pins the manifest version it resolved
        # so vacuum keeps that version's files until the scan ends — the
        # reference's scan_table_begin/end holds the mooncake snapshot alive
        # the same way (src/moonlink_rpc/src/lib.rs scan lifecycle)
        self._version_pins: dict[int, int] = {}

        self._version_leases: dict[int, float] = {}
        # recovery telemetry: opening an EXISTING table loads its current
        # snapshot — the analog of the reference's iceberg table recovery
        # histogram (observability/iceberg_table_recovery.rs:16-22)
        if self.store.exists():
            with METRICS.guard("snapshot_load_latency", self.path):
                self.store.latest()
        self.mem_slice_rows = DEFAULT_MEM_SLICE_ROWS
        self._xacts: dict[int, "TransactionStream"] = {}
        # >0 while a maintenance rewrite (optimize / index merge) is
        # writing files that no manifest or pending op references YET;
        # vacuum declines to GC while set (maintenance.py)
        self._maintenance_writes = 0
        # manual/test override for clustered write file counts; optimize()
        # passes its target as a _write_df_files PARAMETER instead (a
        # shared hint let a concurrent ingest pick up compaction sizing)
        self._cluster_files_hint: int | None = None

    # ------------------------------------------------------------------ #
    # lifecycle
    # ------------------------------------------------------------------ #

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType | list[dict[str, Any]],
        identity: IdentityProp,
        append_only: bool | None = None,
        properties: dict[str, Any] | None = None,
        cluster_by: list[str] | None = None,
        data_path: str | None = None,
        key_index: bool = False,
    ) -> "MoonlinkTable":
        if isinstance(schema, T.StructType):
            fields = struct_to_field_schema(schema)
        else:
            fields = schema
            schema = field_schema_to_struct(fields)
        # invariant: append_only <=> identity none (table_config.rs:31-45)
        if append_only is None:
            append_only = identity.is_append_only
        if append_only != identity.is_append_only:
            raise TableConfigError(
                "append_only must match identity mode 'none' "
                f"(append_only={append_only}, identity={identity.mode})"
            )
        identity.validate(schema.fieldNames())
        props = dict(properties or {})
        if key_index:
            if identity.mode not in ("single", "keys"):
                raise TableConfigError(
                    "key_index requires a key identity (single/keys); "
                    f"got {identity.mode}"
                )
            from moonlink_spark.table.keyindex import (
                KEY_INDEX_PROP,
                XXHASH64_ALGO,
            )

            props[KEY_INDEX_PROP] = {"algo": XXHASH64_ALGO, "entries": []}
        if cluster_by:
            unknown = set(cluster_by) - set(schema.fieldNames())
            if unknown:
                raise TableConfigError(f"unknown cluster_by columns {unknown}")
            # Range clustering, not hive partitionBy: partitioned writes
            # drop the partition columns from the files themselves, which
            # would break path-addressed scans. Range-sorted files give the
            # same pruning via non-overlapping per-file min/max stats —
            # the Spark-native equivalent of the layout benefit.
            props["cluster_by"] = list(cluster_by)
            if props.get("cluster_strategy", "range") == "zorder":
                from moonlink_spark.table.zorder import validate_zorder_columns

                validate_zorder_columns(schema, list(cluster_by))
        t = cls(spark, path, data_path)
        if t.store.exists():
            raise TableConfigError(f"table already exists at {path}")
        t.data_fs.makedirs(os.path.join(t.data_path, DATA_DIR))
        t.data_fs.makedirs(os.path.join(t.data_path, DELETE_DIR))
        t.store.commit(
            Manifest(
                version=0,
                lsn=0,
                schema_fields=fields,
                identity=identity.to_json(),
                operation="create",
                properties=props,
            )
        )
        return t

    @property
    def cluster_by(self) -> list[str]:
        return list(self.manifest.properties.get("cluster_by") or [])

    @classmethod
    def open(
        cls, spark: SparkSession, path: str, data_path: str | None = None
    ) -> "MoonlinkTable":
        t = cls(spark, path, data_path)
        if not t.store.exists():
            raise TableConfigError(f"no table at {path}")
        return t

    def drop(self) -> None:
        """Delete table data + metadata (parity TableEvent::DropTable)."""
        self.fs.rmtree(self.path)
        # a table re-created at this path publishes a different version 0
        self.store._last = None
        if self.data_path != self.path:
            self.data_fs.rmtree(self.data_path)

    # ------------------------------------------------------------------ #
    # introspection
    # ------------------------------------------------------------------ #

    @property
    def manifest(self) -> Manifest:
        m = self.store.latest()
        assert m is not None
        return m

    @property
    def schema(self) -> T.StructType:
        return field_schema_to_struct(self.manifest.schema_fields)

    @property
    def identity(self) -> IdentityProp:
        return IdentityProp.from_json(self.manifest.identity)

    @property
    def last_lsn(self) -> int:
        return self.manifest.lsn

    def pin_version(self, version: int) -> None:
        """Pin a manifest version against vacuum (refcounted): its data,
        delete, and manifest files survive GC until every pin drops."""
        with self._lock:
            self._version_pins[version] = self._version_pins.get(version, 0) + 1

    def lease_version(self, version: int, ttl_s: float) -> None:
        """Time-bounded pin: the version survives vacuum until the lease
        expires. Used when a pin's owning CONNECTION dies before the
        reads it planned are finished — Spark's Python data source plans
        in a transient worker whose process (and socket) exits before
        executors open the planned files, so the server converts the
        orphaned pin into a lease instead of reclaiming it instantly."""
        import time as _time

        if ttl_s <= 0:
            return
        with self._lock:
            expiry = _time.monotonic() + ttl_s
            self._version_leases[version] = max(
                self._version_leases.get(version, 0.0), expiry
            )

    def renew_leases(self, ttl_s: float, file: str | None = None) -> int:
        """Extend still-active leases to at least ``now + ttl_s``;
        returns how many leases were extended. Executors touch this (via
        the ``lease_renew`` RPC) when a scan's read phase outlives the
        fixed post-planning lease window — without renewal a straggling
        or spilled stage loses vacuum protection mid-query (review r11).

        ``file`` scopes the renewal to leased versions whose manifest
        contains that data file (matched by basename — file names are
        uuid-unique per table): the renewing task extends ITS scan's
        snapshot, not every orphaned lease on the table. Unscoped
        renewal (file=None) would let continuous query load slide a
        crashed reader's lease on an unrelated version forever,
        re-creating exactly the unbounded vacuum delay pin_lease_s
        bounds (review r11).

        Expired leases are NOT resurrected: a lease that already lapsed
        may have had its files vacuumed, and extending it would claim a
        protection that no longer exists."""
        import time as _time

        if ttl_s <= 0:
            return 0
        base = os.path.basename(file) if file else None
        renewed = 0
        with self._lock:
            now = _time.monotonic()
            floor = now + ttl_s
            for v, exp in list(self._version_leases.items()):
                if exp <= now:
                    del self._version_leases[v]
                    continue
                if base is not None:
                    try:
                        m = self.store.read(v)
                    except Exception:
                        continue  # manifest gone: lease expires naturally
                    if not any(
                        os.path.basename(f.path) == base
                        for f in m.data_files
                    ):
                        continue
                self._version_leases[v] = max(exp, floor)
                renewed += 1
        return renewed

    def unpin_version(self, version: int) -> None:
        """Drop one pin; unknown/over-released versions are a no-op (a
        reader double-ending a scan must not underflow a live pin)."""
        with self._lock:
            n = self._version_pins.get(version, 0)
            if n <= 1:
                self._version_pins.pop(version, None)
            else:
                self._version_pins[version] = n - 1

    def pinned_versions(self) -> list[int]:
        import time as _time

        with self._lock:
            now = _time.monotonic()
            for v, exp in list(self._version_leases.items()):
                if exp <= now:
                    del self._version_leases[v]
            return sorted(set(self._version_pins) | set(self._version_leases))

    def cardinality(self) -> int:
        """Exact live row count from manifest stats — no scan
        (parity get_cardinality, mooncake_table.rs:199-204)."""
        return self.manifest.live_rows

    def history(self) -> list[Manifest]:
        out = []
        for v in self.store.versions():
            try:
                out.append(self.store.read(v))
            except LsnError:
                continue  # pruned by a concurrent vacuum after listing
        return out

    # ------------------------------------------------------------------ #
    # ingestion ops (buffered until commit)
    # ------------------------------------------------------------------ #

    def append_rows(self, rows: Iterable[dict[str, Any]]) -> None:
        """Buffer rows (parity ``append``, mooncake_table.rs:1212-1239)."""
        rows = list(rows)
        if not rows:
            return
        with self._lock:
            if (
                self._pending
                and len(self._pending) > self._coalesce_floor
                and self._pending[-1][0] == "append_rows"
            ):
                self._pending[-1][1].extend(rows)
            else:
                self._pending.append(("append_rows", rows))
            if len(self._pending[-1][1]) >= self.mem_slice_rows:
                # mem-slice full: flush to a data file now (parity
                # should_flush / flush, mooncake_table.rs:1317-1369)
                buffered = self._pending.pop()[1]
                try:
                    files = self._write_rows_file(buffered)
                except BaseException:
                    # a failed flush must not lose the rows buffered by
                    # EARLIER append_rows calls — restore the op so the
                    # caller's retry/commit still covers them
                    self._pending.append(("append_rows", buffered))
                    raise
                self._pending.append(("append_files", files))

    def append_arrow(self, tbl) -> None:
        """Buffer one ``pyarrow.Table`` in the table's Arrow schema (a
        queue drain decodes straight into one); commit writes it as its
        own parquet file, after the rows buffered before it."""
        from pyspark.sql.pandas.types import to_arrow_schema

        want = to_arrow_schema(self.schema)
        if not tbl.schema.equals(want):
            raise TableConfigError(
                f"append_arrow: schema {tbl.schema} is not the table's {want}"
            )
        with self._lock:
            self._pending.append(("append_arrow", tbl))

    def append_df(self, df: DataFrame) -> None:
        """Buffer a DataFrame append (bulk path; preserves parallelism)."""
        with self._lock:
            self._pending.append(("append_df", df))

    def discard_staged_df(self, df: DataFrame) -> bool:
        """Unstage one buffered ``append_df`` op (matched by identity).

        A failed commit restores its raw ops so a plain retry recomputes
        them against the new base — right for row-level ops, but a bulk
        caller that RE-STAGES its own input on retry (initial copy
        re-exports a fresh snapshot and appends a NEW DataFrame) must
        drop the stale op first or the next commit double-applies the
        seed. Returns True if an op was removed."""
        with self._lock:
            for i, op in enumerate(self._pending):
                if op[0] == "append_df" and op[1] is df:
                    del self._pending[i]
                    return True
        return False

    def delete_rows(
        self, rows: Iterable[dict[str, Any]], if_exists: bool = True
    ) -> None:
        """Delete by row identity (parity ``delete``/``delete_if_exists``,
        mooncake_table.rs:1241-1288). For key identities ``rows`` only needs
        the key columns; for full_row identity it needs every column and each
        occurrence deletes exactly one matching row."""
        ident = self.identity
        if ident.is_append_only:
            raise IdentityError("append-only table rejects deletes")
        rows = list(rows)
        if not rows:
            return
        with self._lock:
            # coalesce ADJACENT deletes (same flag) like append_rows does
            # for appends: each delete_rows op is one distributed DV job
            # at commit, and a per-event caller (the CDC sink's ordered
            # replay) would otherwise pay one Spark job PER ROW — with
            # each job re-reading the live view including every DV the
            # previous jobs wrote, i.e. quadratic (review r11). Merging
            # adjacent deletes is exact for every identity: key deletes
            # commute within a batch, and full_row deletes preserve
            # per-occurrence multiplicity inside one list.
            if (
                self._pending
                and len(self._pending) > self._coalesce_floor
                and self._pending[-1][0] == "delete_rows"
                and self._pending[-1][2] == bool(if_exists)
            ):
                self._pending[-1][1].extend(rows)
            else:
                self._pending.append(("delete_rows", rows, bool(if_exists)))

    def delete_where(self, condition: str) -> None:
        """Predicate delete (engine extension; the reference only deletes by
        identity). Rejected for append-only tables."""
        if self.identity.is_append_only:
            raise IdentityError("append-only table rejects deletes")
        with self._lock:
            self._pending.append(("delete_where", condition))

    def upsert_rows(self, rows: Iterable[dict[str, Any]]) -> None:
        """Upsert = delete_if_exists(key) + append (parity REST upsert
        decomposition, rest_ingest/moonlink_rest_sink.rs:222-253)."""
        ident = self.identity
        if ident.mode not in ("single", "keys"):
            raise IdentityError(f"upsert requires a key identity, not {ident.mode}")
        rows = list(rows)
        if not rows:
            return
        with self._lock:
            # DISTINCT list objects: append_rows coalesces later appends
            # into the last op's list in place, so sharing one list here
            # would silently grow the staged delete with every
            # subsequently appended row's key — a plain insert after an
            # upsert (the REST event-loop shape) would then delete the
            # pre-existing row it was only meant to append next to.
            self._pending.append(("delete_rows", list(rows), True))
            self._pending.append(("append_rows", rows))

    def delete_keys_df(self, keys_df: DataFrame) -> None:
        """Bulk delete by a DataFrame of identity keys."""
        ident = self.identity
        if ident.is_append_only:
            raise IdentityError("append-only table rejects deletes")
        with self._lock:
            self._pending.append(("delete_df", keys_df.select(*ident.columns)))

    def delete_rows_df(self, df: DataFrame) -> None:
        """Bulk delete by a DataFrame of full rows, fully distributed (no
        driver collect). For key identities this is ``delete_keys_df``; for
        full_row identity each occurrence in ``df`` deletes exactly one
        matching live row (multiplicity preserved via a count column —
        same semantics as ``delete_rows``)."""
        ident = self.identity
        if ident.is_append_only:
            raise IdentityError("append-only table rejects deletes")
        if ident.mode in ("single", "keys"):
            self.delete_keys_df(df)
            return
        with self._lock:
            self._pending.append(("delete_full_df", df))

    def upsert_df(self, df: DataFrame) -> None:
        """Bulk MERGE: delete matching keys, then append ``df``."""
        ident = self.identity
        if ident.mode not in ("single", "keys"):
            raise IdentityError(f"upsert requires a key identity, not {ident.mode}")
        with self._lock:
            self._pending.append(("delete_df", df.select(*ident.columns)))
            self._pending.append(("append_df", df))

    def update_rows(
        self, old_rows: Iterable[dict[str, Any]], new_rows: Iterable[dict[str, Any]]
    ) -> None:
        """CDC update = delete(old) + append(new) at one LSN (parity
        pg_replicate/moonlink_sink.rs:295-326)."""
        self.delete_rows(old_rows, if_exists=False)
        self.append_rows(new_rows)

    def load_files(self, paths: list[str], copy: bool = False) -> None:
        """Bulk-register existing Parquet files without row-level processing
        (parity TableEvent::LoadFiles, batch_ingestion.rs). Counts come from
        footers only. Each file's footer schema is validated against the
        table schema up front — a wrong-typed or column-missing file would
        otherwise commit fine and then fail (or silently null) every later
        scan, including identity-based delete targeting."""
        entries = []
        for p in paths:
            p = os.path.abspath(p)
            self._check_load_schema(p)
            # footer stats ride along (the footer is already being read
            # for the row count — one shared metadata read), so
            # bulk-loaded files participate in min/max file pruning like
            # every internally written file
            rows, stats = file_rows_and_stats(p)
            if copy:
                name = f"{DATA_DIR}/load-{uuid.uuid4().hex}.parquet"
                self.data_fs.copyfile(p, os.path.join(self.data_path, name))
                entries.append(
                    FileEntry(name, rows, os.path.getsize(p), stats)
                )
            else:
                entries.append(FileEntry(p, rows, os.path.getsize(p), stats))
        with self._lock:
            self._pending.append(("append_files", entries))

    def _check_load_schema(self, path: str) -> None:
        """Fail fast when a bulk-load file cannot serve the table schema:
        every table column must exist in the file with the same Arrow
        type (extra file columns are fine — scans prune them)."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        file_schema = pq.ParquetFile(path).schema_arrow
        want = to_arrow_schema(self.schema)
        problems = []
        for f in want:
            idx = file_schema.get_field_index(f.name)
            if idx < 0:
                problems.append(f"missing column {f.name!r}")
                continue
            got = file_schema.field(idx).type
            if got != f.type:
                problems.append(
                    f"column {f.name!r} is {got}, table wants {f.type}"
                )
        if problems:
            raise TableConfigError(
                f"load_files: {path} does not match the table schema: "
                + "; ".join(problems)
            )

    def has_pending(self) -> bool:
        return bool(self._pending)

    def pending_mark(self) -> int:
        """Checkpoint of the pending-op queue; pair with
        :meth:`discard_pending_since` to atomically revert everything a
        code block staged (a failed commit RESTORES raw ops to the
        queue, so a caller that will re-stage on retry must drop its own
        restored ops or the retry double-applies).

        Taking a mark also raises the COALESCE FLOOR: append/delete
        batching never merges rows into ops staged before the mark, so
        everything after the mark stays individually discardable."""
        with self._lock:
            self._coalesce_floor = max(
                self._coalesce_floor, len(self._pending)
            )
            return len(self._pending)

    def discard_pending_since(self, mark: int) -> int:
        """Drop every pending op staged after ``mark``; returns how many
        were dropped."""
        with self._lock:
            dropped = len(self._pending) - mark
            if dropped > 0:
                del self._pending[mark:]
            self._coalesce_floor = min(
                self._coalesce_floor, len(self._pending)
            )
            return max(0, dropped)

    # ------------------------------------------------------------------ #
    # commit
    # ------------------------------------------------------------------ #

    def commit(
        self,
        lsn: int | None = None,
        operation: str = "ingest",
        properties_update: dict[str, Any] | None = None,
    ) -> int:
        """Materialize pending ops as one atomic versioned commit (parity
        ``commit``, mooncake_table.rs:1290-1315 + the flush/snapshot/sync
        pipeline collapsed into one ACID step).

        Ops apply in order: a delete sees rows appended earlier in the same
        commit (parity the streaming-xact 4-way delete routing,
        transaction_stream.rs)."""
        # snapshot-creation telemetry (observability/snapshot_creation.rs:
        # 14-25): one histogram sample per commit, keyed by table id
        with METRICS.guard("snapshot_creation_latency", self.path), self._lock:
            base = self.manifest
            if lsn is None:
                lsn = base.lsn + 1
            if lsn <= base.lsn:
                raise LsnError(f"commit lsn {lsn} <= last lsn {base.lsn}")
            ops, self._pending = self._pending, []
            self._coalesce_floor = 0
            try:
                new_files, new_dvs = self._apply_ops(base, ops)
                props = {**base.properties, **(properties_update or {})}
                if new_files:
                    props = self._index_new_files(base, props, new_files)
                m = Manifest(
                    version=base.version + 1,
                    lsn=lsn,
                    schema_fields=base.schema_fields,
                    identity=base.identity,
                    data_files=base.data_files + new_files,
                    delete_files=base.delete_files + new_dvs,
                    parent=base.version,
                    operation=operation,
                    properties=props,
                )
                self.store.commit(m)
            except BaseException:
                # restore the raw ops so a retry recomputes delete targeting
                # against the NEW base (files already written become orphans,
                # reclaimed by vacuum). BaseException, not Exception: a
                # Ctrl-C during the Spark job inside _apply_ops must not
                # silently drop the buffered ingest either
                self._pending = ops
                # restored ops stay individually discardable: callers'
                # marks reference these indexes, so nothing may coalesce
                # into them on the retry path
                self._coalesce_floor = len(ops)
                raise
            return m.version

    def _index_new_files(
        self, base: Manifest, props: dict[str, Any], new_files: list[FileEntry]
    ) -> dict[str, Any]:
        """Index build on flush (parity GlobalIndexBuilder::build_from_flush,
        persisted_bucket_hash_map.rs:486-523): when the table has a key
        index, every commit indexes exactly its newly flushed files — one
        distributed job over O(new data)."""
        from moonlink_spark.table import keyindex

        cfg = props.get(keyindex.KEY_INDEX_PROP)
        if not isinstance(cfg, dict):
            return props
        ident = IdentityProp.from_json(base.identity)
        if ident.mode not in ("single", "keys"):
            return props
        new_entries = keyindex.build_entries(self, new_files, list(ident.columns))
        cfg = dict(cfg)
        cfg["entries"] = list(cfg.get("entries", [])) + new_entries
        return {**props, keyindex.KEY_INDEX_PROP: cfg}

    def _apply_ops(
        self, base: Manifest, ops: list[tuple]
    ) -> tuple[list[FileEntry], list[FileEntry]]:
        new_files: list[FileEntry] = []
        new_dvs: list[FileEntry] = []
        row_buf: list[dict[str, Any]] = []

        def flush_rows() -> None:
            if row_buf:
                new_files.extend(self._write_rows_file(row_buf))
                row_buf.clear()

        for op in ops:
            kind = op[0]
            if kind == "append_rows":
                row_buf.extend(op[1])
            elif kind == "append_arrow":
                flush_rows()
                new_files.extend(self._write_arrow_file(op[1]))
            elif kind == "append_df":
                flush_rows()
                new_files.extend(self._write_df_files(op[1]))
            elif kind == "append_files":
                flush_rows()
                new_files.extend(op[1])
            elif kind == "delete_rows":
                flush_rows()
                dv = self._delete_dv_for_rows(
                    base, new_files, new_dvs, op[1], if_exists=op[2]
                )
                new_dvs.extend(dv)
            elif kind == "delete_df":
                flush_rows()
                new_dvs.extend(
                    self._delete_dv_for_keys_df(base, new_files, new_dvs, op[1])
                )
            elif kind == "delete_full_df":
                flush_rows()
                schema = field_schema_to_struct(base.schema_fields)
                data_cols = schema.fieldNames()
                del_df = (
                    op[1]
                    .select(*data_cols)
                    .groupBy(*data_cols)
                    .agg(F.count(F.lit(1)).alias("__n"))
                )
                live, fp = self._live_view(base, new_files, new_dvs)
                new_dvs.extend(self._match_fullrow_dv(live, fp, data_cols, del_df))
            elif kind == "delete_where":
                flush_rows()
                live, fp = self._live_view(base, new_files, new_dvs)
                matched = live.filter(op[1])
                new_dvs.extend(self._write_dv(matched.withColumn("__fp", fp)))
            else:  # pragma: no cover
                raise TableConfigError(f"unknown pending op {kind}")
        flush_rows()
        return new_files, new_dvs

    # ------------------------------------------------------------------ #
    # delete targeting
    # ------------------------------------------------------------------ #

    def _delete_dv_for_rows(
        self,
        base: Manifest,
        new_files: list[FileEntry],
        new_dvs: list[FileEntry],
        rows: list[dict[str, Any]],
        if_exists: bool,
    ) -> list[FileEntry]:
        ident = IdentityProp.from_json(base.identity)
        schema = field_schema_to_struct(base.schema_fields)

        if ident.mode in ("single", "keys"):
            from moonlink_spark.table import keyindex

            key_cols = list(ident.columns)
            keys = list(
                dict.fromkeys(tuple(r.get(c) for c in key_cols) for r in rows)
            )
            key_schema = keyindex.key_schema(base, key_cols)
            _verify_types(key_schema, keys)
            keys_df = local_frame(self.spark, keys, key_schema)
            # one live view: the index's file subset, else a stats prune
            subset = self._index_file_subset(base, new_files, keys_df, key_cols)
            prune = key_batch_predicate(key_cols, rows) if subset is None else None
            live, fp = self._live_view(base, new_files, new_dvs, prune, subset)
            if not if_exists:
                # strict delete must match every key (reference errors on
                # missing rows for non-if-exists deletes)
                missing = keys_df.join(
                    live.select(*key_cols), key_cols, "left_anti"
                ).count()
                if missing:
                    raise IdentityError(f"{missing} delete keys matched no row")
            matched = live.join(F.broadcast(keys_df), key_cols, "left_semi")
            return self._write_dv(matched.withColumn("__fp", fp))

        # full_row: each delete occurrence kills exactly ONE matching live
        # row, first by (file, position) — parity mem_index.rs FullRow
        # multimap find_record semantics.
        live, fp = self._live_view(base, new_files, new_dvs)
        data_cols = schema.fieldNames()
        del_rows = [tuple(r.get(c) for c in data_cols) for r in rows]
        _verify_types(schema, del_rows)
        del_df = (
            local_frame(self.spark, del_rows, schema)
            .groupBy(*data_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        return self._match_fullrow_dv(
            live,
            fp,
            data_cols,
            del_df,
            require_all=0 if if_exists else len(rows),
        )

    def _match_fullrow_dv(
        self,
        live: DataFrame,
        fp: Column,
        data_cols: list[str],
        del_df: DataFrame,
        require_all: int = 0,
    ) -> list[FileEntry]:
        """Positional DV for full_row deletes over a :meth:`_live_view`
        ``(live, fp)``: ``del_df`` carries the data columns plus ``__n``
        (occurrences to kill per distinct row); a window by (manifest
        path, position) picks the first __n matches.
        ``require_all`` > 0 enforces the strict-delete contract: fewer
        matches than requested occurrences raises IdentityError (the
        reference errors on missing rows for non-if-exists deletes), same
        as the key-identity branch."""
        cond = None
        for c in data_cols:
            e = live[c].eqNullSafe(del_df[c])
            cond = e if cond is None else (cond & e)
        w = Window.partitionBy(*data_cols).orderBy("__fp", "__ri")
        matched = (
            live.join(F.broadcast(del_df), cond, "inner")
            .select(*[live[c] for c in data_cols], "__uri", "__ri", "__n")
            .withColumn("__fp", fp)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= F.col("__n"))
            .select("__fp", "__ri")
        )
        if require_all:
            n = matched.count()
            if n < require_all:
                raise IdentityError(
                    f"{require_all - n} delete rows matched no live row"
                )
        return self._write_dv(matched)

    def _index_file_subset(
        self,
        base: Manifest,
        new_files: list[FileEntry],
        keys_df: DataFrame,
        key_cols: list[str],
    ) -> set[str] | None:
        """Index lookup for delete targeting (parity
        GlobalIndex::search_values -> delete position,
        persisted_bucket_hash_map.rs:276-302): -> the exact set of file
        paths worth scanning for these keys, or None when the table has no
        key index (caller falls back to min/max stats pruning)."""
        from moonlink_spark.table import keyindex

        if not keyindex.enabled(base):
            return None
        cand = keyindex.candidate_files(
            self, base, keys_df, key_cols, extra_files=new_files
        )
        if cand is None:  # pragma: no cover
            return None
        matching, uncovered = cand
        return set(matching) | {f.path for f in uncovered}

    def _delete_dv_for_keys_df(
        self,
        base: Manifest,
        new_files: list[FileEntry],
        new_dvs: list[FileEntry],
        keys_df: DataFrame,
    ) -> list[FileEntry]:
        from moonlink_spark.table import keyindex

        ident = IdentityProp.from_json(base.identity)
        key_cols = list(ident.columns)
        if keyindex.enabled(base):
            # the index probe collects the key batch anyway: collect it
            # ONCE and semi-join the local copy too
            keys_df = keyindex.local_keys(self.spark, base, keys_df, key_cols)
        else:
            keys_df = keys_df.dropDuplicates()
        subset = self._index_file_subset(base, new_files, keys_df, key_cols)
        live, fp = self._live_view(base, new_files, new_dvs, files_subset=subset)
        matched = live.join(keys_df, key_cols, "left_semi")
        return self._write_dv(matched.withColumn("__fp", fp))

    # ------------------------------------------------------------------ #
    # scan
    # ------------------------------------------------------------------ #

    def scan(
        self,
        lsn: int | None = None,
        version: int | None = None,
        prune: PrunePredicate | None = None,
    ) -> DataFrame:
        """Read the table as a DataFrame. ``lsn`` gives exact read-at-LSN
        (largest commit <= lsn); ``version`` gives time travel by version
        (parity scan_table + versionAsOf, SURVEY.md §3.2). ``prune`` skips
        files whose footer min/max cannot match (stats.py) — the point-lookup
        fast path replacing the reference's hash index."""
        m = self._resolve_manifest(lsn, version)
        return self._read_manifest(m, prune)[0]

    def scan_keys(self, keys_df: DataFrame, lsn: int | None = None) -> DataFrame:
        """Batch point lookup by identity key (parity: read-path index
        lookup, GlobalIndex::search_values persisted_bucket_hash_map.rs:
        276-302 returning row positions).

        The key batch is collected once into a local relation. With a key
        index and fewer than ``keyindex.DISTRIBUTED_THRESHOLD`` distinct
        keys, the rows are read by position on the driver
        (``keyindex.resolve_positions``) into a local relation, so the
        key-batch collect is the only Spark job; files the index does
        not cover are added by the Spark semi-join. Otherwise the whole
        lookup is that semi-join (:meth:`_scan_keys_spark`)."""
        m = self._resolve_manifest(lsn)
        ident = IdentityProp.from_json(m.identity)
        if ident.mode not in ("single", "keys"):
            raise IdentityError(
                f"scan_keys requires a key identity, got {ident.mode}"
            )
        key_cols = list(ident.columns)
        from moonlink_spark.table import keyindex

        keys_df = keyindex.local_keys(self.spark, m, keys_df, key_cols)
        resolved = keyindex.resolve_positions(self, m, keys_df, key_cols)
        if resolved is None:
            return self._scan_keys_spark(m, keys_df, key_cols)
        rows, uncovered = resolved
        df = self.spark.createDataFrame(
            rows.drop_columns(["__fp", "__ri"]),
            field_schema_to_struct(m.schema_fields),
        )
        if uncovered:
            m = dataclasses.replace(m, data_files=uncovered)
            df = df.unionByName(self._scan_keys_spark(m, keys_df, key_cols))
        return df

    def _scan_keys_spark(
        self, m: Manifest, keys_df: DataFrame, key_cols: list[str]
    ) -> DataFrame:
        """Spark leg of :meth:`scan_keys`: semi-join the live view of
        ``m`` (only the index's candidate files, with an index) against
        the local key relation."""
        from moonlink_spark.table import keyindex

        data_files = m.data_files
        if keyindex.enabled(m):
            matching, uncovered = keyindex.candidate_files(self, m, keys_df, key_cols)
            keep = set(matching) | {f.path for f in uncovered}
            data_files = [f for f in data_files if f.path in keep]
        df, _ = self._read_manifest(dataclasses.replace(m, data_files=data_files))
        return df.join(F.broadcast(keys_df), key_cols, "left_semi")

    def scan_blocking(self, lsn: int, timeout_s: float = 30.0) -> DataFrame:
        """Block until a commit with lsn >= requested exists, then read at
        that LSN (parity ReadStateManager::try_read blocking path,
        union_read/read_state_manager.rs:91-135)."""
        self.store.wait_for_lsn(lsn, timeout_s)
        return self.scan(lsn=lsn)

    def _resolve_manifest(
        self, lsn: int | None = None, version: int | None = None
    ) -> Manifest:
        if version is not None:
            return self.store.read(version)
        if lsn is not None:
            v = self.store.version_for_lsn(lsn)
            if v is None:
                raise LsnError(f"no commit at or before lsn {lsn}")
            return self.store.read(v)
        return self.manifest

    def _resolve(self, rel: str) -> str:
        return resolve(self.data_path, rel)

    def changes(self, from_lsn: int, to_lsn: int | None = None) -> DataFrame:
        """Change data feed: row-level insert/update/delete between two LSN
        snapshots with before/after images (table/cdf.py; the consumer API
        over the reference's read-state-at-LSN contract, SURVEY.md §3.2)."""
        from moonlink_spark.table.cdf import table_changes

        return table_changes(self, from_lsn, to_lsn)

    def scan_where(self, condition: str, lsn: int | None = None) -> DataFrame:
        """Scan with the filter applied AND manifest-stats file pruning
        derived automatically from the condition (best-effort extraction of
        col/op/literal conjuncts — the ergonomic form of ``scan(prune=...)``;
        unparseable conditions simply skip no files, never wrong results).

        When the table has a persisted key index and the condition pins
        every key column with ``=``/``IN`` literals, the scan routes through
        the index (``scan_keys``) and opens only the files containing those
        keys — the reference's index-backed point scan
        (persisted_bucket_hash_map.rs:276-302). Otherwise min/max stats
        pruning applies."""
        from moonlink_spark.table.stats import prune_predicate_from_condition

        pred = prune_predicate_from_condition(condition)
        keys_df = self._keys_df_from_predicate(pred, lsn)
        if keys_df is not None:
            return self.scan_keys(keys_df, lsn=lsn).filter(condition)
        return self.scan(lsn=lsn, prune=pred).filter(condition)

    def _keys_df_from_predicate(
        self, pred: PrunePredicate | None, lsn: int | None
    ) -> DataFrame | None:
        """If ``pred`` pins every identity column to literal value(s) and
        the table has a key index, -> a DataFrame of the key combinations
        (cartesian across IN-lists, capped at 1024); else None."""
        if pred is None:
            return None
        from moonlink_spark.table import keyindex

        m = self._resolve_manifest(lsn=lsn)
        if not keyindex.enabled(m):
            return None
        ident = IdentityProp.from_json(m.identity)
        if ident.mode not in ("single", "keys"):  # pragma: no cover
            return None
        key_cols = list(ident.columns)
        by_col: dict[str, list] = {}
        for col, op, val in pred.conditions:
            if col not in key_cols:
                continue
            vals = list(val) if op == "in" else [val] if op == "=" else None
            if vals is None:
                return None  # range condition on a key col: not a lookup
            if col in by_col:
                vals = [v for v in vals if v in set(by_col[col])]
            by_col[col] = vals
        if set(by_col) != set(key_cols):
            return None
        combos: list[tuple] = [()]
        for c in key_cols:
            combos = [(*row, v) for row in combos for v in by_col[c]]
            if len(combos) > 1024:
                return None  # too wide for a point lookup; stats-prune
        try:
            return local_frame(
                self.spark, combos, keyindex.key_schema(m, key_cols)
            )
        except Exception:
            return None  # literal/column type mismatch: fall back

    def _read_manifest(
        self,
        m: Manifest,
        prune: PrunePredicate | None = None,
        keep_pos: bool = False,
    ) -> tuple[DataFrame, dict[str, str]]:
        """-> (the live rows of the files of ``m`` that ``prune`` cannot
        rule out, the read's :func:`file_uris`). Spark reads the DVs of
        ``m``, maps their manifest paths to the read's URIs and
        anti-joins them on ``(_metadata.file_path, row_index)``, kept as
        ``__uri``/``__ri`` with ``keep_pos``."""
        schema = field_schema_to_struct(m.schema_fields)
        files = m.data_files
        if prune is not None:
            files = [f for f in files if prune.file_may_match(f.stats)]
        if not files:
            df = local_frame(self.spark, [], schema)
            if keep_pos:
                df = df.withColumn("__uri", F.lit(None).cast("string")).withColumn(
                    "__ri", F.lit(None).cast("long")
                )
            return df, {}
        paths = {self._resolve(f.path): f.path for f in files}
        df = self.spark.read.schema(schema).parquet(*paths)
        if not (m.delete_files or keep_pos):
            return df, {}
        uris = file_uris(df, paths)
        dv = None
        if m.delete_files:
            to_uri = {fp: uri for uri, fp in uris.items()}
            # non-null (no data row has the URI ""): a nullable key makes
            # the optimizer add an isnotnull filter that runs the lookup a
            # second time per DV row
            uri = F.coalesce(path_lookup(to_uri, F.col("file_path")), F.lit(""))
            # explicit schema: inferring it reads a DV footer in a job
            dv = (
                self.spark.read.schema(DV_SCHEMA)
                .parquet(*[self._resolve(f.path) for f in m.delete_files])
                .select(uri.alias("__uri"), F.col("row_index").alias("__ri"))
            )
        broadcast = m.deleted_rows <= DV_BROADCAST_MAX_ROWS
        return drop_positions(df, dv, broadcast, keep_pos), uris

    def _live_view(
        self,
        base: Manifest,
        new_files: list[FileEntry],
        new_dvs: list[FileEntry],
        prune: PrunePredicate | None = None,
        files_subset: set[str] | None = None,
    ) -> tuple[DataFrame, Column]:
        """Delete targeting's read of ``base`` plus this commit's files
        and DVs -> ``(live, fp)``: the live rows with ``__uri``/``__ri``,
        and the manifest path of a row as a column, to label the matched
        rows with before :meth:`_write_dv`."""
        data_files = base.data_files + new_files
        if files_subset is not None:
            data_files = [f for f in data_files if f.path in files_subset]
        m = Manifest(
            version=base.version,
            lsn=base.lsn,
            schema_fields=base.schema_fields,
            identity=base.identity,
            data_files=data_files,
            delete_files=base.delete_files + new_dvs,
        )
        live, uris = self._read_manifest(m, prune, keep_pos=True)
        return live, path_lookup(uris, F.col("__uri"))

    # ------------------------------------------------------------------ #
    # file writers
    # ------------------------------------------------------------------ #

    def _write_rows_file(self, rows: list[dict[str, Any]]) -> list[FileEntry]:
        """Flush the row buffer to ONE parquet file via pyarrow on the
        driver — no Spark job for small REST/CDC batches (parity
        DiskSliceWriter flushing the mem-slice)."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        # columnar projection, not row dicts: from_pylist rebuilt a dict
        # per row (plus a fieldNames() call per row) before pyarrow
        # transposed it anyway — ~3x the CPU of handing each column as
        # one list to the C conversion path. A row pyarrow cannot convert
        # raises here; there is no second, Spark-side writer.
        schema = self.schema
        _verify_types(schema, rows)
        tbl = pa.Table.from_pydict(
            {f: [r.get(f) for r in rows] for f in schema.fieldNames()},
            schema=to_arrow_schema(schema),
        )
        return self._write_arrow_file(tbl)

    def _write_arrow_file(self, tbl) -> list[FileEntry]:
        """Write one Arrow table as ONE parquet data file on the driver:
        the writer behind both the row buffer and ``append_arrow``."""
        import pyarrow.parquet as pq

        rel = f"{DATA_DIR}/buf-{uuid.uuid4().hex}.parquet"
        path = os.path.join(self.data_path, rel)
        pq.write_table(tbl, path, compression="snappy")
        return [
            FileEntry(
                rel,
                tbl.num_rows,
                self.data_fs.getsize(path),
                collect_file_stats(path),
            )
        ]

    def _write_df_files(
        self, df: DataFrame, cluster_files: int | None = None
    ) -> list[FileEntry]:
        """Bulk path: Spark writes parquet in parallel into a temp dir, then
        files are adopted into data/ (rename, same volume). Tables created
        with ``cluster_by`` range-repartition on those columns first, so
        each file covers a narrow value range and the manifest min/max
        stats prune hard (partition-layout benefit without hive dirs).

        ``cluster_files`` is optimize()'s output-file-count target; it is
        a PARAMETER (not shared table state) so a concurrent ingest
        commit can never pick up a compaction-sized hint."""
        schema = self.schema
        df = df.select(
            *[F.col(f.name).cast(f.dataType) for f in schema.fields]
        )
        cluster = self.cluster_by
        if cluster:
            n = cluster_files if cluster_files is not None else self._cluster_files_hint
            strategy = self.manifest.properties.get("cluster_strategy", "range")
            if strategy == "zorder" and len(cluster) >= 2:
                # Morton-key range clustering: every file gets a narrow
                # hyper-rectangle, stats prune on ALL cluster columns
                from moonlink_spark.table.zorder import ZCOL, with_zorder_key

                df = with_zorder_key(df, cluster)
                df = (
                    df.repartitionByRange(n, F.col(ZCOL))
                    if n
                    else df.repartitionByRange(F.col(ZCOL))
                ).sortWithinPartitions(ZCOL).drop(ZCOL)
            else:
                cols = [F.col(c) for c in cluster]
                df = (
                    df.repartitionByRange(n, *cols)
                    if n
                    else df.repartitionByRange(*cols)
                ).sortWithinPartitions(*cols)
            # sortWithinPartitions costs no extra shuffle and orders rows
            # INSIDE each file, so parquet row-group min/max become
            # selective too — pushed filters then skip row groups within
            # the files that manifest-level pruning cannot drop entirely
        return self._adopt_tmp_files(df, f"{DATA_DIR}/part", with_stats=True)

    def _write_dv(self, matched: DataFrame) -> list[FileEntry]:
        """Persist position deletes (file_path, row_index) as parquet."""
        matched = matched.select(
            F.col("__fp").alias("file_path"), F.col("__ri").alias("row_index")
        )
        # no footer stats for DVs: pruning works on data-column min/max,
        # which a (file_path, row_index) sidecar doesn't carry
        return self._adopt_tmp_files(matched, f"{DELETE_DIR}/dv", with_stats=False)

    def _adopt_tmp_files(
        self, df: DataFrame, rel_prefix: str, with_stats: bool
    ) -> list[FileEntry]:
        """Spark-write ``df`` into a temp dir, then adopt each non-empty
        parquet part into the data plane under ``rel_prefix`` (rename,
        same volume) — the single writer-side adoption loop shared by
        data files and DV sidecars."""
        tmp = os.path.join(self.data_path, f"_tmp-{uuid.uuid4().hex}")
        try:
            df.write.mode("overwrite").parquet(tmp)
            entries = []
            for name in sorted(self.data_fs.listdir(tmp)):
                if not name.endswith(".parquet"):
                    continue
                rel = f"{rel_prefix}-{uuid.uuid4().hex}.parquet"
                dst = os.path.join(self.data_path, rel)
                self.data_fs.rename(os.path.join(tmp, name), dst)
                # one footer read per adopted file: row count and min/max
                # stats come from the same metadata object (r13; the old
                # code opened the footer twice per file — a per-file
                # driver tax on every multi-file commit)
                if with_stats:
                    rows, stats = file_rows_and_stats(dst)
                else:
                    rows, stats = _parquet_num_rows(dst), None
                if rows == 0:
                    self.data_fs.unlink(dst)
                    continue
                entries.append(
                    FileEntry(rel, rows, self.data_fs.getsize(dst), stats)
                )
            return entries
        finally:
            # a failed write/adoption must not strand the temp dir (files
            # already adopted become orphans vacuum reclaims; the tmp dir
            # itself is outside vacuum's sweep so it is cleaned HERE)
            try:
                self.data_fs.rmtree(tmp)
            except OSError:
                pass

    # ------------------------------------------------------------------ #
    # streaming transactions (parity transaction_stream.rs)
    # ------------------------------------------------------------------ #

    def begin_transaction(self, xact_id: int) -> "TransactionStream":
        with self._lock:
            if xact_id in self._xacts:
                raise TransactionError(f"xact {xact_id} already open")
            x = TransactionStream(self, xact_id)
            self._xacts[xact_id] = x
            return x

    # ------------------------------------------------------------------ #
    # schema evolution (parity AlterTableRequest, mooncake_table.rs:100-127)
    # ------------------------------------------------------------------ #

    def alter(
        self,
        add_columns: list[dict[str, Any]] | None = None,
        drop_columns: list[str] | None = None,
        lsn: int | None = None,
    ) -> int:
        with self._lock:
            if self._pending:
                raise TableConfigError("commit or discard pending ops before alter")
            base = self.manifest
            fields = [dict(f) for f in base.schema_fields]
            names = {f["name"] for f in fields}
            for col in add_columns or []:
                if col["name"] in names:
                    raise TableConfigError(f"column {col['name']} exists")
                fields.append(dict(col))
            drops = set(drop_columns or [])
            unknown = drops - {f["name"] for f in fields}
            if unknown:
                raise TableConfigError(f"cannot drop unknown columns {unknown}")
            ident = IdentityProp.from_json(base.identity)
            if drops & set(ident.columns):
                raise TableConfigError("cannot drop identity columns")
            if drops & set(base.properties.get("cluster_by") or []):
                raise TableConfigError("cannot drop cluster_by columns")
            fields = [f for f in fields if f["name"] not in drops]
            field_schema_to_struct(fields)  # validates
            if lsn is None:
                lsn = base.lsn + 1
            m = Manifest(
                version=base.version + 1,
                lsn=lsn,
                schema_fields=fields,
                identity=base.identity,
                data_files=base.data_files,
                delete_files=base.delete_files,
                parent=base.version,
                operation="alter",
                properties=base.properties,
            )
            # maintenance commit: a schema change adds no data, so callers
            # may legally stamp it with the CURRENT source LSN
            self.store.commit(m, allow_equal_lsn=True)
            return m.version


class TransactionStream:
    """A multi-batch streaming transaction: ops staged invisibly, then
    committed atomically at an LSN or aborted (parity
    transaction_stream.rs:17-47,137-143; abort parity table_handler.rs:907)."""

    def __init__(self, table: MoonlinkTable, xact_id: int):
        self.table = table
        self.xact_id = xact_id
        self._ops: list[tuple] = []
        self._closed = False

    def _check(self) -> None:
        if self._closed:
            raise TransactionError(f"xact {self.xact_id} already closed")

    def append_rows(self, rows: Iterable[dict[str, Any]]) -> None:
        self._check()
        rows = list(rows)
        if not rows:
            return
        # adjacent ops coalesce exactly like the table's pending queue
        # (one staged op = one distributed job at commit); streams have
        # no pending_mark, so no floor is needed
        if self._ops and self._ops[-1][0] == "append_rows":
            self._ops[-1][1].extend(rows)
        else:
            self._ops.append(("append_rows", rows))

    def append_df(self, df: DataFrame) -> None:
        self._check()
        self._ops.append(("append_df", df))

    def delete_rows(self, rows: Iterable[dict[str, Any]]) -> None:
        self._check()
        if self.table.identity.is_append_only:
            raise IdentityError("append-only table rejects deletes")
        rows = list(rows)
        if not rows:
            return
        if self._ops and self._ops[-1][0] == "delete_rows":
            self._ops[-1][1].extend(rows)
        else:
            self._ops.append(("delete_rows", rows, True))

    def flush(self) -> None:
        """Materialize this stream's buffered row appends into staged data
        files NOW (parity TableEvent::StreamFlush / flush_stream,
        transaction_stream.rs): the files exist on disk but stay invisible
        — no manifest references them until ``commit``. On ``abort`` they
        become orphans reclaimed by vacuum (the reference deletes its disk
        slices on abort; same end state, lazier)."""
        self._check()
        # under the table lock: between _write_rows_file landing a file
        # and _ops recording the ("append_files", ...) entry, the file is
        # referenced by NOTHING vacuum can see (_staged_file_paths only
        # reads append_files ops) — a concurrent vacuum would GC it. The
        # non-xact mem-slice overflow path holds the lock for the same
        # reason, and the buffer is mem-slice-bounded so the hold is short.
        with self.table._lock:
            out: list[tuple] = []
            for op in self._ops:
                if op[0] == "append_rows":
                    out.append(
                        ("append_files", self.table._write_rows_file(op[1]))
                    )
                else:
                    out.append(op)
            self._ops = out

    def commit(self, lsn: int | None = None) -> int:
        """Merge staged ops into the main table at one LSN.

        The stream is closed only AFTER the table commit succeeds: on a
        transient failure (e.g. LSN conflict with a concurrent writer) the
        staged ops stay intact and the stream stays open so the caller can
        retry ``commit`` at a new LSN or ``abort`` — matching the non-xact
        path, which restores pending ops for retry."""
        self._check()
        with self.table._lock:
            # splice staged ops ahead of any non-xact pending ops so the
            # xact commits as one unit at this LSN
            outer_pending = self.table._pending
            self.table._pending = list(self._ops)
            try:
                version = self.table.commit(lsn=lsn, operation=f"xact-{self.xact_id}")
            finally:
                self.table._pending = outer_pending
            self._closed = True
            self._ops.clear()
            self.table._xacts.pop(self.xact_id, None)
            return version

    def abort(self) -> None:
        """Discard staged ops (parity TableEvent::StreamAbort)."""
        self._check()
        self._closed = True
        self._ops.clear()
        with self.table._lock:
            self.table._xacts.pop(self.xact_id, None)
