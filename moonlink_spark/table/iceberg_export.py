"""Iceberg v2 metadata export: publish a table snapshot (and incremental
follow-ups) in the open Apache Iceberg format, with no Iceberg jars.

The reference's flagship persistence IS Iceberg — every commit becomes real
Iceberg metadata readable in place by any engine
(``storage/table/iceberg/iceberg_table_syncer.rs:723``; SURVEY.md §2a #17).
Iceberg manifests are Avro object-container files, which normally implies a
writer library; none ships in this environment, but the Avro binary
encoding (zigzag varints + length-prefixed bytes, public Avro 1.x spec) and
the Iceberg table spec (iceberg.apache.org/spec) are both simple enough to
emit directly. This module writes the two Avro container files a v2
snapshot needs (manifest, manifest list; their datums are coded by the
engine's one Avro codec, ``sources/avro_binary``) plus
``vN.metadata.json`` and ``version-hint.text``, so an Iceberg-capable
engine (Spark+iceberg-runtime, Trino, pyiceberg, DuckDB iceberg
extension) can read the exported table.

Mapping moonlink commits -> Iceberg snapshots:

- each ``export_iceberg`` call snapshots the table at an LSN into ONE new
  Iceberg snapshot + metadata version (sequence number == export ordinal);
- data files reuse the Delta exporter's content-addressed materialization:
  clean files hard-copy under a content-stable name (unchanged files cost
  nothing on re-export). Deletes are NOT rewritten away: they ship as
  Iceberg v3 Puffin deletion-vector blobs referenced from a content=1
  deletes manifest (deleted rows never rewrite data files — the
  reference's core DV design), and a table that has ever written DVs is
  format-version 3 thereafter;
- every snapshot writes a fresh manifest listing the full live file set
  with status=ADDED under summary operation "overwrite" (the full-rewrite
  commit shape; correct for readers, and re-listing is O(files), metadata
  only).

Verification without an Iceberg engine: Spark ships the core Avro runtime
jar (avro-1.x), so tests read the emitted manifests back through
``org.apache.avro.file.DataFileReader`` via py4j — an independent decoder
confirming container framing, schema JSON, and record values — and then
scan the referenced parquet with Spark and hash-compare against
``table.scan()``.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from typing import Any

import pyarrow.parquet as pq

from moonlink_spark.sources.avro_binary import (
    _zigzag_decode,
    _zigzag_encode,
    decode_datum,
    encode_datum,
)
from moonlink_spark.table import keyindex
from moonlink_spark.table.delta_export import _export_name, clone_file
from moonlink_spark.table.puffin import (
    DELETION_VECTOR_V1,
    MOONCAKE_HASH_INDEX_V1,
    dv_blob_bytes,
    read_puffin,
    read_puffin_deletion_vectors,
    write_puffin,
)
from moonlink_spark.table.manifest import FileEntry, Manifest
from moonlink_spark.observability import METRICS
from moonlink_spark.table.table import MoonlinkTable, dv_positions

# --------------------------------------------------------------------------- #
# Avro object containers (datums coded by sources/avro_binary)
# --------------------------------------------------------------------------- #

# An Avro container's file metadata: a map of string -> bytes.
_AVRO_META = {"type": "map", "values": "bytes"}


def write_avro_container(
    path: str,
    schema: dict[str, Any],
    records: list[dict[str, Any]],
    metadata: dict[str, str] | None = None,
) -> None:
    """Write an Avro object-container file (null codec): magic, file
    metadata map (avro.schema + extras), 16-byte sync, one data block."""
    schema_json = json.dumps(schema, separators=(",", ":"))
    meta = {"avro.schema": schema_json, "avro.codec": "null"}
    meta.update(metadata or {})
    sync = hashlib.md5(path.encode() + schema_json.encode()).digest()
    body = b"".join(encode_datum(schema, r) for r in records)
    buf = bytearray()
    buf += b"Obj\x01"
    buf += encode_datum(_AVRO_META, {k: v.encode("utf-8") for k, v in meta.items()})
    buf += sync
    if records:
        buf += _zigzag_encode(len(records)) + _zigzag_encode(len(body)) + body + sync
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(bytes(buf))
    os.replace(tmp, path)


# --------------------------------------------------------------------------- #
# Iceberg schemas (field-ids per the public table spec)
# --------------------------------------------------------------------------- #

def _int_map(name: str, key_id: int, value_id: int, value_type: str) -> dict:
    """Iceberg's int-keyed maps in Avro: array of key/value records with
    ``logicalType: map`` (Avro maps proper allow only string keys)."""
    return {
        "type": "array",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": value_type, "field-id": value_id},
            ],
        },
        "logicalType": "map",
    }


_DATA_FILE_SCHEMA = {
    "type": "record",
    "name": "r2",
    "fields": [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {
            "name": "partition",
            "type": {"type": "record", "name": "r102", "fields": []},
            "field-id": 102,
        },
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        {
            "name": "value_counts",
            "type": ["null", _int_map("k119_v120", 119, 120, "long")],
            "field-id": 109,
            "default": None,
        },
        {
            "name": "null_value_counts",
            "type": ["null", _int_map("k121_v122", 121, 122, "long")],
            "field-id": 110,
            "default": None,
        },
        {
            "name": "lower_bounds",
            "type": ["null", _int_map("k126_v127", 126, 127, "bytes")],
            "field-id": 125,
            "default": None,
        },
        {
            "name": "upper_bounds",
            "type": ["null", _int_map("k129_v130", 129, 130, "bytes")],
            "field-id": 128,
            "default": None,
        },
        # Iceberg v3 deletion-vector fields (spec field-ids 143-145): set
        # only on content=2 (position deletes) entries pointing at Puffin
        # deletion-vector-v1 blobs
        {
            "name": "referenced_data_file",
            "type": ["null", "string"],
            "field-id": 143,
            "default": None,
        },
        {
            "name": "content_offset",
            "type": ["null", "long"],
            "field-id": 144,
            "default": None,
        },
        {
            "name": "content_size_in_bytes",
            "type": ["null", "long"],
            "field-id": 145,
            "default": None,
        },
    ],
}

# ---- per-file column stats (value/null counts + bounds) ------------------ #
#
# Bounds use the Iceberg single-value binary serialization (little-endian
# fixed-width numerics). Emitted only for numeric/date/timestamp/boolean
# columns: parquet footers may TRUNCATE string min/max, which would break
# the upper-bound contract, and bounds are optional per column in the spec.

_EPOCH_DT = __import__("datetime").datetime(1970, 1, 1)
_EPOCH_DATE = __import__("datetime").date(1970, 1, 1)


def _single_value_bytes(iceberg_type: str, v: Any) -> bytes | None:
    import datetime
    import struct as _s

    try:
        if iceberg_type == "int":
            return _s.pack("<i", int(v))
        if iceberg_type == "long":
            return _s.pack("<q", int(v))
        if iceberg_type == "float":
            return _s.pack("<f", float(v))
        if iceberg_type == "double":
            return _s.pack("<d", float(v))
        if iceberg_type == "boolean":
            return b"\x01" if v else b"\x00"
        if iceberg_type == "date":
            if isinstance(v, datetime.date):
                return _s.pack("<i", (v - _EPOCH_DATE).days)
            return _s.pack("<i", int(v))
        if iceberg_type in ("timestamp", "timestamptz"):
            if isinstance(v, datetime.datetime):
                if v.tzinfo is not None:
                    # normalize to UTC first: dropping a non-UTC tzinfo
                    # directly would take the zone's WALL-CLOCK time and
                    # shift the bound by the offset — readers would
                    # prune files that actually contain matching rows
                    v = v.astimezone(datetime.timezone.utc)
                delta = v.replace(tzinfo=None) - _EPOCH_DT
                return _s.pack("<q", delta // datetime.timedelta(microseconds=1))
            return _s.pack("<q", int(v))
    except (ValueError, TypeError, OverflowError):
        return None
    return None


_BOUNDABLE = {"int", "long", "float", "double", "boolean", "date",
              "timestamp", "timestamptz"}


def _file_column_stats(
    md: Any, schema_obj: dict[str, Any], n_rows: int
) -> dict[str, Any]:
    """Parquet-footer stats -> Iceberg data_file stats fields (int-keyed
    maps as {key, value} record lists, sorted by field id). Takes the
    already-parsed ``pq.FileMetaData`` so the export parses each data
    file's footer exactly once."""
    field_map = {
        f["name"]: (f["id"], f["type"])
        for f in schema_obj["fields"]
        if isinstance(f["type"], str)  # top-level primitives only
    }
    nulls: dict[str, int] = {}
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if name not in field_map or name in bad:
                continue
            st = col.statistics
            if st is None or st.null_count is None or not st.has_min_max:
                bad.add(name)
                for d in (nulls, mins, maxs):
                    d.pop(name, None)
                continue
            nulls[name] = nulls.get(name, 0) + st.null_count
            mins[name] = st.min if name not in mins else min(mins[name], st.min)
            maxs[name] = st.max if name not in maxs else max(maxs[name], st.max)
    value_counts = [
        {"key": fid, "value": n_rows} for fid, _ in sorted(field_map.values())
    ]
    null_counts = [
        {"key": field_map[n][0], "value": c}
        for n, c in sorted(nulls.items(), key=lambda kv: field_map[kv[0]][0])
    ]
    lower, upper = [], []
    for name in sorted(mins, key=lambda n: field_map[n][0]):
        fid, typ = field_map[name]
        if typ not in _BOUNDABLE:
            continue
        lo = _single_value_bytes(typ, mins[name])
        hi = _single_value_bytes(typ, maxs[name])
        if lo is not None and hi is not None:
            lower.append({"key": fid, "value": lo})
            upper.append({"key": fid, "value": hi})
    return {
        "value_counts": value_counts,
        "null_value_counts": null_counts,
        "lower_bounds": lower or None,
        "upper_bounds": upper or None,
    }


def _stats_to_jsonable(ds: dict[str, Any]) -> dict[str, Any]:
    """data_file stats dict -> JSON-safe form for the per-export footer
    cache (bound values are bytes -> base64)."""
    import base64

    out = dict(ds)
    for k in ("lower_bounds", "upper_bounds"):
        if out.get(k):
            out[k] = [
                {"key": e["key"], "b64": base64.b64encode(e["value"]).decode()}
                for e in out[k]
            ]
    return out


def _stats_from_jsonable(ds: dict[str, Any]) -> dict[str, Any]:
    import base64

    out = dict(ds)
    for k in ("lower_bounds", "upper_bounds"):
        if out.get(k):
            out[k] = [
                {"key": e["key"], "value": base64.b64decode(e["b64"])}
                for e in out[k]
            ]
    return out


MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {
            "name": "snapshot_id",
            "type": ["null", "long"],
            "field-id": 1,
            "default": None,
        },
        {
            "name": "sequence_number",
            "type": ["null", "long"],
            "field-id": 3,
            "default": None,
        },
        {
            "name": "file_sequence_number",
            "type": ["null", "long"],
            "field-id": 4,
            "default": None,
        },
        {"name": "data_file", "type": _DATA_FILE_SCHEMA, "field-id": 2},
    ],
}

MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_data_files_count", "type": "int", "field-id": 504},
        {"name": "existing_data_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_data_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}

# moonlink schema DSL -> iceberg primitive type names
_ICEBERG_TYPES = {
    "int16": "int",
    "int32": "int",
    "int": "int",
    "int64": "long",
    "bigint": "long",
    "string": "string",
    "text": "string",
    "uuid": "uuid",
    "json": "string",
    "boolean": "boolean",
    "bool": "boolean",
    "float32": "float",
    "float64": "double",
    "double": "double",
    "date32": "date",
    "date": "date",
    "timestamp": "timestamptz",
    "timestamptz": "timestamptz",
    "timestamp_ntz": "timestamp",
    "time64": "long",
    "binary": "binary",
    "bytea": "binary",
}


def _iceberg_field_type(spec: dict[str, Any], next_id: list[int]) -> Any:
    name = str(spec.get("data_type", "")).strip().lower()
    if name in _ICEBERG_TYPES:
        return _ICEBERG_TYPES[name]
    if name.startswith("decimal"):
        return name.replace(" ", "")
    if name == "struct":
        return {
            "type": "struct",
            "fields": [_iceberg_field(f, next_id) for f in spec["fields"]],
        }
    if name in ("list", "array"):
        next_id[0] += 1
        item = dict(spec["item"])
        return {
            "type": "list",
            "element-id": next_id[0],
            "element": _iceberg_field_type(item, next_id),
            "element-required": not bool(item.get("nullable", True)),
        }
    raise ValueError(f"no iceberg mapping for data_type {name!r}")


def _iceberg_field(spec: dict[str, Any], next_id: list[int]) -> dict[str, Any]:
    next_id[0] += 1
    fid = next_id[0]
    return {
        "id": fid,
        "name": spec["name"],
        "required": not bool(spec.get("nullable", True)),
        "type": _iceberg_field_type(spec, next_id),
    }


def iceberg_schema(schema_fields: list[dict[str, Any]]) -> dict[str, Any]:
    """Moonlink field DSL -> Iceberg schema JSON (fresh sequential ids)."""
    counter = [0]
    fields = [_iceberg_field(f, counter) for f in schema_fields]
    return {"type": "struct", "schema-id": 0, "fields": fields}


def _strip_ids(obj: Any) -> Any:
    """Structural copy with all field/element ids removed (shape compare)."""
    if isinstance(obj, dict):
        return {
            k: _strip_ids(v)
            for k, v in obj.items()
            if k not in ("id", "element-id", "schema-id")
        }
    if isinstance(obj, list):
        return [_strip_ids(x) for x in obj]
    return obj


def _max_field_id(obj: Any) -> int:
    """Largest id/element-id anywhere in a schema tree (incl. nested)."""
    best = 0
    if isinstance(obj, dict):
        for k, v in obj.items():
            if k in ("id", "element-id") and isinstance(v, int):
                best = max(best, v)
            else:
                best = max(best, _max_field_id(v))
    elif isinstance(obj, list):
        for x in obj:
            best = max(best, _max_field_id(x))
    return best


def iceberg_schema_stable(
    schema_fields: list[dict[str, Any]],
    prev_schema: dict[str, Any] | None,
    next_start: int,
) -> dict[str, Any]:
    """Iceberg schema JSON with field IDs carried forward BY NAME from the
    previous current schema; genuinely new columns (or columns whose type
    changed) allocate fresh IDs above ``next_start``. This is Iceberg's
    field-id stability contract: dropping or reordering a column must
    never reassign an existing ID to a different column, or ID-based
    readers misproject older snapshots (parity: the reference syncer keeps
    Arrow field ids stable across alters,
    ``storage/table/iceberg/iceberg_table_syncer.rs``)."""
    prev_fields = (prev_schema or {}).get("fields", [])
    prev_by_name = {f["name"]: f for f in prev_fields}
    counter = [next_start]
    fields = []
    for spec in schema_fields:
        shape = _iceberg_field(spec, [0])  # throwaway ids, shape only
        prev = prev_by_name.get(spec["name"])
        if prev is not None and _strip_ids(prev) == _strip_ids(shape):
            fields.append(prev)  # unchanged column: keep its ids verbatim
        else:
            fields.append(_iceberg_field(spec, counter))
    return {"type": "struct", "schema-id": 0, "fields": fields}


# --------------------------------------------------------------------------- #
# export
# --------------------------------------------------------------------------- #


def _table_uuid(table_path: str) -> str:
    h = hashlib.md5(table_path.encode()).hexdigest()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def _read_current_metadata(meta_dir: str) -> tuple[int, dict[str, Any] | None]:
    hint = os.path.join(meta_dir, "version-hint.text")
    if not os.path.exists(hint):
        return 0, None
    with open(hint) as fh:
        v = int(fh.read().strip())
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        return v, json.load(fh)


def _current_snapshot(dest: str) -> tuple[dict[str, Any], dict[str, Any]]:
    """Shared read-path resolution: version-hint -> current
    metadata.json -> current snapshot record. Every exported-table
    reader starts here."""
    _, meta = _read_current_metadata(os.path.join(dest, "metadata"))
    if meta is None:
        raise FileNotFoundError(f"no iceberg metadata at {dest}")
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    return meta, snap


def _read_index_blobs(
    dest: str, summary_key: str, blob_type: str, column: str | None = None
) -> list[tuple[dict[str, Any], dict[str, Any]]]:
    """Shared index-blob resolution: current snapshot summary ->
    ``summary_key`` puffin path -> blobs of ``blob_type`` (optionally
    filtered to one indexed ``column``). Returns (blob_meta, payload)
    pairs; empty when the snapshot carries no such index."""
    _, snap = _current_snapshot(dest)
    puffin_path = snap.get("summary", {}).get(summary_key)
    if not puffin_path:
        return []
    metas, data = read_puffin(puffin_path)
    out: list[tuple[dict[str, Any], dict[str, Any]]] = []
    for blob_meta in metas:
        if blob_meta.get("type") != blob_type:
            continue
        if column is not None and (
            blob_meta.get("properties", {}).get("column") != column
        ):
            continue
        body = data[
            blob_meta["offset"]:blob_meta["offset"] + blob_meta["length"]
        ]
        out.append((blob_meta, json.loads(body)))
    return out


# sidecar recording the last successful Iceberg sync of a table; feeds
# TableStatus.flush_lsn / iceberg_warehouse_location (parity
# table_status.rs:12-17 — the reference tracks the iceberg flush LSN per
# table and reports it from list_tables)
ICEBERG_SYNC_FILE = "iceberg_sync.json"


def export_iceberg(
    table: MoonlinkTable, dest: str, lsn: int | None = None
) -> dict[str, Any]:
    """Export the snapshot at ``lsn`` (default latest) as one new Iceberg v2
    snapshot + metadata version under ``dest``. First call creates the
    table (v1.metadata.json); later calls append snapshots reusing any
    unchanged data files. Returns a summary dict.

    Telemetry: records the reference's five iceberg-persistence histograms
    (observability/iceberg_persistence.rs:58-84) — overall synchronization
    plus the data-files / file-indices / deletion-vectors / commit stages.
    """
    with METRICS.guard("snapshot_synchronization_latency", table.path):
        summary = _export_iceberg_impl(table, dest, lsn)
    # record the sync point on the SOURCE table (atomic publish; last
    # writer wins is correct — LSNs are monotone per table)
    table.fs.write_text_durable(
        os.path.join(table.path, ICEBERG_SYNC_FILE),
        json.dumps(
            {
                "location": summary["location"],
                "flush_lsn": summary["source_lsn"],
                "metadata_version": summary["metadata_version"],
            },
            separators=(",", ":"),
        ),
    )
    return summary


def read_iceberg_sync(table: MoonlinkTable) -> dict[str, Any] | None:
    """Last successful Iceberg sync of ``table`` (or None if never synced)."""
    path = os.path.join(table.path, ICEBERG_SYNC_FILE)
    if not table.fs.exists(path):
        return None
    with table.fs.open_read(path) as fh:
        return json.load(fh)


def _export_iceberg_impl(
    table: MoonlinkTable, dest: str, lsn: int | None = None
) -> dict[str, Any]:
    m: Manifest = table._resolve_manifest(lsn=lsn)
    data_dir = os.path.join(dest, "data")
    meta_dir = os.path.join(dest, "metadata")
    os.makedirs(data_dir, exist_ok=True)
    os.makedirs(meta_dir, exist_ok=True)
    prev_version, prev_meta = _read_current_metadata(meta_dir)

    # ---- data files: content-addressed clean copies, NEVER rewritten ----
    # Deletes ship as Puffin deletion-vector blobs (Iceberg v3) instead of
    # rewriting the touched files live-rows-only: the cheap-delete
    # representation survives the export exactly like the reference's
    # syncer (iceberg_table_syncer.rs:723 writes the DV puffin; the read
    # side consumes it at moonlink_datafusion/table_provider.rs:119-126).
    desired: dict[str, FileEntry] = {}
    with METRICS.guard("sync_data_files_latency", table.path):
        for entry in m.data_files:
            name = _export_name(entry, "clean")
            desired[name] = entry
            dest_path = os.path.join(data_dir, name)
            if not os.path.exists(dest_path):
                clone_file(table._resolve(entry.path), dest_path)

    # per-data-file deleted row positions of the live files, keyed by
    # the exported copy's path
    rel_to_name = {e.path: n for n, e in desired.items()}
    deleted = {
        os.path.abspath(os.path.join(data_dir, rel_to_name[fp])): pos
        for fp, pos in dv_positions(
            table.data_path, m.delete_files, only=rel_to_name
        ).items()
    }

    seq = (prev_meta.get("last-sequence-number", 0) + 1) if prev_meta else 1
    snapshot_id = seq  # deterministic: snapshot N of this export lineage
    # per-ATTEMPT artifact suffix: two concurrent exporters both compute
    # snapshot N+1; the exclusive-create commit gate below picks one
    # winner, but artifacts are written BEFORE the gate — id-only names
    # would let the loser os.replace the winner's committed manifest
    # list/manifests/puffins (silent snapshot corruption). Unique names
    # make the loser's files harmless orphans; readers only ever follow
    # paths recorded in the committed metadata.
    attempt = uuid.uuid4().hex[:8]

    # ---- schema evolution: an altered table appends a NEW schema-id ----
    # field IDs are carried forward by name from the previous CURRENT
    # schema; new columns allocate past every id ever used (incl. nested
    # element ids) so no id is ever reassigned to a different column
    prev_schemas = list(prev_meta.get("schemas", [])) if prev_meta else []
    prev_current = None
    if prev_meta is not None:
        prev_current = next(
            (
                s
                for s in prev_schemas
                if s["schema-id"] == prev_meta.get("current-schema-id")
            ),
            None,
        )
    id_floor = max(
        _max_field_id(prev_schemas),
        (prev_meta or {}).get("last-column-id", 0),
    )
    schema_obj = iceberg_schema_stable(m.schema_fields, prev_current, id_floor)
    current_schema_id = None
    for s in prev_schemas:
        if s["fields"] == schema_obj["fields"]:
            current_schema_id = s["schema-id"]
            schema_obj = s
            break
    if current_schema_id is None:
        current_schema_id = max(
            [-1] + [s["schema-id"] for s in prev_schemas]
        ) + 1
        schema_obj = dict(schema_obj, **{"schema-id": current_schema_id})
        prev_schemas.append(schema_obj)
    schema_json = json.dumps(schema_obj, separators=(",", ":"))

    # deletion vectors are an Iceberg v3 feature; a table that has ever
    # written them stays v3 (format versions never downgrade). Computed
    # BEFORE the manifests so the manifest / manifest-list metadata can
    # declare the same version the table metadata does — spec-strict
    # readers validate consistency.
    format_version = 3 if (
        deleted or (prev_meta or {}).get("format-version", 2) >= 3
    ) else 2

    # ---- manifest (full live set, status=ADDED under an overwrite) ----
    # Content-addressed names carry immutable content, so footer-derived
    # stats are cached per (name, schema-id) across exports — an
    # incremental exporter syncing a big table otherwise re-parses every
    # live file's footer on EVERY export even when nothing changed.
    stats_cache_path = os.path.join(meta_dir, "stats-cache.json")
    try:
        with open(stats_cache_path) as fh:
            stats_cache = json.load(fh)
    except Exception:
        stats_cache = {}
    new_stats_cache: dict[str, Any] = {}
    entries = []
    total_rows = 0
    for name in sorted(desired):
        p = os.path.join(data_dir, name)
        ckey = f"{name}|{current_schema_id}"
        cached = stats_cache.get(ckey)
        if cached is None:
            footer = pq.ParquetFile(p).metadata  # parsed once per file
            cached = {
                "record_count": footer.num_rows,
                "file_size_in_bytes": os.path.getsize(p),
                "stats": _stats_to_jsonable(
                    _file_column_stats(footer, schema_obj, footer.num_rows)
                ),
            }
        new_stats_cache[ckey] = cached
        n_rows = cached["record_count"]
        total_rows += n_rows
        entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 0,  # DATA
                    "file_path": os.path.abspath(p),
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": n_rows,
                    "file_size_in_bytes": cached["file_size_in_bytes"],
                    # per-column value/null counts + bounds from the
                    # parquet footer, so Iceberg readers can prune
                    **_stats_from_jsonable(cached["stats"]),
                },
            }
        )
    try:
        tmp_cache = stats_cache_path + ".tmp"
        with open(tmp_cache, "w") as fh:
            json.dump(new_stats_cache, fh)
        os.replace(tmp_cache, stats_cache_path)
    except OSError:
        pass  # cache is an optimization only
    manifest_path = os.path.join(meta_dir, f"manifest-{snapshot_id}-{attempt}.avro")
    write_avro_container(
        manifest_path,
        MANIFEST_ENTRY_SCHEMA,
        entries,
        metadata={
            "schema": schema_json,
            "schema-id": str(current_schema_id),
            "partition-spec": "[]",
            "partition-spec-id": "0",
            "format-version": str(format_version),
            "content": "data",
        },
    )

    # ---- deletion vectors: one Puffin file, one DV blob per data file ----
    delete_entries: list[dict[str, Any]] = []
    total_deleted = 0
    puffin_path = None
    _t_dv = time.monotonic()
    if deleted:
        puffin_path = os.path.join(meta_dir, f"dv-snap-{snapshot_id}-{attempt}.puffin")
        blob_inputs = []
        for data_path in sorted(deleted):
            positions = deleted[data_path]
            blob_inputs.append(
                (
                    dv_blob_bytes(positions),
                    {
                        "type": DELETION_VECTOR_V1,
                        "properties": {
                            "referenced-data-file": data_path,
                            "cardinality": str(len(positions)),
                        },
                    },
                )
            )
        blob_metas = write_puffin(puffin_path, blob_inputs)
        puffin_size = os.path.getsize(puffin_path)
        for meta_blob in blob_metas:
            card = int(meta_blob["properties"]["cardinality"])
            total_deleted += card
            delete_entries.append(
                {
                    "status": 1,  # ADDED
                    "snapshot_id": snapshot_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": {
                        "content": 2,  # POSITION_DELETES (deletion vector)
                        "file_path": os.path.abspath(puffin_path),
                        "file_format": "PUFFIN",
                        "partition": {},
                        "record_count": card,
                        "file_size_in_bytes": puffin_size,
                        "referenced_data_file": meta_blob["properties"][
                            "referenced-data-file"
                        ],
                        "content_offset": meta_blob["offset"],
                        "content_size_in_bytes": meta_blob["length"],
                    },
                }
            )
        deletes_manifest_path = os.path.join(
            meta_dir, f"manifest-{snapshot_id}-{attempt}-deletes.avro"
        )
        write_avro_container(
            deletes_manifest_path,
            MANIFEST_ENTRY_SCHEMA,
            delete_entries,
            metadata={
                "schema": schema_json,
                "schema-id": str(current_schema_id),
                "partition-spec": "[]",
                "partition-spec-id": "0",
                "format-version": str(format_version),  # always 3 here
                "content": "deletes",
            },
        )
        METRICS.record(
            "sync_deletion_vectors_latency",
            table.path,
            (time.monotonic() - _t_dv) * 1000.0,
        )

    # ---- key hash index: mooncake-hash-index-v1 Puffin blob ----
    # Parity iceberg_table_syncer.rs import_one_file_index (:118-160) +
    # index.rs FileIndexBlob (:20-22): the blob body is the JSON index
    # metadata (covered data files + index block files + hash config);
    # the index block files themselves are copied next to the data files.
    # Readers use it to point-lookup without rebuilding the index.
    index_puffin_path = None
    _t_ix = time.monotonic()
    index_entries_live, _ = keyindex.live_entries(m)
    if index_entries_live:
        rel_to_name = {e.path: n for n, e in desired.items()}
        index_dir = os.path.join(dest, "data", "keyindex")
        os.makedirs(index_dir, exist_ok=True)
        blob_inputs = []
        algo = (m.properties.get(keyindex.KEY_INDEX_PROP) or {}).get(
            "algo", keyindex.XXHASH64_ALGO
        )
        for e in index_entries_live:
            src = table._resolve(e["path"])
            # content-addressed: the source path (uuid-named, immutable)
            # names the exported copy, so repeat exports find the block
            # in place instead of re-cloning it under a new snapshot name
            block_name = e["path"].replace("/", "__")
            block_path = os.path.join(index_dir, block_name)
            if not os.path.exists(block_path):
                clone_file(src, block_path)
            covered = [p for p in e.get("covers", []) if p in rel_to_name]
            payload = json.dumps(
                {
                    "data_files": [
                        os.path.abspath(os.path.join(data_dir, rel_to_name[p]))
                        for p in covered
                    ],
                    "source_paths": covered,
                    "index_block_files": [os.path.abspath(block_path)],
                    "num_rows": int(e.get("rows", 0)),
                    "algo": algo,
                },
                separators=(",", ":"),
            ).encode("utf-8")
            blob_inputs.append(
                (
                    payload,
                    {
                        "type": MOONCAKE_HASH_INDEX_V1,
                        "properties": {"cardinality": str(e.get("rows", 0))},
                    },
                )
            )
        index_puffin_path = os.path.join(
            meta_dir, f"index-snap-{snapshot_id}-{attempt}.puffin"
        )
        write_puffin(index_puffin_path, blob_inputs)
        METRICS.record(
            "sync_file_indices_latency",
            table.path,
            (time.monotonic() - _t_ix) * 1000.0,
        )

    # ---- IVF vector indexes: mooncake-ivf-index-v1 Puffin blobs ----
    # The FileIndexBlob pattern extended to the similarity index: blob
    # body = JSON metadata (column, centroid matrix, quantization grid,
    # copied assignment-block files), so an exported table serves ANN
    # queries with no native warehouse (consumed by
    # integrations/duckdb_provider.attach_iceberg_ann_topk).
    vec_puffin_path = None
    skipped_index_columns: list[str] = []
    latest_lsn = int(table.last_lsn)

    def _index_newer_than_export(idx_meta: dict[str, Any]) -> bool:
        # LSN pin: vec/sig indexes live OUTSIDE the manifest, so their
        # state can be newer than a pinned-LSN data snapshot. Each
        # mutator stamps ``as_of_lsn`` (the table LSN the index state
        # covers); an index past the export's LSN — or an unstamped one
        # when the export is not at the latest LSN — must not ship, or
        # the exported blobs would reference rows the data doesn't have.
        idx_lsn = idx_meta.get("as_of_lsn")
        if idx_lsn is not None:
            return int(idx_lsn) > m.lsn
        return m.lsn < latest_lsn  # unstamped + pinned old export

    vec_root = os.path.join(table.data_path, "vecindex")
    if os.path.isdir(vec_root):
        from moonlink_spark.table import vecindex as _vecindex
        from moonlink_spark.table.puffin import MOONCAKE_IVF_INDEX_V1

        vec_blob_inputs = []
        for column in sorted(os.listdir(vec_root)):
            idx_dir = os.path.join(vec_root, column)
            try:
                vmeta = _vecindex.read_meta(idx_dir)
            except (FileNotFoundError, NotADirectoryError):
                continue
            if _index_newer_than_export(vmeta):
                skipped_index_columns.append(f"vecindex/{column}")
                continue
            seg_out_dir = os.path.join(dest, "data", "vecindex", column)
            os.makedirs(seg_out_dir, exist_ok=True)
            block_files = []
            # segment names are uuid-unique and immutable: name the
            # exported copy after its source so repeat exports skip the
            # clone (content-addressed, like the data files)
            for seg in vmeta.get("segments") or []:
                out = os.path.join(seg_out_dir, seg)
                if not os.path.exists(out):
                    clone_file(os.path.join(idx_dir, seg), out)
                block_files.append(os.path.abspath(out))
            payload = json.dumps(
                {
                    "column": column,
                    "k": int(vmeta["k"]),
                    "centroids": vmeta["centroids"],
                    "quantization": "bigint(floor(x*1e6))",
                    "index_block_files": block_files,
                    "trained_rows": int(vmeta.get("trained_rows", 0)),
                    "appended_rows": int(vmeta.get("appended_rows", 0)),
                    "generation": int(vmeta.get("generation", 1)),
                    # IVF-PQ indexes: codebooks make the blob
                    # self-describing (segments already carry the codes
                    # column verbatim); readers without an ADC path can
                    # still serve the inverted lists + exact rerank
                    "pq": vmeta.get("pq"),
                },
                separators=(",", ":"),
            ).encode("utf-8")
            vec_blob_inputs.append(
                (
                    payload,
                    {
                        "type": MOONCAKE_IVF_INDEX_V1,
                        "properties": {"column": column},
                    },
                )
            )
        if vec_blob_inputs:
            vec_puffin_path = os.path.join(
                meta_dir, f"vecindex-snap-{snapshot_id}-{attempt}.puffin"
            )
            write_puffin(vec_puffin_path, vec_blob_inputs)

    # ---- MinHash signature indexes: mooncake-minhash-index-v1 blobs ----
    # Same pattern for the dedup index: signature blocks copy next to the
    # data; the blob carries the banding config, so an exported table
    # serves LSH candidate-pair queries engine-agnostically (consumed by
    # integrations/duckdb_provider.attach_iceberg_lsh_pairs).
    sig_puffin_path = None
    sig_root = os.path.join(table.data_path, "sigindex")
    if os.path.isdir(sig_root):
        from moonlink_spark.table import sigindex as _sigindex
        from moonlink_spark.table.puffin import MOONCAKE_MINHASH_INDEX_V1

        sig_blob_inputs = []
        for column in sorted(os.listdir(sig_root)):
            idx_dir = os.path.join(sig_root, column)
            try:
                smeta = _sigindex.read_meta(idx_dir)
            except (FileNotFoundError, NotADirectoryError):
                continue
            if _index_newer_than_export(smeta):
                skipped_index_columns.append(f"sigindex/{column}")
                continue
            seg_out_dir = os.path.join(dest, "data", "sigindex", column)
            os.makedirs(seg_out_dir, exist_ok=True)
            block_files = []
            for seg in smeta.get("segments") or []:
                out = os.path.join(seg_out_dir, seg)  # content-addressed
                if not os.path.exists(out):
                    clone_file(os.path.join(idx_dir, seg), out)
                block_files.append(os.path.abspath(out))
            payload = json.dumps(
                {
                    "column": column,
                    "n_hashes": int(smeta["n_hashes"]),
                    "n_bands": int(smeta["n_bands"]),
                    "index_block_files": block_files,
                    "generation": int(smeta.get("generation", 1)),
                },
                separators=(",", ":"),
            ).encode("utf-8")
            sig_blob_inputs.append(
                (
                    payload,
                    {
                        "type": MOONCAKE_MINHASH_INDEX_V1,
                        "properties": {"column": column},
                    },
                )
            )
        if sig_blob_inputs:
            sig_puffin_path = os.path.join(
                meta_dir, f"sigindex-snap-{snapshot_id}-{attempt}.puffin"
            )
            write_puffin(sig_puffin_path, sig_blob_inputs)

    # ---- manifest list ----
    mlist_path = os.path.join(meta_dir, f"snap-{snapshot_id}-{attempt}.avro")
    mlist_records = [
        {
            "manifest_path": os.path.abspath(manifest_path),
            "manifest_length": os.path.getsize(manifest_path),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_data_files_count": len(entries),
            "existing_data_files_count": 0,
            "deleted_data_files_count": 0,
            "added_rows_count": total_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
    ]
    if delete_entries:
        mlist_records.append(
            {
                "manifest_path": os.path.abspath(deletes_manifest_path),
                "manifest_length": os.path.getsize(deletes_manifest_path),
                "partition_spec_id": 0,
                "content": 1,  # DELETES manifest
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_data_files_count": len(delete_entries),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
                "added_rows_count": total_deleted,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        )
    write_avro_container(
        mlist_path,
        MANIFEST_FILE_SCHEMA,
        mlist_records,
        metadata={"format-version": str(format_version)},
    )

    # ---- table metadata ----
    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": m.timestamp_ms,
        "manifest-list": os.path.abspath(mlist_path),
        "summary": {
            "operation": "overwrite",
            "added-data-files": str(len(entries)),
            "added-records": str(total_rows),
            "total-data-files": str(len(entries)),
            "total-records": str(total_rows),
            "total-position-deletes": str(total_deleted),
            "added-position-delete-files": str(len(delete_entries)),
            "moonlink-source-lsn": str(m.lsn),
            "moonlink-source-version": str(m.version),
            **(
                {"moonlink-file-index-puffin": os.path.abspath(index_puffin_path)}
                if index_puffin_path
                else {}
            ),
            **(
                {"moonlink-vector-index-puffin": os.path.abspath(vec_puffin_path)}
                if vec_puffin_path
                else {}
            ),
            **(
                {"moonlink-signature-index-puffin": os.path.abspath(sig_puffin_path)}
                if sig_puffin_path
                else {}
            ),
        },
        "schema-id": current_schema_id,
    }
    # includes nested struct-field and list element-ids, not just top level
    last_column_id = max(_max_field_id(prev_schemas), _max_field_id(schema_obj))
    # snapshot-log timestamps must be non-decreasing (engines binary-
    # search it for FOR TIMESTAMP AS OF and some validate chronology);
    # exporting an OLDER lsn after a newer one would otherwise append a
    # smaller timestamp and move last-updated-ms backwards
    log_ts = m.timestamp_ms
    if prev_meta:
        log_ts = max(log_ts, prev_meta.get("last-updated-ms", 0))
    meta: dict[str, Any] = {
        "format-version": format_version,
        "table-uuid": _table_uuid(table.path),
        "location": os.path.abspath(dest),
        "last-sequence-number": seq,
        "last-updated-ms": log_ts,
        "last-column-id": last_column_id,
        "current-schema-id": current_schema_id,
        "schemas": prev_schemas,
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        # schema.name-mapping.default (Iceberg spec "Name Mapping
        # Serialization"): the cloned data files are moonlink parquet
        # with NO parquet field-ids, so field-id-resolving engines
        # (Spark+iceberg-runtime, Trino) need the name mapping to
        # project columns — without it they fall back to positional id
        # assignment, which silently misprojects after schema evolution
        "properties": {
            "write.format.default": "parquet",
            "schema.name-mapping.default": json.dumps(
                [
                    {"field-id": f["id"], "names": [f["name"]]}
                    for f in schema_obj["fields"]
                ],
                separators=(",", ":"),
            ),
        },
        "current-snapshot-id": snapshot_id,
        "snapshots": (prev_meta.get("snapshots", []) if prev_meta else [])
        + [snapshot],
        "snapshot-log": (prev_meta.get("snapshot-log", []) if prev_meta else [])
        + [{"timestamp-ms": log_ts, "snapshot-id": snapshot_id}],
        "metadata-log": (
            (prev_meta.get("metadata-log", []) if prev_meta else [])
            + (
                [
                    {
                        "timestamp-ms": prev_meta["last-updated-ms"],
                        "metadata-file": os.path.abspath(
                            os.path.join(
                                meta_dir, f"v{prev_version}.metadata.json"
                            )
                        ),
                    }
                ]
                if prev_meta
                else []
            )
        ),
    }
    _t_commit = time.monotonic()
    new_version = prev_version + 1
    meta_path = os.path.join(meta_dir, f"v{new_version}.metadata.json")
    # exclusive-create: two concurrent exporters both computed
    # prev_version N — exactly one may own vN+1 (same single-winner
    # pattern as ManifestStore.commit); the loser fails loudly instead of
    # silently dropping a snapshot via last-writer-wins os.replace
    try:
        fd = os.open(meta_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        from moonlink_spark.errors import CommitConflictError

        raise CommitConflictError(
            f"concurrent iceberg export already wrote {meta_path}; "
            "re-run to export on top of it"
        )
    with os.fdopen(fd, "w") as fh:
        json.dump(meta, fh, indent=1)
    hint_tmp = os.path.join(meta_dir, "version-hint.text.tmp")
    with open(hint_tmp, "w") as fh:
        fh.write(str(new_version))
    os.replace(hint_tmp, os.path.join(meta_dir, "version-hint.text"))
    METRICS.record(
        "transaction_commit_latency",
        table.path,
        (time.monotonic() - _t_commit) * 1000.0,
    )
    return {
        "location": os.path.abspath(dest),
        "metadata_version": new_version,
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "data_files": len(entries),
        "rows": total_rows,
        "deletion_vectors": len(delete_entries),
        "deleted_positions": total_deleted,
        "puffin_file": puffin_path,
        "file_index_puffin": index_puffin_path,
        # vec/sig indexes whose state is NEWER than the exported data
        # snapshot (their as_of_lsn is past the export LSN) — shipped
        # blobs must never reference rows the data doesn't contain
        "skipped_index_columns": skipped_index_columns,
        "source_lsn": m.lsn,
        "source_version": m.version,
    }


def read_iceberg_live_files(dest: str) -> list[str]:
    """Decode the exported metadata (pure Python, independent of the
    writer's in-memory state): version-hint -> metadata.json ->
    manifest-list avro -> manifest avro -> live data file paths."""
    _, snap = _current_snapshot(dest)
    paths: list[str] = []
    for mrec in read_avro_container(snap["manifest-list"]):
        if mrec.get("content", 0) != 0:
            continue  # deletes manifest: not data files
        for entry in read_avro_container(mrec["manifest_path"]):
            if entry["status"] in (0, 1):  # EXISTING | ADDED
                if entry["data_file"].get("content", 0) == 0:
                    paths.append(entry["data_file"]["file_path"])
    return sorted(paths)


def read_iceberg_deletion_vectors(dest: str) -> dict[str, list[int]]:
    """Decode the current snapshot's deletion vectors (pure Python):
    deletes manifests -> content=2 entries -> Puffin deletion-vector-v1
    blobs -> {data file path: sorted deleted row positions}. The read-side
    counterpart of the export's DV path (parity:
    moonlink_datafusion/src/table_provider.rs:119-126 turning DV blobs
    into row-skip filters)."""
    _, snap = _current_snapshot(dest)
    out: dict[str, list[int]] = {}
    # every content=2 entry of a snapshot points at the same puffin file:
    # parse each distinct file ONCE (re-reading it per entry was O(files²)
    # bitmap deserialization for a metadata read)
    puffin_cache: dict[str, dict[str, list[int]]] = {}
    for mrec in read_avro_container(snap["manifest-list"]):
        if mrec.get("content", 0) != 1:
            continue
        for entry in read_avro_container(mrec["manifest_path"]):
            df = entry["data_file"]
            if entry["status"] not in (0, 1) or df.get("content") != 2:
                continue
            fp = df["file_path"]
            dvs = puffin_cache.get(fp)
            if dvs is None:
                dvs = puffin_cache[fp] = read_puffin_deletion_vectors(fp)
            ref = df.get("referenced_data_file")
            positions = dvs.get(ref)
            if positions is None:
                raise ValueError(
                    f"deletion vector missing for {ref!r} (have "
                    f"{sorted(dvs)})"
                )
            if len(positions) != df["record_count"]:
                raise ValueError(
                    f"DV cardinality mismatch for {ref!r}: blob has "
                    f"{len(positions)} positions, manifest records "
                    f"{df['record_count']}"
                )
            out[ref] = positions
    return out


def iceberg_index_lookup(
    dest: str,
    key_hashes: list[int],
    spark: Any = None,
    distributed_threshold: int = keyindex.DISTRIBUTED_THRESHOLD,
) -> dict[str, Any]:
    """Point-lookup FILE PRUNING on an exported Iceberg table: resolve
    which data files can contain rows whose xxhash64 key hash is in
    ``key_hashes`` by consulting the ``mooncake-hash-index-v1`` blobs —
    no data file is opened (parity: the reference loads FileIndexBlobs
    back and point-looks-up through them instead of scanning,
    storage/table/iceberg/index.rs:115+ / persisted_bucket_hash_map.rs
    ``search_values``).

    The blobs' index blocks are probed by the native key index's own
    routine, :func:`keyindex.lookup_hashes`: on the driver it reads only
    the row groups whose ``h`` min/max can hold a probe; when ``spark``
    is given and the probe set reaches ``distributed_threshold``, the
    blocks are joined against the broadcast probes through Spark.

    Returns ``{"files": [pruned data file paths],
    "positions": [(data_file, row_index), ...]}`` — positions are the
    exact index hits (callers must still mask deletion vectors and
    re-check key equality; hash hits can be a superset on collision)."""
    src_to_data: dict[str, str] = {}
    blocks: list[str] = []
    for e in read_iceberg_key_index(dest):
        src_to_data.update(zip(e["source_paths"], e["data_files"]))
        blocks.extend(e["index_block_files"])
    hits = keyindex.lookup_hashes(
        blocks, key_hashes, spark=spark, distributed_threshold=distributed_threshold
    )
    positions = [
        (src_to_data[fp], int(ri)) for fp, ri in hits if fp in src_to_data
    ]
    return {"files": sorted({f for f, _ in positions}), "positions": positions}


def read_avro_container(path: str) -> list[dict[str, Any]]:
    """The records of an Avro object-container file with the null codec
    (the files :func:`write_avro_container` writes)."""
    with open(path, "rb") as fh:
        data = fh.read()
    if data[:4] != b"Obj\x01":
        raise ValueError("not an avro container")
    meta, pos = decode_datum(_AVRO_META, data, 4)
    schema = json.loads(meta["avro.schema"])
    if meta.get("avro.codec", b"null") != b"null":
        raise ValueError(f"unsupported avro codec {meta.get('avro.codec')!r}")
    sync = data[pos:pos + 16]
    pos += 16
    records: list[dict[str, Any]] = []
    while pos < len(data):
        count, pos = _zigzag_decode(data, pos)
        _, pos = _zigzag_decode(data, pos)  # block byte length
        for _ in range(count):
            record, pos = decode_datum(schema, data, pos)
            records.append(record)
        if data[pos:pos + 16] != sync:
            raise ValueError("avro sync marker mismatch (corrupt manifest)")
        pos += 16
    return records


def read_iceberg_key_index(dest: str) -> list[dict[str, Any]]:
    """Decode the current snapshot's persisted key hash index (pure
    Python): metadata.json -> snapshot summary ``moonlink-file-index-puffin``
    -> ``mooncake-hash-index-v1`` blobs -> one dict per index run with the
    covered data files and the index block parquet paths. Read-side
    counterpart of the export's index path (parity: the reference loads
    file-index blobs back through ``FileIndexBlob::as_mooncake_file_index``,
    storage/table/iceberg/index.rs:115+)."""
    out: list[dict[str, Any]] = []
    for blob_meta, entry in _read_index_blobs(
        dest, "moonlink-file-index-puffin", MOONCAKE_HASH_INDEX_V1
    ):
        entry["cardinality"] = int(
            blob_meta.get("properties", {}).get("cardinality", 0)
        )
        out.append(entry)
    return out


def read_iceberg_vector_index(
    dest: str, column: str | None = None
) -> list[dict[str, Any]]:
    """Decode the current snapshot's persisted IVF vector index blobs
    (pure Python): metadata.json -> snapshot summary
    ``moonlink-vector-index-puffin`` -> ``mooncake-ivf-index-v1`` blobs.
    One dict per indexed column with the centroid matrix and the
    assignment-block parquet paths; ``column`` filters to one index.
    Read-side counterpart of the export's vector-index path."""
    from moonlink_spark.table.puffin import MOONCAKE_IVF_INDEX_V1

    return [
        payload
        for _, payload in _read_index_blobs(
            dest, "moonlink-vector-index-puffin", MOONCAKE_IVF_INDEX_V1, column
        )
    ]


def read_iceberg_signature_index(
    dest: str, column: str | None = None
) -> list[dict[str, Any]]:
    """Decode the current snapshot's persisted MinHash signature index
    blobs: metadata.json -> snapshot summary
    ``moonlink-signature-index-puffin`` -> ``mooncake-minhash-index-v1``
    blobs. One dict per indexed column with the banding config and the
    signature-block parquet paths."""
    from moonlink_spark.table.puffin import MOONCAKE_MINHASH_INDEX_V1

    return [
        payload
        for _, payload in _read_index_blobs(
            dest,
            "moonlink-signature-index-puffin",
            MOONCAKE_MINHASH_INDEX_V1,
            column,
        )
    ]
