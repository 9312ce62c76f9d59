"""Delta-Lake transaction-log export: publish a table snapshot (and
incremental follow-ups) in the open Delta format, with no Delta jars.

The reference persists every commit as real Iceberg metadata so external
engines read its tables in place (iceberg_table_syncer.rs; SURVEY.md §2a
#17). Iceberg manifests are Avro and need a writer library, but the Delta
transaction log is plain JSON per the public protocol spec
(github.com/delta-io/delta PROTOCOL.md): a ``_delta_log/`` directory of
``{version:020d}.json`` files whose actions (protocol, metaData, add,
remove) describe parquet data files. That makes Delta the interop format
this jar-free build can emit *natively* — any Delta-capable engine
(Spark+delta jars, DuckDB delta extension, delta-rs, Trino) can then read
the exported table, including its version history.

Mapping moonlink commits -> Delta versions:

- each ``export_delta`` call snapshots the table at an LSN into ONE new
  Delta log version;
- data files are **always copied verbatim** (their exported name is a
  content-stable hash, so a file unchanged between exports produces no
  log action at all);
- deleted rows travel as **inline deletion vectors** on the add action
  (PROTOCOL.md "Deletion Vectors": storageType "i", Z85-encoded
  magic+roaring64 bitmap, reader 3 / writer 7 table feature) — a delete
  never forces a data-file rewrite, matching the Iceberg export's
  Puffin-DV contract and the reference's cheap-delete representation;
- per-file ``stats`` (numRecords / minValues / maxValues / nullCount) come
  straight from parquet footers, the same source as the manifest's pruning
  stats (table/stats.py).

Scale: copy-verbatim keeps incremental exports O(changed files) — an
append-only 100 TB table exports each new commit by hard-copying only the
new files and appending one small JSON; a delete-only commit appends ONE
log version whose only payload is the refreshed DV actions. The log
replay that computes "what was already exported" reads only JSON
actions, never data.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from typing import Any

import pyarrow.parquet as pq

from moonlink_spark.schema import field_schema_to_struct
from moonlink_spark.table.manifest import FileEntry, Manifest
from moonlink_spark.table.stats import _json_safe
from moonlink_spark.table.table import MoonlinkTable, dv_positions

LOG_DIR = "_delta_log"
PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}
# deletion vectors are a Delta table feature gated on reader 3 / writer 7
# (PROTOCOL.md "Table Features" + "Deletion Vectors")
DV_PROTOCOL = {
    "minReaderVersion": 3,
    "minWriterVersion": 7,
    "readerFeatures": ["deletionVectors"],
    "writerFeatures": ["deletionVectors"],
}

# Delta serializes DV bitmaps as magic 1681511377 (LE) + the portable
# 64-bit RoaringBitmapArray (PROTOCOL.md "Deletion Vector Format") — the
# roaring layer is shared with the Iceberg Puffin writer (table/puffin.py)
_DELTA_DV_MAGIC = 1681511377

_Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}


def _z85_encode(data: bytes) -> str:
    """Z85 (zero-padded to a 4-byte multiple; the true length travels in
    sizeInBytes, as Delta's inline-DV encoding expects)."""
    pad = (-len(data)) % 4
    data = data + b"\x00" * pad
    out = []
    for i in range(0, len(data), 4):
        v = int.from_bytes(data[i:i + 4], "big")
        chunk = []
        for _ in range(5):
            v, r = divmod(v, 85)
            chunk.append(_Z85_CHARS[r])
        out.extend(reversed(chunk))
    return "".join(out)


def _z85_decode(text: str, size: int) -> bytes:
    out = bytearray()
    for i in range(0, len(text), 5):
        v = 0
        for c in text[i:i + 5]:
            v = v * 85 + _Z85_INDEX[c]
        out += v.to_bytes(4, "big")
    return bytes(out[:size])


def _delta_dv_bytes(positions: list[int]) -> bytes:
    from moonlink_spark.table.puffin import serialize_roaring64

    import struct as _s

    return _s.pack("<i", _DELTA_DV_MAGIC) + serialize_roaring64(positions)


def _delta_dv_positions(data: bytes) -> list[int]:
    import struct as _s

    from moonlink_spark.table.puffin import deserialize_roaring64

    (magic,) = _s.unpack_from("<i", data, 0)
    if magic != _DELTA_DV_MAGIC:
        raise ValueError(f"bad delta DV magic {magic}")
    return deserialize_roaring64(data[4:])


# --------------------------------------------------------------------------- #
# parquet footer -> Delta per-file stats
# --------------------------------------------------------------------------- #
def _delta_file_stats(path: str) -> str:
    """Delta ``stats`` JSON string for one parquet file (numRecords,
    minValues, maxValues, nullCount) from footer metadata only."""
    md = pq.ParquetFile(path).metadata
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name or name in bad:
                continue
            st = col.statistics
            if st is None:
                bad.add(name)
                for d in (mins, maxs, nulls):
                    d.pop(name, None)
                continue
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if not st.has_min_max:
                mins.pop(name, None)
                maxs.pop(name, None)
                continue
            mn, mx = _json_safe(st.min, lo=True), _json_safe(st.max, lo=False)
            if mn is None or mx is None:
                continue
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        },
        sort_keys=True,
    )


# --------------------------------------------------------------------------- #
# log replay (what has already been exported)
# --------------------------------------------------------------------------- #
def _log_versions(log_dir: str) -> list[int]:
    if not os.path.isdir(log_dir):
        return []
    out = []
    for n in os.listdir(log_dir):
        if n.endswith(".json") and n[:-5].isdigit():
            out.append(int(n[:-5]))
    return sorted(out)


LAST_CHECKPOINT = "_last_checkpoint"


def _read_checkpoint_state(
    log_dir: str,
) -> tuple[int, dict[str, dict], str | None, dict | None] | None:
    """Load ``_last_checkpoint`` -> (checkpoint_version, live adds,
    schemaString, protocol), or None when absent/unreadable — the caller
    falls back to full JSON replay, exactly the reader behaviour
    PROTOCOL.md prescribes for a missing checkpoint."""
    try:
        with open(os.path.join(log_dir, LAST_CHECKPOINT)) as fh:
            meta = json.load(fh)
        v = int(meta["version"])
        cp_path = os.path.join(log_dir, f"{v:020d}.checkpoint.parquet")
        tab = pq.read_table(cp_path)
        cols = set(tab.column_names)
        live: dict[str, dict] = {}
        schema_string: str | None = None
        protocol: dict | None = None
        for row in tab.to_pylist():
            add = row.get("add") if "add" in cols else None
            if add is not None:
                add = {k: v2 for k, v2 in add.items() if v2 is not None}
                if isinstance(add.get("partitionValues"), list):
                    add["partitionValues"] = dict(add["partitionValues"])
                dv = add.get("deletionVector")
                if dv is not None:
                    add["deletionVector"] = {
                        k: v2 for k, v2 in dv.items() if v2 is not None
                    }
                live[add["path"]] = add
            md = row.get("metaData") if "metaData" in cols else None
            if md is not None and md.get("schemaString"):
                schema_string = md["schemaString"]
            pr = row.get("protocol") if "protocol" in cols else None
            if pr is not None and pr.get("minReaderVersion") is not None:
                protocol = {
                    k: v2 for k, v2 in pr.items() if v2 is not None
                }
        if int(meta.get("size", len(tab))) != len(tab):
            raise ValueError("checkpoint size mismatch")
        return v, live, schema_string, protocol
    except Exception:
        # corrupted / torn / missing checkpoint: never wrong answers —
        # the full JSON log is still the source of truth
        return None


def _replay_log(
    log_dir: str,
) -> tuple[int, dict[str, dict], str | None, dict | None]:
    """Replay existing log -> (next_version, {path: add_action},
    last schemaString, last protocol action).

    Reads resolve through the latest checkpoint when one exists
    (PROTOCOL.md "Checkpoints"): seed state from the parquet checkpoint,
    then replay only the JSON versions after it — O(changes since
    checkpoint) instead of O(all versions). Any checkpoint read problem
    falls back to full JSON replay."""
    live: dict[str, dict] = {}
    schema_string: str | None = None
    protocol: dict | None = None
    versions = _log_versions(log_dir)
    start = 0
    cp = _read_checkpoint_state(log_dir)
    # A valid checkpoint is authoritative for state AT its version even
    # when no newer JSON commit survives: the protocol explicitly allows
    # metadata cleanup / external writers to delete JSON commits the
    # checkpoint covers (PROTOCOL.md "Checkpoints"). Replaying "what's
    # left" in that case silently reconstructs a wrong live set (review
    # r11). Corrupted/torn checkpoints already fall back via the None
    # return from _read_checkpoint_state.
    if cp is not None:
        start, live, schema_string, protocol = cp
        live = dict(live)
        start += 1
    for v in versions:
        if v < start:
            continue
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action:
                    live[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    live.pop(action["remove"]["path"], None)
                elif "metaData" in action:
                    schema_string = action["metaData"]["schemaString"]
                elif "protocol" in action:
                    protocol = action["protocol"]
    # next version must clear BOTH the newest surviving JSON commit and
    # the checkpoint version (the JSON tail may have been cleaned away)
    next_version = (versions[-1] + 1) if versions else 0
    if cp is not None:
        next_version = max(next_version, cp[0] + 1)
    return next_version, live, schema_string, protocol


def write_delta_checkpoint(dest: str) -> dict[str, Any]:
    """Write a classic parquet checkpoint of the CURRENT log state plus
    ``_last_checkpoint`` (PROTOCOL.md "Checkpoints"): one parquet row per
    reconstructed action (protocol, metaData, live adds), so readers
    resolve table state in O(1) + O(tail) instead of replaying every JSON
    version — the one O(history) read path the r9 verdict flagged.

    Tombstoned removes are not retained (this exporter's readers never
    vacuum mid-replay); ``add.dataChange`` is false per spec. Both files
    stage through temp names + atomic rename, and concurrent
    checkpointers of the same version write identical content, so
    last-wins replace is convergent."""
    import pyarrow as pa
    import uuid as _uuid

    log_dir = os.path.join(dest, LOG_DIR)
    next_version, live, schema_string, protocol = _replay_log(log_dir)
    if next_version == 0:
        raise ValueError(f"no Delta log under {log_dir}")
    # the stamped version MUST come from the same listing the replay
    # consumed: a separate _log_versions() call could see a version a
    # concurrent exporter committed after the replay, mislabeling this
    # checkpoint's state as a newer snapshot
    cp_version = next_version - 1

    dv_type = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("sizeInBytes", pa.int64()),
            ("cardinality", pa.int64()),
        ]
    )
    add_type = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            ("deletionVector", dv_type),
        ]
    )
    meta_type = pa.struct(
        [
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("createdTime", pa.int64()),
        ]
    )
    proto_type = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )
    rows: list[dict] = []
    if protocol is not None:
        rows.append({"protocol": protocol, "metaData": None, "add": None})
    if schema_string is not None:
        rows.append(
            {
                "protocol": None,
                "metaData": {
                    "id": "",
                    "format": {"provider": "parquet"},
                    "schemaString": schema_string,
                    "partitionColumns": [],
                    "createdTime": 0,
                },
                "add": None,
            }
        )
    for name in sorted(live):
        add = live[name]
        rows.append(
            {
                "protocol": None,
                "metaData": None,
                "add": {
                    "path": add["path"],
                    "partitionValues": list(
                        (add.get("partitionValues") or {}).items()
                    ),
                    "size": add.get("size"),
                    "modificationTime": add.get("modificationTime"),
                    "dataChange": False,
                    "stats": add.get("stats"),
                    "deletionVector": add.get("deletionVector"),
                },
            }
        )
    schema = pa.schema(
        [("protocol", proto_type), ("metaData", meta_type), ("add", add_type)]
    )
    tab = pa.Table.from_pylist(rows, schema=schema)
    cp_path = os.path.join(log_dir, f"{cp_version:020d}.checkpoint.parquet")
    tmp = f"{cp_path}.tmp-{_uuid.uuid4().hex}"
    pq.write_table(tab, tmp)
    os.replace(tmp, cp_path)
    lc_tmp = os.path.join(log_dir, f".{LAST_CHECKPOINT}.tmp-{_uuid.uuid4().hex}")
    with open(lc_tmp, "w") as fh:
        json.dump({"version": cp_version, "size": len(rows)}, fh)
    os.replace(lc_tmp, os.path.join(log_dir, LAST_CHECKPOINT))
    return {"checkpoint_version": cp_version, "actions": len(rows)}


# --------------------------------------------------------------------------- #
# export
# --------------------------------------------------------------------------- #
def _export_name(entry: FileEntry, dv_state: str) -> str:
    key = hashlib.md5(f"{entry.path}|{entry.rows}|{dv_state}".encode()).hexdigest()
    return f"part-{key[:24]}.parquet"


def clone_file(src: str, dst: str) -> None:
    """Hard-link when possible, copy otherwise. Safe because committed
    parquet files are immutable on both sides (the table never rewrites a
    data file in place; compaction/exports write NEW files), and a link
    survives the source table's drop/vacuum (the inode lives until both
    names go). Cross-device or exotic-FS setups fall back to a real copy.

    Destination names are content-addressed by callers, so a concurrent
    exporter racing to the same ``dst`` carries identical bytes: an
    EEXIST loss is success, and the copy fallback stages through a temp
    name + atomic rename so a reader can never observe a half-written
    (truncated-in-place) file."""
    import uuid as _uuid

    try:
        os.link(src, dst)
        return
    except FileExistsError:
        return  # concurrent clone of the same immutable content won
    except OSError:
        if os.path.exists(dst):
            return
    tmp = f"{dst}.tmp-{_uuid.uuid4().hex}"
    shutil.copyfile(src, tmp)
    os.replace(tmp, dst)


def export_delta(
    table: MoonlinkTable,
    dest: str,
    lsn: int | None = None,
    checkpoint_interval: int = 10,
) -> dict[str, Any]:
    """Export the snapshot at ``lsn`` (default: latest) as one new Delta log
    version under ``dest``. First call writes version 0 (protocol +
    metaData + adds); later calls append incremental versions containing
    only the add/remove delta vs what the log already holds. Returns a
    summary dict.

    Every ``checkpoint_interval`` versions a classic parquet checkpoint +
    ``_last_checkpoint`` is written (PROTOCOL.md "Checkpoints") so
    external readers — and this module's own replay — resolve state from
    the checkpoint plus the JSON tail instead of replaying every version;
    at moonlink's commit frequency (README.md:40-48) a full-log replay is
    O(versions) per read. Pass ``checkpoint_interval=0`` to disable."""
    m = table._resolve_manifest(lsn=lsn)
    log_dir = os.path.join(dest, LOG_DIR)
    os.makedirs(log_dir, exist_ok=True)
    # Delta's commit protocol is put-if-absent on the next version file;
    # two exporters racing to one version must yield ONE winner (the
    # loser replays the new log and retries), never a silent last-wins
    # overwrite of the other's actions.
    for _attempt in range(10):
        version, exported, prev_schema, prev_protocol = _replay_log(log_dir)
        result = _export_delta_version(
            table, dest, log_dir, m, version, exported, prev_schema, prev_protocol
        )
        if result is not None:
            committed = result["delta_version"]
            if checkpoint_interval and committed > 0 and (
                committed % checkpoint_interval == 0
            ):
                # the checkpoint is an optimization, never a correctness
                # dependency: a failure here (disk, or pyarrow rejecting
                # an externally-written log action's shape) leaves a
                # fully readable JSON log, so don't fail the COMMITTED
                # export over it
                try:
                    cp = write_delta_checkpoint(dest)
                    result["checkpoint_version"] = cp["checkpoint_version"]
                except Exception:
                    pass
            return result
    raise OSError(
        f"export_delta: lost the version race 10 times under {log_dir}"
    )


def _export_delta_version(
    table: MoonlinkTable,
    dest: str,
    log_dir: str,
    m: Manifest,
    version: int,
    exported: dict[str, dict],
    prev_schema: str | None,
    prev_protocol: dict | None,
) -> dict[str, Any] | None:

    # data files are ALWAYS clean verbatim copies; deletes travel as
    # inline deletion vectors on the add action (PROTOCOL.md "Deletion
    # Vectors") — same no-rewrite contract as the Iceberg Puffin path
    desired: dict[str, FileEntry] = {}
    for entry in m.data_files:
        desired[_export_name(entry, "clean")] = entry

    rel_to_name = {e.path: n for n, e in desired.items()}
    deleted = {
        rel_to_name[fp]: pos
        for fp, pos in dv_positions(
            table.data_path, m.delete_files, only=rel_to_name
        ).items()
    }

    def _dv_action(name: str) -> dict | None:
        positions = deleted.get(name)
        if not positions:
            return None
        raw = _delta_dv_bytes(positions)
        return {
            "storageType": "i",  # inline: DV bytes live in the log action
            "pathOrInlineDv": _z85_encode(raw),
            "sizeInBytes": len(raw),
            "cardinality": len(positions),
        }

    adds: list[dict] = []
    for name, entry in desired.items():
        dv = _dv_action(name)
        prev_add = exported.get(name)
        if prev_add is not None:
            prev_dv = prev_add.get("deletionVector")
            same_dv = (prev_dv or None) == (dv or None)
            if same_dv:
                continue  # file + DV state unchanged: no action at all
            # DV changed on an already-exported file: re-add with the new
            # DV (same path; a later add supersedes the earlier one)
            action = dict(prev_add)
            if dv is None:
                action.pop("deletionVector", None)
            else:
                action["deletionVector"] = dv
            action["dataChange"] = True
            adds.append(action)
            continue
        dest_path = os.path.join(dest, name)
        if not os.path.exists(dest_path):
            clone_file(table._resolve(entry.path), dest_path)
        action = {
            "path": name,
            "partitionValues": {},
            "size": os.path.getsize(dest_path),
            "modificationTime": int(os.path.getmtime(dest_path) * 1000),
            "dataChange": True,
            "stats": _delta_file_stats(dest_path),
        }
        if dv is not None:
            action["deletionVector"] = dv
        adds.append(action)
    removes = [
        {
            "path": name,
            "deletionTimestamp": m.timestamp_ms,
            "dataChange": True,
        }
        for name in exported
        if name not in desired
    ]

    schema_string = field_schema_to_struct(m.schema_fields).json()
    actions: list[dict] = [
        {
            "commitInfo": {
                "operation": "MOONLINK-EXPORT",
                "operationParameters": {
                    "sourceLsn": str(m.lsn),
                    "sourceVersion": str(m.version),
                },
                "timestamp": m.timestamp_ms,
            }
        }
    ]
    # protocol: DVs require reader 3 / writer 7 + the table feature; once
    # upgraded a table never downgrades
    prev_has_dv = bool(
        prev_protocol and "deletionVectors" in prev_protocol.get("readerFeatures", [])
    )
    needed = DV_PROTOCOL if (deleted or prev_has_dv) else PROTOCOL
    if version == 0 or (prev_protocol or PROTOCOL) != needed:
        actions.append({"protocol": dict(needed)})
    if version == 0 or schema_string != prev_schema:
        # deterministic table id: exports of the same source table converge
        actions.append(
            {
                "metaData": {
                    "id": hashlib.md5(table.path.encode()).hexdigest(),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": [],
                    "configuration": {},
                    "createdTime": m.timestamp_ms,
                }
            }
        )
    actions += [{"add": a} for a in adds]
    actions += [{"remove": r} for r in removes]

    log_path = os.path.join(log_dir, f"{version:020d}.json")
    import uuid as _uuid

    tmp = f"{log_path}.tmp-{_uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a, sort_keys=True) + "\n")
    try:
        # link = atomic + exclusive: the Delta commit primitive (exactly
        # one writer owns each version number), and a replaying reader
        # can never observe a half-written version file
        os.link(tmp, log_path)
    except FileExistsError:
        os.unlink(tmp)
        return None  # lost the version race: caller replays and retries
    os.unlink(tmp)
    return {
        "delta_version": version,
        "source_lsn": m.lsn,
        "source_version": m.version,
        "adds": len(adds),
        "removes": len(removes),
        "live_files": len(desired),
        "deletion_vectors": len(deleted),
        "deleted_positions": sum(map(len, deleted.values())),
    }


def read_delta_live_files(dest: str) -> list[str]:
    """Replay the exported log -> absolute paths of live data files (what a
    Delta reader would scan). Used by tests to verify the export without a
    Delta engine."""
    _, live, _, _ = _replay_log(os.path.join(dest, LOG_DIR))
    return [os.path.join(dest, p) for p in sorted(live)]


def read_delta_deletion_vectors(dest: str) -> dict[str, list[int]]:
    """Replay the log -> {absolute data file path: sorted deleted row
    positions} from the inline deletion vectors on live add actions (the
    read-side counterpart of the export's DV path)."""
    _, live, _, _ = _replay_log(os.path.join(dest, LOG_DIR))
    out: dict[str, list[int]] = {}
    for name, add in live.items():
        dv = add.get("deletionVector")
        if not dv:
            continue
        if dv["storageType"] != "i":
            raise ValueError(f"unsupported DV storageType {dv['storageType']!r}")
        raw = _z85_decode(dv["pathOrInlineDv"], dv["sizeInBytes"])
        positions = _delta_dv_positions(raw)
        if len(positions) != dv["cardinality"]:
            raise ValueError(
                f"DV cardinality mismatch for {name}: "
                f"{len(positions)} != {dv['cardinality']}"
            )
        out[os.path.join(dest, name)] = positions
    return out
