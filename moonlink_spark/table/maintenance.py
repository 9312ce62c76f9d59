"""Background maintenance: data compaction and file GC.

Parity with the reference compactor
(``src/moonlink/src/storage/compaction/compactor.rs:31-90``) and its trigger
config (``compaction_config.rs:7-26``): rewrite small / deletion-heavy data
files with deletion vectors applied inline, producing size-tuned files
(128 MiB target, ``mooncake_table_config.rs:21-27``), keeping old versions
readable (time travel) until ``vacuum``.
"""

from __future__ import annotations

import contextlib
import os
from dataclasses import dataclass

from moonlink_spark.errors import TableConfigError
from moonlink_spark.table import keyindex
from moonlink_spark.table.manifest import Manifest
from moonlink_spark.table.table import DATA_DIR, DELETE_DIR, MoonlinkTable


@contextlib.contextmanager
def _maintenance_write(table: MoonlinkTable):
    """Marks a window in which maintenance is writing files that no
    manifest or pending op references yet (compaction output, merged
    index runs). vacuum() declines to GC while any such window is open —
    otherwise it would delete the rewrite's files between their adoption
    into data/ and the maintenance commit, corrupting the table."""
    with table._lock:
        table._maintenance_writes += 1
    try:
        yield
    finally:
        with table._lock:
            table._maintenance_writes -= 1


@dataclass(frozen=True)
class CompactionConfig:
    """Triggers (defaults mirror compaction_config.rs:7-26)."""

    min_files_to_compact: int = 4
    small_file_bytes: int = 32 * 1024 * 1024  # files below this are "small"
    max_deletion_ratio: float = 0.2  # DV rows / data rows triggering rewrite
    target_file_bytes: int = 128 * 1024 * 1024


def should_compact(m: Manifest, cfg: CompactionConfig = CompactionConfig()) -> bool:
    if not m.data_files:
        return False
    total_rows = sum(f.rows for f in m.data_files)
    if total_rows and m.deleted_rows / total_rows >= cfg.max_deletion_ratio:
        return True
    small = [f for f in m.data_files if f.bytes < cfg.small_file_bytes]
    return len(small) >= cfg.min_files_to_compact


def optimize(
    table: MoonlinkTable,
    mode: str = "full",
    cfg: CompactionConfig = CompactionConfig(),
    force: bool = True,
) -> int:
    """Rewrite the live view into size-tuned files and drop all DVs.

    Scale note: the rewrite is one Spark job over the live view — fully
    parallel; file count is chosen from manifest byte stats so output files
    land near the 128 MiB target.
    """
    if mode not in ("data", "index", "full"):
        raise TableConfigError(f"unknown optimize mode {mode!r}")
    base = table.manifest
    if mode == "index":
        # index merge (parity optimize_table(mode=index) ->
        # build_from_merge, moonlink_backend/lib.rs:360-384): unions live
        # index files, drops rows for compacted-away data files, rewrites
        # one sorted run. No-op for tables without a key index.
        from moonlink_spark.table.keyindex import merge_index

        with _maintenance_write(table):
            merge_index(table)
        return table.manifest.version
    if not force and not should_compact(base, cfg):
        return base.version
    if not base.data_files:
        return base.version

    live_bytes = sum(f.bytes for f in base.data_files)
    n_out = max(1, round(live_bytes / cfg.target_file_bytes))
    if (
        not force
        and not base.delete_files
        and len(base.data_files) == n_out
        and not table.cluster_by
        and (
            n_out == 1
            or all(
                f.bytes <= 2 * cfg.target_file_bytes
                and f.bytes >= cfg.small_file_bytes
                for f in base.data_files
            )
        )
    ):
        # the table is ALREADY in optimize's post-state (no DVs to fold,
        # file count at the byte-derived target; clustered tables only
        # ever commit range-sorted files, but they keep the rewrite as
        # the explicit re-clustering pass): rewriting would read and
        # write every live byte to produce an equivalent layout. Skip —
        # at scale this is the difference between "nightly optimize
        # re-churns the whole table" and a no-op commit cycle (r13).
        # force=True always rewrites.
        return base.version

    live, _ = table._read_manifest(base)
    with _maintenance_write(table):
        if table.cluster_by:
            # clustered tables re-sort into n_out range files (compaction
            # IS the re-clustering pass); the target file count is a
            # _write_df_files parameter, never shared table state a
            # concurrent ingest commit could pick up
            new_files = table._write_df_files(live, cluster_files=n_out)
        else:
            new_files = table._write_df_files(live.repartition(n_out))
        # compaction invalidates the key index (files were rewritten):
        # rebuild over the new file set in the same maintenance commit
        # (the reference remaps its index at compaction, compactor.rs)
        props = base.properties
        if keyindex.enabled(base):
            idx_cfg = dict(props.get(keyindex.KEY_INDEX_PROP) or {})
            idx_cfg["entries"] = []
            props = {**props, keyindex.KEY_INDEX_PROP: idx_cfg}
            props = table._index_new_files(base, props, new_files)
        m = Manifest(
            version=base.version + 1,
            lsn=base.lsn,  # maintenance commit: no new data => same LSN
            schema_fields=base.schema_fields,
            identity=base.identity,
            data_files=new_files,
            delete_files=[],
            parent=base.version,
            operation="optimize",
            properties=props,
        )
        table.store.commit(m, allow_equal_lsn=True)
    return m.version


def _staged_file_paths(table: MoonlinkTable) -> set[str]:
    """Paths referenced by not-yet-committed ops (mem-slice overflow and
    ``load_files`` both stage ``append_files`` entries that point at real
    parquet files no manifest references yet)."""
    paths: set[str] = set()
    op_lists = [table._pending] + [x._ops for x in table._xacts.values()]
    for ops in op_lists:
        for op in ops:
            if op[0] == "append_files":
                paths.update(e.path for e in op[1])
    return paths


def vacuum(table: MoonlinkTable, keep_versions: int = 1) -> int:
    """Delete files unreferenced by the newest ``keep_versions`` manifests
    and prune older manifests. Returns number of files removed.

    Runs under the table lock and treats files staged by pending (uncommitted)
    ops as referenced, so a concurrent/buffered writer's flushed-but-pending
    parquet is never GC'd out from under its future commit. Versions pinned
    by in-flight readers (``table.pin_version`` — the RPC scan lifecycle)
    are kept whole: their manifests stay and their files stay referenced."""
    with table._lock:
        if table._maintenance_writes:
            # a maintenance rewrite is mid-flight: its output files are
            # referenced by nothing vacuum can see yet. Decline (caller
            # retries later) rather than corrupt the upcoming commit.
            return 0
        versions = table.store.versions()
        keep = versions[-max(1, keep_versions):]
        pinned = [v for v in table.pinned_versions() if v in versions]
        keep = sorted(set(keep) | set(pinned))
        referenced: set[str] = _staged_file_paths(table)
        index_referenced: set[str] = set()
        for v in keep:
            m = table.store.read(v)
            referenced.update(f.path for f in m.data_files)
            referenced.update(f.path for f in m.delete_files)
            for e in keyindex.index_entries(m):
                # entries live in keyindex/ix-<hex>/part-*.parquet; keep the
                # whole run directory while any kept manifest references it
                index_referenced.add(e["path"].split("/")[1])
        removed = 0
        kid = os.path.join(table.data_path, keyindex.KEYINDEX_DIR)
        if table.data_fs.isdir(kid):
            for run in table.data_fs.listdir(kid):
                if run not in index_referenced:
                    table.data_fs.rmtree(os.path.join(kid, run))
                    removed += 1
        for sub in (DATA_DIR, DELETE_DIR):
            d = os.path.join(table.data_path, sub)
            if not table.data_fs.isdir(d):
                continue
            for name in table.data_fs.listdir(d):
                rel = f"{sub}/{name}"
                if rel not in referenced:
                    table.data_fs.unlink(os.path.join(d, name))
                    removed += 1
        # stale write-temp dirs: _adopt_tmp_files cleans its own dir in a
        # finally, but a hard-killed process leaves `_tmp-*` behind and
        # they live OUTSIDE the data/delete sweeps above. Single-writer
        # model + the lock + the maintenance guard mean nobody is writing
        # one right now, so any that exist are orphans.
        if table.data_fs.isdir(table.data_path):
            for name in table.data_fs.listdir(table.data_path):
                if name.startswith("_tmp-"):
                    table.data_fs.rmtree(os.path.join(table.data_path, name))
                    removed += 1
        for v in versions:
            if v not in keep:
                table.fs.unlink(
                    os.path.join(table.store.manifest_dir, f"v{v:012d}.json")
                )
        return removed
