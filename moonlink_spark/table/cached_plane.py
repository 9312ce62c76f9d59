"""Data plane over the object-store seam, served through per-executor caches.

Parity: this is the reference's actual cache consumption model — data
files live in object storage and queries read them through each node's
local read-through cache (``object_storage_cache.rs`` consumed by the
read paths, e.g. ``snapshot_cache_utils.rs``, ``index/cache_utils.rs``).
The split-warehouse mode (``table.py``: control plane on the store, data
on a Spark-addressable path) covers deployments with cluster connectors;
THIS module covers the other shape: **parquet bytes in the store, no
connector**, localized on demand.

Spark-first shape: the scan is a ``mapInArrow`` over a one-row-per-file
DataFrame — each task localizes its files through a **process-local**
``ObjectStorageCache`` singleton (one per executor Python worker, exactly
the reference's per-node cache) and yields Arrow batches read with
pyarrow. Deletion vectors are applied with the same
``(__fp, __ri)`` anti-join as ``MoonlinkTable._read_manifest``; row
indexes are attached at read time (pyarrow reads are in file order, so
``__ri`` equals ``_metadata.row_index``).

Scale: file localization parallelism == file count (capped by cluster
cores); each executor's cache holds only the files its tasks touched,
bounded by ``max_bytes`` with LRU eviction; a cache miss or no-fit
degrades to a streamed remote read, never a failure. Message bytes never
pass through the driver — the driver ships (store_path, rel_path) pairs.
"""

from __future__ import annotations

import os
import tempfile
import threading
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from moonlink_spark.table.objcache import ObjectStorageCache

# one cache per (executor process, cache_dir) — the reference's per-node
# cache re-expressed for Spark's python-worker process model
_PROCESS_CACHES: dict[str, ObjectStorageCache] = {}
_PC_LOCK = threading.Lock()


def process_cache(cache_dir: str, max_bytes: int) -> ObjectStorageCache:
    with _PC_LOCK:
        c = _PROCESS_CACHES.get(cache_dir)
        if c is None:
            c = ObjectStorageCache(max_bytes, cache_dir)
            _PROCESS_CACHES[cache_dir] = c
        elif c.max_bytes != int(max_bytes):
            # one dir = one budget: silently inheriting whichever budget
            # arrived first either overruns scratch disk (small-budget
            # plane on a big cache) or turns every read into a remote
            # miss; two separate caches over ONE dir would corrupt each
            # other's evictions. Fail loud. (review r10)
            raise ValueError(
                f"cache dir {cache_dir!r} already initialized with "
                f"max_bytes={c.max_bytes}, requested {int(max_bytes)} — "
                f"use a distinct cache_dir per budget"
            )
        return c


def _read_file_cached(
    store_path: str, accessor: Any, cache: ObjectStorageCache
):
    """Localize one store object through the cache and read it with
    pyarrow. Returns (pa.Table, cleanup_fn). A no-fit (cache budget
    exhausted by pinned entries) streams to a task-temp file instead —
    degraded, never wrong."""
    import pyarrow.parquet as pq

    handle, freed = cache.get(store_path, store_path, accessor)
    for p in freed:
        try:
            os.unlink(p)
        except OSError:
            pass
    if handle is not None:
        try:
            tbl = pq.read_table(handle.cache_filepath)
            return tbl, handle.unreference
        except (FileNotFoundError, OSError):
            # a sibling process sharing the cache directory evicted the
            # content-addressed file between our pin and the read: fall
            # through to the direct remote stream — degraded, never wrong
            handle.unreference()
    fd, tmp = tempfile.mkstemp(suffix=".parquet")
    try:
        with os.fdopen(fd, "wb") as out, accessor.open_read_binary(
            store_path
        ) as src:
            while True:
                chunk = src.read(1 << 20)
                if not chunk:
                    break
                out.write(chunk)
        tbl = pq.read_table(tmp)
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass
    return tbl, lambda: []


class CachedDataPlane:
    """Push a table's files into an object store and scan them back
    distributively through per-executor caches.

    ``accessor_factory`` must be picklable (it is shipped to executor
    tasks); each task calls it to get its own accessor — e.g.
    ``lambda: S3HttpFS(endpoint, access_key=..., secret_key=...)``."""

    def __init__(
        self,
        accessor_factory: Callable[[], Any],
        store_root: str,
        cache_dir: str,
        max_bytes: int = 4 << 30,
    ):
        self.accessor_factory = accessor_factory
        self.store_root = store_root.rstrip("/")
        self.cache_dir = cache_dir
        self.max_bytes = int(max_bytes)

    # -- write side -----------------------------------------------------------

    def push(self, t: Any, lsn: int | None = None) -> int:
        """Upload the pinned manifest's live data + delete files into the
        store under their table-relative names. Prefers the accessor's
        streamed ``upload_file`` (multipart/resumable above threshold,
        one chunk in memory at a time), falling back to ``write_bytes``
        then ``copyfile``. Content-immutable files under unique names:
        re-push of an already-present path is skipped (idempotent)."""
        import os as _os
        import uuid as _uuid

        m = t._resolve_manifest(lsn, None)
        fs = self.accessor_factory()
        n = 0
        for f in list(m.data_files) + list(m.delete_files):
            dst = f"{self.store_root}/{f.path}"
            local = t._resolve(f.path)
            if fs.exists(dst):
                # skip-if-exists is only safe when the object is WHOLE: a
                # crash mid-copy on a non-atomic path leaves a truncated
                # object that would otherwise be enshrined forever and
                # fail every scan (review r10) — verify the size
                try:
                    if fs.getsize(dst) == _os.path.getsize(local):
                        continue
                except OSError:
                    pass  # can't verify: re-upload (idempotent content)
            if hasattr(fs, "upload_file"):
                # streamed (multipart/resumable above threshold): one
                # chunk in memory at a time regardless of file size;
                # multipart/resumable uploads materialize atomically on
                # completion
                fs.upload_file(local, dst)
            elif hasattr(fs, "write_bytes"):
                # single PUT: atomic on object stores
                with open(local, "rb") as fh:
                    fs.write_bytes(dst, fh.read())
            else:
                # plain-FS fallback: stage + rename so a reader can never
                # observe a half-copied file at the final name
                tmp = f"{dst}.tmp-{_uuid.uuid4().hex}"
                fs.copyfile(local, tmp)
                fs.rename(tmp, dst)
            n += 1
        return n

    # -- read side --------------------------------------------------------------

    def _read_files(
        self,
        spark: SparkSession,
        files: list[tuple[str, str]],
        schema: T.StructType,
        attach_pos: bool,
    ) -> DataFrame:
        """Distributed cached read of (store_path, rel_path) parquet files
        into ``schema`` (+ ``__fp``/``__ri`` when ``attach_pos``)."""
        out_schema = T.StructType(list(schema.fields))
        if attach_pos:
            out_schema = out_schema.add("__fp", T.StringType()).add(
                "__ri", T.LongType()
            )
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(out_schema)
        names = schema.fieldNames()
        factory = self.accessor_factory
        cache_dir, max_bytes = self.cache_dir, self.max_bytes

        def gen(batches):
            import pyarrow as pa

            accessor = factory()
            cache = process_cache(cache_dir, max_bytes)
            for b in batches:
                pairs = zip(
                    b.column("store_path").to_pylist(),
                    b.column("rel").to_pylist(),
                )
                for store_path, rel in pairs:
                    tbl, cleanup = _read_file_cached(
                        store_path, accessor, cache
                    )
                    try:
                        # schema evolution: files written before an
                        # ALTER lack the newer columns — read them as
                        # nulls, exactly like the table's own scan
                        missing = [n for n in names if n not in tbl.column_names]
                        for col in missing:
                            tbl = tbl.append_column(
                                col, pa.nulls(tbl.num_rows)
                            )
                        tbl = tbl.select(names)
                        if attach_pos:
                            nrows = tbl.num_rows
                            tbl = tbl.append_column(
                                "__fp",
                                pa.array([rel] * nrows, pa.string()),
                            ).append_column(
                                "__ri",
                                pa.array(range(nrows), pa.int64()),
                            )
                        yield from tbl.cast(target).to_batches(
                            max_chunksize=1 << 16
                        )
                    finally:
                        for p in cleanup() or []:
                            try:
                                os.unlink(p)
                            except OSError:
                                pass

        files_df = spark.createDataFrame(
            files, "store_path string, rel string"
        )
        npart = max(1, min(len(files), spark.sparkContext.defaultParallelism))
        return files_df.repartition(npart, "rel").mapInArrow(gen, out_schema)

    def scan(
        self, spark: SparkSession, t: Any, lsn: int | None = None
    ) -> DataFrame:
        """Scan the pushed table at (optionally) a pinned LSN: distributed
        cached reads + the standard DV anti-join on (file, row)."""
        from moonlink_spark.schema import field_schema_to_struct

        m = t._resolve_manifest(lsn, None)
        schema = field_schema_to_struct(m.schema_fields)
        if not m.data_files:
            return spark.createDataFrame([], schema)
        need_pos = bool(m.delete_files)
        df = self._read_files(
            spark,
            [(f"{self.store_root}/{f.path}", f.path) for f in m.data_files],
            schema,
            attach_pos=need_pos,
        )
        if m.delete_files:
            from moonlink_spark.table.table import DV_BROADCAST_MAX_ROWS, DV_SCHEMA

            dv = self._read_files(
                spark,
                [
                    (f"{self.store_root}/{f.path}", f.path)
                    for f in m.delete_files
                ],
                T.StructType.fromDDL(DV_SCHEMA),
                attach_pos=False,
            ).select(
                # DVs store manifest paths, the same ``rel`` each data
                # file's rows carry as __fp
                F.col("file_path").alias("__fp"),
                F.col("row_index").alias("__ri"),
            )
            if m.deleted_rows <= DV_BROADCAST_MAX_ROWS:
                dv = F.broadcast(dv)
            df = df.join(dv, ["__fp", "__ri"], "left_anti").drop(
                "__fp", "__ri"
            )
        return df
