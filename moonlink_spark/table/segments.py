"""Shared segment-store primitives for the persisted indexes
(``sigindex.py`` — MinHash signatures; ``vecindex.py`` — IVF inverted
lists).

The durability protocol (parity with ``ManifestStore``'s single-winner
commits and the reference's index-segment lifecycle,
``persisted_bucket_hash_map.rs:486-574``):

- every segment is ONE immutable parquet file written via a tmp dir +
  ``os.replace`` (atomic on POSIX);
- the index meta JSON (itself atomically replaced) carries the list of
  LIVE segment file names; readers resolve through the meta, so a
  segment only becomes visible when the meta naming it lands;
- compaction writes the merged segment FIRST, then atomically publishes
  a meta listing only the merged file, then unlinks the old files. A
  crash between publish and unlink leaves unreferenced stragglers that
  readers simply never see — never duplicate rows
  (the flaw in the pre-r4s4 replace-then-unlink order, where a crash
  mid-unlink left merged + originals simultaneously visible).
"""

from __future__ import annotations

import contextlib
import fcntl
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

# Rows per row group of a sorted segment: the unit a driver-side reader
# reads at a time.
SEGMENT_ROW_GROUP_ROWS = 32_768


@contextlib.contextmanager
def index_write_lock(dest: str, timeout_s: float = 600.0):
    """Single-writer mutual exclusion for one index directory.

    The CDC loop's incremental updates, the maintenance ticker's
    compaction, and full rebuilds all mutate the same meta; the meta
    write is a plain atomic replace (no compare-and-swap), so two
    concurrent writers could silently drop each other's just-published
    segments (the classic lost update). This lock serializes them on one
    host with ``flock`` on a ``.write-lock`` file. Each acquisition opens
    its own descriptor, so threads of one process exclude each other
    too, and the kernel drops the lock when its holder dies: there is no
    stale lock to detect or steal. The file is never unlinked (a waiter
    could otherwise lock an orphaned inode while a newcomer locks a fresh
    file). Cross-host deployments need a store-level CAS instead (the
    object-store seam's ``publish_exclusive``)."""
    os.makedirs(dest, exist_ok=True)
    fd = os.open(os.path.join(dest, ".write-lock"), os.O_CREAT | os.O_RDWR)
    try:
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except BlockingIOError:
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"index write lock in {dest} held too long"
                    ) from None
                time.sleep(0.05)
        yield
    finally:
        os.close(fd)  # closing the descriptor releases the lock


def maybe_write_lock(dest: str, already_locked: bool):
    """The lock, or a no-op when the caller already holds it (rebuild
    flows lock once around scan-capture + build)."""
    return (
        contextlib.nullcontext()
        if already_locked
        else index_write_lock(dest)
    )


def write_single_parquet(
    df: DataFrame, dest: str, prefix: str, sort_by: tuple[str, ...] = ()
) -> str:
    """Persist ``df`` as one parquet segment file; returns the file NAME
    (not path). The file is invisible to meta-resolved readers until the
    caller publishes a meta that lists it. With ``sort_by`` the rows are
    sorted by those columns in row groups of at most
    ``SEGMENT_ROW_GROUP_ROWS``, so footer min/max of the first column
    bound a reader's row groups (:func:`row_groups_holding`)."""
    tmp = os.path.join(dest, f"_tmp-{uuid.uuid4().hex}")
    # repartition(1), NOT coalesce(1): coalesce propagates the 1-partition
    # constraint UP through every narrow op, so the whole upstream compute
    # (MinHash signatures, IVF/PQ assignment kernels) ran in one task; the
    # repartition shuffle barrier keeps the compute at full parallelism
    # and only the final write of the (small) index rows is single-task
    # (r12; sigindex build at sf0.1 measured 4.3s -> ~1.4s)
    df = df.repartition(1)
    writer = df.write
    if sort_by:
        writer = df.sortWithinPartitions(*sort_by).write.option(
            "parquet.block.row.count.limit", SEGMENT_ROW_GROUP_ROWS
        )
    writer.mode("overwrite").parquet(tmp)
    part = [n for n in os.listdir(tmp) if n.endswith(".parquet")]
    assert len(part) == 1
    name = f"{prefix}-{uuid.uuid4().hex}.parquet"
    os.replace(os.path.join(tmp, part[0]), os.path.join(dest, name))
    shutil.rmtree(tmp, ignore_errors=True)
    return name


def live_segment_paths(dest: str, meta: dict, prefix: str) -> list[str]:
    """Paths of the segments a reader may see: the meta's ``segments``
    list (crash-consistent; none without a meta)."""
    return [os.path.join(dest, n) for n in meta.get("segments") or []]


def row_groups_holding(pf, column: str, values: list[int]) -> list[int]:
    """The row groups of the ``pq.ParquetFile`` ``pf`` whose footer
    min/max of the int64 ``column`` can hold one of the sorted
    ``values`` (every row group without statistics)."""
    import bisect

    md = pf.metadata
    leaf = [md.schema.column(i).path for i in range(md.num_columns)].index(column)
    groups = []
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(leaf).statistics
        if st is not None and st.has_min_max:
            i = bisect.bisect_left(values, st.min)
            if i == len(values) or values[i] > st.max:
                continue
        groups.append(g)
    return groups


def read_segments(
    spark: SparkSession, dest: str, meta: dict, prefix: str
) -> DataFrame:
    """The live segments as one DataFrame. Their schema comes from the
    first segment's footer, read on the driver: left to Spark, schema
    inference reads that footer in a job on every read."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    paths = live_segment_paths(dest, meta, prefix)
    reader = spark.read
    if paths:
        reader = reader.schema(from_arrow_schema(pq.read_schema(paths[0])))
    return reader.parquet(*paths)


def compact_segments(
    spark: SparkSession,
    dest: str,
    meta: dict,
    prefix: str,
    publish_meta,
    read_meta=None,
    sort_by: tuple[str, ...] = (),
) -> int:
    """Merge all live segments into one. ``publish_meta(meta)`` must
    atomically persist the given meta dict; it is called AFTER the merged
    segment exists, with ``segments`` set to the merged file (plus any
    segment a concurrent updater published meanwhile — see below).
    Returns the number of files replaced (0 if nothing to do).
    Stragglers from earlier crashes (written but never meta-referenced)
    are left on disk — readers never see them, and deleting them here
    could race a concurrent updater's just-written, not-yet-published
    segment.

    ``read_meta()`` (no-arg callable returning the current on-disk meta)
    re-reads at the commit point so segments a concurrent ``update_index``
    published between our read and our publish survive in the final list
    instead of being silently dropped. Without it the caller accepts a
    single-writer requirement on the index directory. The merged segment
    is written with ``sort_by`` (see :func:`write_single_parquet`)."""
    live = meta["segments"]
    if len(live) <= 1:
        return 0
    merged_df = spark.read.parquet(
        *[os.path.join(dest, n) for n in live]
    )
    merged = write_single_parquet(merged_df, dest, prefix, sort_by)
    old = list(live)
    final = meta
    concurrent: list[str] = []
    if read_meta is not None:
        try:
            current = read_meta()
        except FileNotFoundError:
            current = meta
        # keep any segment (and meta fields, e.g. a bumped generation) a
        # concurrent updater published after our initial read
        concurrent = [
            n for n in current.get("segments", []) if n not in old
        ]
        final = current
    final["segments"] = [merged] + concurrent
    publish_meta(final)  # the commit point: old segments are now dead
    for n in old:
        try:
            os.unlink(os.path.join(dest, n))
        except FileNotFoundError:
            pass
    return len(old)
