"""Persisted key hash index: exact delete/point-lookup file targeting.

Spark-first re-expression of the reference's persisted bucketed hash index
(``src/moonlink/src/storage/index/persisted_bucket_hash_map.rs``): the
reference builds, per flushed data file, an mmap-backed bucket array mapping
``splitmix64(key) -> (seg_idx, row_idx)`` (build ``:486-523``, lookup
``search_values`` ``:276-302``, merge ``build_from_merge`` ``:525-574``), and
persists it into Iceberg as ``mooncake-hash-index-v1`` Puffin blobs
(``storage/table/iceberg/index.rs:20-22``).

Here the same roles map onto Spark-native machinery:

- **hash function** -> ``F.xxhash64(*key_cols)`` (JVM-side, vectorized,
  whole-stage codegen; stable across sessions). Recorded in the manifest as
  ``algo`` so readers never mix hash functions.
- **index block file** -> a parquet file of ``(h, __fp, __ri)`` sorted by
  ``h``, written in row groups of at most ``INDEX_ROW_GROUP_ROWS`` rows.
  Sorting makes each row group's ``h`` min/max a bucket directory entry:
  the reference's ``bucket_start_offset`` seek becomes "read only the row
  groups whose range can hold a probe hash".
- **index build** -> one distributed Spark job over exactly the newly
  flushed files (O(new data), never O(table)).
- **index merge** -> ``optimize(mode="index")`` unions live index files,
  drops entries for compacted-away data files, rewrites one sorted file.
- **lookup** -> :func:`lookup_hashes`, the one probe routine for both this
  index and the blobs of an exported Iceberg table. The key batch is
  collected once into a ``LocalRelation`` (:func:`local_keys`) and hashed
  there (the optimizer folds the hash, so no job runs). Below
  ``DISTRIBUTED_THRESHOLD`` distinct hashes, pyarrow on the driver reads
  only the row groups whose ``h`` min/max can hold a probe and filters
  them with ``is_in``; larger batches join the index through Spark. The
  result is the exact set of positions ``(__fp, __ri)`` of those keys.
- **point read** -> :func:`resolve_positions` reads those positions on
  the driver below the same threshold; delete targeting and larger
  batches scan ONLY the files holding one (:func:`candidate_files`).

Scale story (100 TB): the index is ~16 bytes/row of parquet — three orders
of magnitude smaller than the data. A point lookup of K keys on the driver
leg reads at most K row groups (K x ``INDEX_ROW_GROUP_ROWS`` index rows)
plus the footers of the live index files, then at most one data row
group per matching row and the DV rows of the files it touches. That is
the asymptotic shape of the reference's hash lookup; SCALE.md §17 and §18
have the bounds.
"""

from __future__ import annotations

import os
import uuid
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from moonlink_spark.schema import field_schema_to_struct
from moonlink_spark.session import local_frame
from moonlink_spark.table.manifest import FileEntry, Manifest

if TYPE_CHECKING:  # pragma: no cover
    from moonlink_spark.table.table import MoonlinkTable

KEYINDEX_DIR = "keyindex"
KEY_INDEX_PROP = "key_index"
# Hash algo tag recorded in the manifest; bump if the hash ever changes.
XXHASH64_ALGO = "spark-xxhash64-seed42"
# Rows per output index file (keeps one file per ~8M keys; parquet row
# groups inside remain the bucket granularity).
INDEX_FILE_ROWS = 8_000_000
# Rows per index-file row group: the bucket size of the driver probe,
# which reads every row group whose h min/max holds a probe hash.
INDEX_ROW_GROUP_ROWS = 16_384
# Probe batches with at least this many distinct hashes join the index
# blocks through Spark instead of reading row groups on the driver.
DISTRIBUTED_THRESHOLD = 512


def enabled(m: Manifest) -> bool:
    return isinstance(m.properties.get(KEY_INDEX_PROP), dict)


def index_entries(m: Manifest) -> list[dict[str, Any]]:
    cfg = m.properties.get(KEY_INDEX_PROP) or {}
    return list(cfg.get("entries", []))


def _key_hash(key_cols: list[str]):
    return F.xxhash64(*[F.col(c) for c in key_cols]).alias("h")


def _index_rows(
    table: "MoonlinkTable", files: list[FileEntry], key_cols: list[str]
) -> DataFrame:
    """``(h, __fp, __ri)`` for every row of the data ``files``: ``__fp``
    is the manifest path, looked up from ``_metadata.file_path`` in the
    read's :func:`~moonlink_spark.table.table.file_uris`."""
    from moonlink_spark.table.table import file_uris, path_lookup

    paths = {table._resolve(f.path): f.path for f in files}
    df = table.spark.read.schema(table.schema).parquet(*paths)
    return df.select(
        _key_hash(key_cols),
        path_lookup(file_uris(df, paths), F.col("_metadata.file_path")).alias("__fp"),
        F.col("_metadata.row_index").alias("__ri"),
    )


def _write_index(
    table: "MoonlinkTable", df: DataFrame, total_rows: int, covers: list[str]
) -> list[dict[str, Any]]:
    """Write ``df`` as hash-sorted index files (one per ``INDEX_FILE_ROWS``
    rows, row groups of ``INDEX_ROW_GROUP_ROWS``) -> their entries."""
    n_out = max(1, -(-total_rows // INDEX_FILE_ROWS))
    if n_out == 1:
        df = df.coalesce(1).sortWithinPartitions("h")
    else:
        # range partitioning on h => disjoint per-file hash ranges; file and
        # row-group stats both prune at lookup time
        df = df.repartitionByRange(n_out, "h").sortWithinPartitions("h")
    rel_dir = f"{KEYINDEX_DIR}/ix-{uuid.uuid4().hex}"
    out_dir = os.path.join(table.data_path, rel_dir)
    df.write.mode("overwrite").option(
        "parquet.block.row.count.limit", INDEX_ROW_GROUP_ROWS
    ).parquet(out_dir)
    return [
        {
            "path": f"{rel_dir}/{name}",
            "covers": covers,
            # per-FILE row count from its own footer: stamping the
            # batch total on every entry inflated exported blob
            # cardinality n_out-fold (review r10)
            "rows": _entry_rows(table, f"{rel_dir}/{name}"),
        }
        for name in sorted(table.data_fs.listdir(out_dir))
        if name.endswith(".parquet")
    ]


def build_entries(
    table: "MoonlinkTable",
    files: list[FileEntry],
    key_cols: list[str],
) -> list[dict[str, Any]]:
    """Build index entries covering ``files`` (parity
    ``GlobalIndexBuilder::build_from_flush``): one Spark job reading only the
    new files, output sorted-by-hash parquet under ``keyindex/``."""
    if not files:
        return []
    return _write_index(
        table,
        _index_rows(table, files, key_cols),
        sum(f.rows for f in files),
        [f.path for f in files],
    )


def _entry_rows(table: "MoonlinkTable", rel: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(table._resolve(rel)).metadata.num_rows


def live_entries(m: Manifest) -> tuple[list[dict[str, Any]], set[str]]:
    """-> (index entries still useful, set of live data paths they cover).

    An entry whose covered files were all compacted away is dead weight and
    dropped from the returned list; partially-live entries stay (their stale
    rows are filtered at lookup by the live-file join)."""
    live_paths = {f.path for f in m.data_files}
    out: list[dict[str, Any]] = []
    covered: set[str] = set()
    for e in index_entries(m):
        alive = live_paths.intersection(e.get("covers", []))
        if alive:
            out.append(e)
            covered.update(alive)
    return out, covered


def key_schema(m: Manifest, key_cols: list[str]) -> T.StructType:
    """The table's key columns and types, nullable (a probe key may be
    null; it then matches nothing)."""
    schema = field_schema_to_struct(m.schema_fields)
    return T.StructType([T.StructField(c, schema[c].dataType) for c in key_cols])


def local_keys(
    spark: SparkSession, m: Manifest, keys_df: DataFrame, key_cols: list[str]
) -> DataFrame:
    """The caller's key batch as a ``LocalRelation``: collected ONCE, cast
    to the table's key types and de-duplicated on the driver. Lookups
    hash it and semi-join against it without re-running the caller's
    plan (a list-built ``keys_df`` costs a Python-worker job each time
    it is evaluated)."""
    schema = key_schema(m, key_cols)
    rows = keys_df.select(
        *[F.col(f.name).cast(f.dataType) for f in schema.fields]
    ).collect()
    return local_frame(spark, list(dict.fromkeys(map(tuple, rows))), schema)


def lookup_hashes(
    blocks: list[str],
    hashes: list[int],
    spark: SparkSession | None = None,
    distributed_threshold: int = DISTRIBUTED_THRESHOLD,
) -> list[tuple[str, int]]:
    """The key-index probe (parity ``search_values``,
    persisted_bucket_hash_map.rs:276-302): -> ``(__fp, __ri)`` of every
    row of the index ``blocks`` whose ``h`` is one of ``hashes``.

    Blocks are sorted by ``h``, so a row group whose footer min/max
    excludes every probe holds none of them. On the driver leg pyarrow
    reads only the row groups that can hold a probe and filters them
    with ``is_in``: O(row groups touched), no Spark job. When ``spark``
    is given and there are at least ``distributed_threshold`` distinct
    hashes, the blocks are joined against the broadcast hashes through
    Spark instead, so a large batch never reads through one process."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from moonlink_spark.table.segments import row_groups_holding

    probes = sorted({int(h) for h in hashes})
    if not blocks or not probes:
        return []
    if spark is not None and len(probes) >= distributed_threshold:
        return _index_lookup_spark(spark, blocks, probes)

    value_set = pa.array(probes, pa.int64())
    hits: list[tuple[str, int]] = []
    for block in blocks:
        # __fp stays dictionary-encoded: one path per data file, not per row
        pf = pq.ParquetFile(block, read_dictionary=["__fp"])
        groups = row_groups_holding(pf, "h", probes)
        if not groups:
            continue
        tbl = pf.read_row_groups(groups, columns=["h", "__fp", "__ri"])
        tbl = tbl.filter(pc.is_in(tbl.column("h"), value_set=value_set))
        hits.extend(
            zip(tbl.column("__fp").to_pylist(), tbl.column("__ri").to_pylist())
        )
    return hits


def _index_lookup_spark(
    spark: SparkSession, blocks: list[str], probes: list[int]
) -> list[tuple[str, int]]:
    """Distributed leg of :func:`lookup_hashes` over sorted distinct
    ``probes``: the ``h BETWEEN`` range predicate is pushed to the parquet
    scan so row groups outside the probe span are skipped from their
    stats, the probe hashes are broadcast, and only the O(hits) result
    returns to the driver."""
    probe_df = local_frame(spark, [(h,) for h in probes], "h bigint")
    if len(probes) <= 1_000_000:
        probe_df = F.broadcast(probe_df)  # beyond ~1M hashes, let AQE pick
    hits = (
        spark.read.parquet(*blocks)
        .where(F.col("h").between(probes[0], probes[-1]))
        .join(probe_df, "h")
        .select("__fp", "__ri")
        .collect()
    )
    return [(r["__fp"], int(r["__ri"])) for r in hits]


def candidate_files(
    table: "MoonlinkTable",
    m: Manifest,
    keys_df: DataFrame,
    key_cols: list[str],
    extra_files: list[FileEntry] | None = None,
) -> tuple[list[str], list[FileEntry]] | None:
    """Index lookup (parity ``GlobalIndex::search_values``): exact set of
    data files containing any of the keys.

    Returns ``(matching_covered_paths, uncovered_files)`` or ``None`` when
    the manifest has no index. ``uncovered_files`` (same-commit flushes and
    files whose index was invalidated by compaction) must still be scanned;
    correctness never depends on coverage. Pass ``keys_df`` through
    :func:`local_keys` first: hashing a ``LocalRelation`` runs no job."""
    if not enabled(m):
        return None
    entries, covered = live_entries(m)
    all_files = list(m.data_files) + list(extra_files or [])
    uncovered = [f for f in all_files if f.path not in covered]
    if not entries:
        return [], uncovered
    # hash over the TABLE's key types: xxhash64 is width-sensitive, so an
    # int-typed lookup against a bigint key column would silently miss
    # without the cast (the verify join would coerce, but the candidate
    # set would already have dropped the file)
    schema = field_schema_to_struct(m.schema_fields)
    hashes = keys_df.select(
        F.xxhash64(*[F.col(c).cast(schema[c].dataType) for c in key_cols])
    ).collect()
    hits = lookup_hashes(
        [table._resolve(e["path"]) for e in entries],
        [r[0] for r in hashes],
        spark=table.spark,
    )
    live_paths = {f.path for f in all_files}
    matching = sorted({fp for fp, _ in hits} & live_paths)
    return matching, uncovered


def resolve_positions(
    table: "MoonlinkTable", m: Manifest, keys_df: DataFrame, key_cols: list[str]
):
    """Point resolution on the driver (parity ``search_values`` ->
    ``(seg_idx, row_idx)``, persisted_bucket_hash_map.rs:276-302) for a
    :func:`local_keys` relation -> ``(rows, uncovered)``: the live rows
    of ``m`` holding a key (Arrow: the table's schema plus ``__fp`` and
    ``__ri``) and the data files the index does not cover, which the
    caller must scan. ``None`` without an index or at
    ``DISTRIBUTED_THRESHOLD`` distinct hashes or more: the caller then
    takes the Spark semi-join.

    Positions outside live covered files or in a live DV of ``m`` (so
    ``lsn=`` reads stay exact) are dropped, only the row groups holding
    the rest are read, and a row is kept only if its key equals a probe
    key, which rejects hash collisions. Null probe keys match nothing."""
    if not enabled(m):
        return None
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from moonlink_spark.session import arrow_rows
    from moonlink_spark.table.table import dv_positions, read_positions

    probes = [
        r
        for r in keys_df.select(_key_hash(key_cols), *key_cols).collect()
        if None not in r[1:]
    ]
    if len({r[0] for r in probes}) >= DISTRIBUTED_THRESHOLD:
        return None
    entries, covered = live_entries(m)
    positions: dict[str, set[int]] = {}
    for fp, ri in lookup_hashes(
        [table._resolve(e["path"]) for e in entries], [r[0] for r in probes]
    ):
        if fp in covered:
            positions.setdefault(fp, set()).add(int(ri))
    dead = dv_positions(table.data_path, m.delete_files, only=positions)
    for fp, pos in dead.items():
        positions[fp].difference_update(pos)
    probe_keys = arrow_rows([r[1:] for r in probes], key_schema(m, key_cols))
    wanted = set(zip(*(c.to_pylist() for c in probe_keys.columns)))
    schema = to_arrow_schema(field_schema_to_struct(m.schema_fields))
    parts = [
        schema.append(pa.field("__fp", pa.string()))
        .append(pa.field("__ri", pa.int64()))
        .empty_table()
    ]
    for fp, pos in sorted(positions.items()):
        if not pos:
            continue
        pos = sorted(pos)
        tbl = read_positions(table._resolve(fp), pos, schema)
        keys = zip(*(tbl.column(c).to_pylist() for c in key_cols))
        keep = pa.array([k in wanted for k in keys], pa.bool_())
        tbl = tbl.append_column("__fp", pa.array([fp] * len(pos), pa.string()))
        tbl = tbl.append_column("__ri", pa.array(pos, pa.int64()))
        parts.append(tbl.filter(keep))
    uncovered = [f for f in m.data_files if f.path not in covered]
    return pa.concat_tables(parts), uncovered


def merge_index(table: "MoonlinkTable") -> bool:
    """Index maintenance (parity ``build_from_merge`` + the index-merge
    trigger, ``index_merge_config.rs``): union live index files, drop rows
    for dead data files, index any uncovered live files, rewrite as one
    sorted run. Returns False when the table has no index."""
    base = table.manifest
    if not enabled(base):
        return False
    from moonlink_spark.table.identity import IdentityProp

    ident = IdentityProp.from_json(base.identity)
    if ident.mode not in ("single", "keys"):
        return False
    key_cols = list(ident.columns)
    entries, covered = live_entries(base)
    live_paths = sorted(f.path for f in base.data_files)
    uncovered = [f for f in base.data_files if f.path not in covered]

    parts: list[DataFrame] = []
    if entries:
        idx = table.spark.read.parquet(
            *[table._resolve(e["path"]) for e in entries]
        )
        # semi-join against a BROADCAST path list: isin() with one
        # literal per live file blows the Catalyst expression tree up at
        # the file counts this module advertises (1e5-1e6 live files)
        live_df = local_frame(
            table.spark, [(p,) for p in live_paths], "__fp string"
        )
        parts.append(
            idx.join(F.broadcast(live_df), "__fp", "left_semi").select(
                "h", "__fp", "__ri"
            )
        )
    if uncovered:
        parts.append(_index_rows(table, uncovered, key_cols))
    new_entries: list[dict[str, Any]] = []
    if parts:
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        new_entries = _write_index(
            table, df, sum(f.rows for f in base.data_files), live_paths
        )
    cfg = dict(base.properties.get(KEY_INDEX_PROP) or {})
    cfg["entries"] = new_entries
    m = Manifest(
        version=base.version + 1,
        lsn=base.lsn,
        schema_fields=base.schema_fields,
        identity=base.identity,
        data_files=base.data_files,
        delete_files=base.delete_files,
        parent=base.version,
        operation="index-merge",
        properties={**base.properties, KEY_INDEX_PROP: cfg},
    )
    table.store.commit(m, allow_equal_lsn=True)
    return True
