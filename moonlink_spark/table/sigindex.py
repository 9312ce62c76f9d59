"""Persisted MinHash signature index: build once, update incrementally,
query for near-dup candidates without recomputing signatures.

Reference parity for the index lifecycle (SURVEY.md §2a #12-14): the
reference builds a persisted bucket hash index on flush
(``persisted_bucket_hash_map.rs:486-523``), looks rows up through it, and
merges small index files (``build_from_merge``, ``:525-574``). The
Spark-native analog for the DEDUP workload: per-document MinHash
signatures are expensive (one md5 per shingle) and immutable for
unchanged text, so they persist as parquet next to the corpus —
- **build**: one pass over the corpus writes ``sig-*.parquet`` + meta;
- **update**: signatures for NEW documents only append another file —
  O(new docs), old files untouched (the reference's index-merge shape:
  many small segment files serve together);
- **compact**: optional rewrite of many small signature files into one
  (``build_from_merge`` parity);
- **query**: the banded-LSH candidate join reads persisted signatures —
  zero signature recompute at query time.

Signature arithmetic is EXACTLY dedup.py's oracle-checked family (same
md5 prefix, same integer mixes), so candidates from the index match the
from-scratch computation bit for bit.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moonlink_spark.operators.dedup import N_BANDS, N_HASHES, _spark_signature

META_FILE = "sigindex.json"


def _write_meta(dest: str, meta: dict[str, Any]) -> None:
    tmp = os.path.join(dest, META_FILE + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=1)
    os.replace(tmp, os.path.join(dest, META_FILE))


def read_meta(dest: str) -> dict[str, Any]:
    with open(os.path.join(dest, META_FILE)) as fh:
        return json.load(fh)


SEG_PREFIX = "sig"


def _sig_files(dest: str) -> list[str]:
    """Paths of the LIVE signature segments (meta-resolved; none before
    the first build)."""
    from moonlink_spark.table import segments as segstore

    try:
        meta = read_meta(dest)
    except FileNotFoundError:
        meta = {}
    return segstore.live_segment_paths(dest, meta, SEG_PREFIX)


def _write_signatures(df: DataFrame, dest: str) -> str:
    """One signature parquet segment from a (doc_id, text) DataFrame
    (invisible until a meta lists it). Returns the segment name."""
    from moonlink_spark.operators import ensure_parallelism
    from moonlink_spark.table import segments as segstore

    # parallelism floor before the md5-heavy signature map (no-op once
    # the input already carries >= default-parallelism partitions)
    return segstore.write_single_parquet(
        _spark_signature(ensure_parallelism(df)), dest, SEG_PREFIX
    )


def build_index(
    docs: DataFrame,
    dest: str,
    meta_update: dict[str, Any] | None = None,
    _locked: bool = False,
) -> dict[str, Any]:
    """Create the index from a (doc_id, text) corpus. All index mutators
    serialize on a per-directory write lock (segments.index_write_lock):
    the meta publish is a plain atomic replace, so concurrent writers
    would otherwise drop each other's segments.

    ``meta_update`` carries caller-owned fields into the same atomic
    meta write (the CDC watermark, or ``as_of_lsn`` — the table LSN
    whose rows this build covers, which Iceberg export uses to refuse
    shipping index state newer than a pinned-LSN data snapshot).

    A REBUILD over an existing index (stale -> retrain, the documented
    response to updates/deletes) unlinks the superseded segments AFTER
    the atomic meta publish — same order as compaction; without it
    every retrain leaked the previous index's full size on disk
    (found by the r12 day-in-the-life soak). Readers share compaction's
    contract: a lazy DataFrame that resolved the OLD meta and executes
    after the rebuild can hit the unlinked files — re-resolve (call the
    read helper again) on FileNotFoundError, exactly as for a racing
    compact_index.

    ``_locked=True`` skips re-acquiring the write lock when the caller
    (backend rebuild) already holds it around scan-capture + build."""
    from moonlink_spark.table import segments as segstore

    os.makedirs(dest, exist_ok=True)
    with segstore.maybe_write_lock(dest, _locked):
        old_segments: list[str] = []
        old_generation = 0
        try:
            old = read_meta(dest)
            old_segments = list(old.get("segments") or [])
            old_generation = int(old.get("generation", 0))
        except FileNotFoundError:
            pass
        name = _write_signatures(docs.select("doc_id", "text"), dest)
        meta = {
            "n_hashes": N_HASHES,
            "n_bands": N_BANDS,
            # a REBUILD advances the content counter past the replaced
            # index — clients keying caches on (dest, generation) must
            # see the post-rebuild state as NEW, never as a replay of
            # generation 1 (review r12)
            "generation": old_generation + 1,
            "segments": [name],
        }
        meta.update(meta_update or {})
        _write_meta(dest, meta)
        for old in old_segments:
            if old != name:
                try:
                    os.unlink(os.path.join(dest, old))
                except FileNotFoundError:
                    pass
    return meta


def update_index(
    new_docs: DataFrame,
    dest: str,
    meta_update: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Append signatures for NEW documents (caller guarantees doc_ids not
    already indexed — the ingest path knows its delta). Cost is O(new).

    ``meta_update`` fields land in the SAME atomic meta write that
    publishes the segment (the CDC loop's indexed-batch watermark rides
    here so segment visibility and watermark can never diverge)."""
    from moonlink_spark.table import segments as segstore

    with segstore.index_write_lock(dest):
        meta = read_meta(dest)
        name = _write_signatures(new_docs.select("doc_id", "text"), dest)
        meta["generation"] += 1
        if name not in meta["segments"]:
            meta["segments"].append(name)
        meta.update(meta_update or {})
        _write_meta(dest, meta)
    return meta


def mark_stale(
    dest: str,
    n_rows: int,
    meta_update: dict[str, Any] | None = None,
    batch_id: int | None = None,
) -> dict[str, Any]:
    """Record that ``n_rows`` indexed documents were updated or deleted
    in the source table; signatures are append-only segments, so a stale
    index flips ``rebuild_recommended`` instead of patching in place.
    ``batch_id`` makes the increment idempotent per micro-batch (a
    replayed batch must not double-count into the rebuild signal)."""
    from moonlink_spark.table import segments as segstore

    with segstore.index_write_lock(dest):
        meta = read_meta(dest)
        if batch_id is not None and int(
            meta.get("stale_batch_id", -1)
        ) >= int(batch_id):
            return meta  # replayed batch: already counted
        meta["stale_rows"] = meta.get("stale_rows", 0) + int(n_rows)
        if batch_id is not None:
            meta["stale_batch_id"] = int(batch_id)
        meta.update(meta_update or {})
        _write_meta(dest, meta)
    return meta


def indexed_batch_id(dest: str) -> int:
    """The CDC-loop watermark: id of the last micro-batch whose rows this
    index has absorbed (-1 before any). See vecindex.indexed_batch_id."""
    return int(read_meta(dest).get("indexed_batch_id", -1))


def note_indexed_batch(dest: str, batch_id: int) -> None:
    """Advance the watermark for a batch that needed no index work."""
    from moonlink_spark.table import segments as segstore

    with segstore.index_write_lock(dest):
        meta = read_meta(dest)
        if int(meta.get("indexed_batch_id", -1)) < int(batch_id):
            meta["indexed_batch_id"] = int(batch_id)
            _write_meta(dest, meta)


def rebuild_recommended(meta: dict[str, Any]) -> bool:
    """True when source updates/deletes have outdated any signatures."""
    return meta.get("stale_rows", 0) > 0


def compact_index(spark: SparkSession, dest: str) -> int:
    """Merge all signature segments into one (parity build_from_merge,
    crash-safe: merged segment first, atomic meta publish, then unlink —
    see table/segments.py). Returns the number of files replaced."""
    from moonlink_spark.table import segments as segstore

    with segstore.index_write_lock(dest):
        meta = read_meta(dest)

        # compaction rewrites layout, not content: generation (which
        # tracks CONTENT updates) stays, matching the original behavior
        def publish(m):
            _write_meta(dest, m)

        return segstore.compact_segments(
            spark, dest, meta, SEG_PREFIX, publish,
            read_meta=lambda: read_meta(dest),
        )


def signatures(spark: SparkSession, dest: str) -> DataFrame:
    """All LIVE indexed signatures (doc_id, h0..h7)."""
    from moonlink_spark.table import segments as segstore

    return segstore.read_segments(
        spark, dest, read_meta(dest), SEG_PREFIX
    )


def candidate_pairs(spark: SparkSession, dest: str) -> DataFrame:
    """Banded-LSH candidate pairs from PERSISTED signatures — the lookup
    path; no text is read, no md5 is computed. The signatures subtree is
    cached via operators.persist_tracked (previous call's cache for the
    same index dir is released first), so repeated lookups — the HTTP
    candidates route, dedup loops — hold at most one cached copy."""
    from moonlink_spark.operators import persist_tracked

    sigs = persist_tracked(
        f"sigindex:{dest}", signatures(spark, dest)
    )
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.col(f"h{2 * b}").cast("string"),
                        F.col(f"h{2 * b + 1}").cast("string"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band", "bucket"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band").alias("band_b"),
        F.col("bucket").alias("bucket_b"),
    )
    return (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("bucket") == F.col("bucket_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
