"""Persisted IVF vector index: train once, assign incrementally, serve
ANN probes from disk without recomputing assignments.

Reference parity for the index lifecycle (SURVEY.md §2a #12-14) applied
to the similarity workload, the same way ``table/sigindex.py`` applies it
to dedup: the reference builds a persisted bucket hash index on flush
(``persisted_bucket_hash_map.rs:486-523``), serves lookups from it, and
merges small index segments (``build_from_merge``, ``:525-574``). Here
the bucket structure is the IVF inverted list:

- **build**: integer-exact Lloyd training (the oracle-checked machinery
  shared with the ``ivf_kmeans_train`` operator) writes the k x dim
  centroid matrix into the index meta and one ``assign-*.parquet`` of
  (vec_id, cluster_id, d2) rows — the inverted lists;
- **update**: NEW vectors are assigned to the EXISTING centroids (the
  standard incremental-IVF path — no retrain) and appended as another
  assign file: O(new vectors), old segments byte-untouched. The meta
  tracks post-training distortion so callers can decide when drift
  warrants a retrain (``retrain_recommended``);
- **compact**: merge many small assign segments into one
  (``build_from_merge`` parity);
- **query**: served on the driver from the probed clusters' rows of
  the persisted inverted lists (zero assignment recompute); only the
  query vectors and the shortlist are fetched from the corpus, with
  pyarrow when it is a plain parquet read, so a query runs no Spark
  job. Candidates are cluster-bounded exactly like the ``ann_ivf_topk``
  operator.

Assignment arithmetic is EXACTLY the oracle-checked integer family
(quantize at 1e6, integer d2, argmin tie-broken on cluster_id), so
index-served results match the from-scratch computation bit for bit.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moonlink_spark.operators.similarity import (
    quantize_embeddings_1e6,
    train_ivf_centroids,
)
from moonlink_spark.session import local_frame
from moonlink_spark.table import segments as segstore

META_FILE = "vecindex.json"
SEG_PREFIX = "assign"
# Segment rows are sorted by these columns (footer min/max of cluster_id
# then bound the row groups a probe reads).
SEG_SORT = ("cluster_id", "vec_id")
# Most query ids one query_topk call serves: the per-query ADC tables and
# running shortlists live on the driver.
MAX_QUERY_BATCH = 1024
# Most corpus rows (in the row groups left after footer pruning) that
# _fetch reads on the driver with pyarrow; past it the Spark collect is
# faster. Set from the crossover measured in SCALE.md §18: 440k-540k
# rows of 64-d float32 vectors against a collect on local[2].
DRIVER_FETCH_MAX_ROWS = 500_000


def _write_meta(dest: str, meta: dict[str, Any]) -> None:
    tmp = os.path.join(dest, META_FILE + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=1)
    os.replace(tmp, os.path.join(dest, META_FILE))


# (dest, (st_ino, st_mtime_ns, st_size), meta) of the last meta parsed
_meta_memo: tuple[str, tuple[int, int, int], dict[str, Any]] | None = None


def read_meta(dest: str) -> dict[str, Any]:
    """The index meta, parsed again only when the file changed:
    ``_write_meta`` publishes by rename, so each rewrite brings a new
    inode. Every call gets its own top-level dict and ``segments`` list,
    the two things writers change; the nested centroids and codebooks
    are shared between calls and read-only."""
    global _meta_memo
    path = os.path.join(dest, META_FILE)
    st = os.stat(path)
    key = (st.st_ino, st.st_mtime_ns, st.st_size)
    memo = _meta_memo
    if memo is None or memo[:2] != (dest, key):
        with open(path) as fh:
            memo = _meta_memo = (dest, key, json.load(fh))
    meta = dict(memo[2])
    if "segments" in meta:
        meta["segments"] = list(meta["segments"])
    return meta


def _write_assignments(
    spark: SparkSession, q: DataFrame, cents, dest: str, pq_books=None
) -> tuple[str, int, int]:
    """Assign already-quantized (vec_id, v) rows to ``cents`` and persist
    one segment file (invisible until a meta lists it). With
    ``pq_books`` each row also carries its m PQ codes (the IVF-PQ
    segment layout: inverted list + codes, no stored vectors). Returns
    (segment_name, n_rows, sum_d2).

    r12: assignment + codes are ONE projection (no vec_id re-join — see
    assign_ivf_with_codes) and the meta stats ride the write job as
    ``observe()`` metrics instead of a second re-read job of the fresh
    segment. d2 sums in DECIMAL(38,0): a BIGINT sum overflows at scale
    (billions of rows x ~1e14 per-row distortion — hit in practice by
    the 10x scale validation with wide-magnitude vectors); decimal sums
    of integers stay exact, and the meta stores Python ints
    (unbounded)."""
    from pyspark.sql import Observation

    from moonlink_spark.operators.similarity import assign_ivf_with_codes

    assigned = assign_ivf_with_codes(spark, q, cents, pq_books)
    obs = Observation()
    assigned = assigned.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("d2").cast("decimal(38,0)")).alias("sd2"),
    )
    name = segstore.write_single_parquet(
        assigned, dest, SEG_PREFIX, sort_by=SEG_SORT
    )
    stats = obs.get
    n, sd2 = int(stats["n"] or 0), int(stats["sd2"] or 0)
    # observe() metrics have accumulator semantics: on a real cluster,
    # map-stage retries / speculative tasks upstream of the write shuffle
    # can double-count. Validate n against the written file's footer row
    # count (one metadata read — the file is the commit artifact, exact
    # by construction) and recompute the stats from the segment on any
    # mismatch instead of silently corrupting the meta (ADVICE r12).
    import pyarrow.parquet as pq_

    actual = pq_.ParquetFile(os.path.join(dest, name)).metadata.num_rows
    if actual != n:
        row = (
            spark.read.parquet(os.path.join(dest, name))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("d2").cast("decimal(38,0)")).alias("sd2"),
            )
            .first()
        )
        n, sd2 = int(row["n"] or 0), int(row["sd2"] or 0)
    return name, n, sd2


def build_index(
    spark: SparkSession,
    emb: DataFrame,
    dest: str,
    k: int = 8,
    iters: int = 3,
    meta_update: dict[str, Any] | None = None,
    pq: dict[str, int] | None = None,
    _locked: bool = False,
) -> dict[str, Any]:
    """Create the index from a (vec_id, embedding) corpus.

    ``meta_update`` carries fields that must SURVIVE a rebuild (e.g. the
    CDC loop's ``indexed_batch_id`` watermark — a retrain over the full
    table already contains every streamed batch, so the watermark must
    not reset or the next micro-batch would double-index).

    ``pq`` (e.g. ``{"m": 8, "ksub": 256, "iters": 2}``) adds PRODUCT
    QUANTIZATION: per-subspace codebooks train with the same
    integer-exact Lloyd (DuckDB-replayable), segments carry m codes per
    vector, and ``query_topk`` serves via ADC shortlist + exact-cosine
    rerank. At 100 TB this is the serving format: m small ints per
    vector instead of dim floats cuts index bytes ~8-16x per replica.

    All index mutators serialize on a per-directory write lock
    (segments.index_write_lock): the meta publish is a plain atomic
    replace, so concurrent writers would otherwise silently drop each
    other's segments. ``_locked=True`` skips re-acquiring when the
    caller (backend rebuild) already holds it."""
    from moonlink_spark.operators.similarity import train_pq_codebooks

    os.makedirs(dest, exist_ok=True)
    with segstore.maybe_write_lock(dest, _locked):
        # a REBUILD over an existing index must reclaim the superseded
        # segments (after the atomic publish, compaction's order) — a
        # drift-triggered retrain otherwise leaks the previous index's
        # full size on disk every time (r12 soak finding; the backend
        # wrapper had this cleanup, direct module callers did not).
        # Readers share compaction's contract: a lazy DataFrame that
        # resolved the OLD meta and executes after the rebuild can hit
        # the unlinked files — re-resolve on FileNotFoundError
        old_segments: list[str] = []
        old_generation = 0
        try:
            _old = read_meta(dest)
            old_segments = list(_old.get("segments") or [])
            old_generation = int(_old.get("generation", 0))
        except FileNotFoundError:
            pass
        # one quantization pass serves both training and the final
        # assignment write (the persist holds it across Lloyd iterations);
        # for PQ builds one init collect serves both the coarse and the
        # codebook trainings (identical first-rows-by-vec_id semantics)
        q = quantize_embeddings_1e6(emb).persist()
        init = (
            q.orderBy("vec_id").limit(max(k, int(pq.get("ksub", 256)))).collect()
            if pq is not None
            else None
        )
        pq_books = None
        pq_meta = None
        if pq is not None:
            # the coarse and codebook trainings are INDEPENDENT job
            # chains over the same persisted corpus (codes never depend
            # on the coarse centroids), so overlap them from two driver
            # threads (guide §2.6): each chain is mostly per-job
            # scheduling wait at small scale, and at cluster scale the
            # second chain back-fills the first one's stage tails.
            # Results are unchanged — both trainings are deterministic
            # functions of (q, init).
            from concurrent.futures import ThreadPoolExecutor

            dim = len(init[0].v) if init else None
            with ThreadPoolExecutor(max_workers=2) as pool:
                cents_f = pool.submit(
                    train_ivf_centroids, spark, q, k=k, iters=iters,
                    _init=init,
                )
                books_f = pool.submit(
                    train_pq_codebooks,
                    spark,
                    q,
                    m=int(pq.get("m", 8)),
                    ksub=int(pq.get("ksub", 256)),
                    iters=int(pq.get("iters", 2)),
                    dim=dim,
                    _init=init,
                )
                cents = cents_f.result()
                pq_books = books_f.result()
            pq_meta = {
                "m": len(pq_books),
                "ksub": len(pq_books[0]),
                "iters": int(pq.get("iters", 2)),
                "codebooks": [
                    [[int(x) for x in cent] for _, cent in cb]
                    for cb in pq_books
                ],
            }
        else:
            cents = train_ivf_centroids(spark, q, k=k, iters=iters)
        name, n, sd2 = _write_assignments(spark, q, cents, dest, pq_books)
        q.unpersist()
        meta = {
            "k": k,
            "iters": iters,
            "centroids": [[int(x) for x in c] for _, c in cents],
            # a REBUILD advances the content counter past the replaced
            # index (clients keying on (dest, generation) must see the
            # post-rebuild state as new — review r12)
            "generation": old_generation + 1,
            "segments": [name],
            "trained_rows": n,
            "trained_sum_d2": sd2,
            "appended_rows": 0,
            "appended_sum_d2": 0,
        }
        if pq_meta is not None:
            meta["pq"] = pq_meta
        meta.update(meta_update or {})
        _write_meta(dest, meta)
        for old in old_segments:
            if old != name:
                try:
                    os.unlink(os.path.join(dest, old))
                except FileNotFoundError:
                    pass
    return meta


def _centroids(meta: dict[str, Any]):
    return [(i, c) for i, c in enumerate(meta["centroids"])]


def _pq_books(meta: dict[str, Any]):
    """The persisted PQ codebooks in the [(code_id, ints)] shape the
    similarity helpers consume, or None for a plain (SQ) index."""
    pq = meta.get("pq")
    if pq is None:
        return None
    return [
        [(j, c) for j, c in enumerate(cb)] for cb in pq["codebooks"]
    ]


def update_index(
    spark: SparkSession,
    new_emb: DataFrame,
    dest: str,
    meta_update: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Assign NEW vectors to the existing centroids and append a segment
    (caller guarantees vec_ids not already indexed — the ingest path knows
    its delta). Cost is O(new vectors); no retrain, no rewrite.

    ``meta_update`` fields land in the SAME atomic meta write that
    publishes the segment — the CDC loop stores its indexed-batch
    watermark this way, so a crash can never leave the segment visible
    without the watermark (or vice versa). Serialized on the index
    write lock (meta reads happen INSIDE it, so the appended segment
    list can never lose a concurrent writer's entry)."""
    with segstore.index_write_lock(dest):
        meta = read_meta(dest)
        name, n, sd2 = _write_assignments(
            spark,
            quantize_embeddings_1e6(new_emb),
            _centroids(meta),
            dest,
            _pq_books(meta),
        )
        meta["generation"] += 1
        if name not in meta["segments"]:
            meta["segments"].append(name)
        meta["appended_rows"] += n
        meta["appended_sum_d2"] += sd2
        meta.update(meta_update or {})
        _write_meta(dest, meta)
    return meta


def mark_stale(
    dest: str,
    n_rows: int,
    meta_update: dict[str, Any] | None = None,
    batch_id: int | None = None,
) -> dict[str, Any]:
    """Record that ``n_rows`` indexed vectors were updated or deleted in
    the source table. The inverted lists are not patched in place (the
    incremental path is append-only, like the reference's segments); a
    stale index flips ``retrain_recommended`` so the operator rebuilds.

    ``batch_id`` makes the increment idempotent per micro-batch: a
    replayed batch (crash between mark_stale and the watermark-carrying
    update) must not double-count stale rows into the retrain signal."""
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
    index has absorbed (-1 before any). Maintained by the streaming
    pipeline via ``meta_update`` so index maintenance that crashed after
    the table commit is retried on batch replay instead of silently
    skipped forever."""
    return int(read_meta(dest).get("indexed_batch_id", -1))


def note_indexed_batch(dest: str, batch_id: int) -> None:
    """Advance the watermark for a batch that needed no index work."""
    with segstore.index_write_lock(dest):
        meta = read_meta(dest)
        if int(meta.get("indexed_batch_id", -1)) < int(batch_id):
            meta["indexed_batch_id"] = int(batch_id)
            _write_meta(dest, meta)


def retrain_recommended(meta: dict[str, Any], factor: float = 2.0) -> bool:
    """True when the index no longer reflects its training conditions:
    any source updates/deletes since build (``stale_rows``), or the
    incremental additions fit the trained centroids ``factor``x worse
    (mean d2) than the training corpus did — the drift signal that the
    inverted lists no longer partition the space well."""
    if meta.get("stale_rows", 0) > 0:
        return True
    if not meta["appended_rows"] or not meta["trained_rows"]:
        return False
    trained_mean = meta["trained_sum_d2"] / meta["trained_rows"]
    appended_mean = meta["appended_sum_d2"] / meta["appended_rows"]
    return appended_mean > factor * max(trained_mean, 1)


def compact_index(spark: SparkSession, dest: str) -> int:
    """Merge all assignment segments into one (build_from_merge parity,
    crash-safe: merged segment first, atomic meta publish, then unlink —
    see table/segments.py). Serialized on the index write lock, which
    closes the read-to-publish window entirely (the commit-point re-read
    stays as defense in depth). Returns the number of files replaced."""
    with segstore.index_write_lock(dest):
        meta = read_meta(dest)

        def publish(m):
            m["generation"] += 1
            _write_meta(dest, m)

        return segstore.compact_segments(
            spark, dest, meta, SEG_PREFIX, publish,
            read_meta=lambda: read_meta(dest), sort_by=SEG_SORT,
        )


def read_assignments(spark: SparkSession, dest: str) -> DataFrame:
    """All LIVE inverted-list rows (vec_id, cluster_id, d2)."""
    return segstore.read_segments(
        spark, dest, read_meta(dest), SEG_PREFIX
    )


def query_topk(
    spark: SparkSession,
    emb: DataFrame,
    dest: str,
    query_ids: list[int],
    topk: int = 3,
    nprobe: int = 1,
    rerank: int | None = None,
) -> DataFrame:
    """ANN top-k for ``query_ids`` served FROM the index, on the driver.
    Returns a local relation (query_id, neighbor_id, cosine, rn),
    ordered by (query_id, rn).

    Each query probes its ``nprobe`` nearest centroids (exact int64).
    pyarrow reads the probed clusters' rows of the live segments one row
    group at a time (footer min/max of the sorted ``cluster_id`` skip
    the rest). A PQ index scores them by ADC in numpy int64 and keeps a
    running top-``rerank`` (default 4*topk) per query by
    ``(adc, vec_id)``: driver memory is O(row group + queries x rerank).
    A flat index keeps every candidate. The shortlist's vectors are
    fetched like the query vectors (:func:`_fetch`: read with pyarrow
    from a plain parquet corpus, else one collect filtered by
    ``In(vec_id, ids)``), scored with the ``_dot``/``_norm`` cosine over
    a local relation (no job; the doubles of a distributed scan), ranked
    ``(cos desc, vec_id)`` and rounded to 6 places. Over a plain parquet
    corpus the query runs no Spark job; otherwise two, the query-vector
    and shortlist collects.

    ``rerank=0`` on a PQ index selects PURE-ADC serving: the rank is the
    integer ADC distance, the corpus is read only for the query vectors
    (no job, or one collect), and the schema is (query_id, neighbor_id,
    adc, rn); SCALE.md §16 has its recall.

    ``query_ids`` is a bounded request: more than ``MAX_QUERY_BATCH`` ids
    raise ``ValueError``; such batches belong to the distributed
    ``operators.similarity.probe_ivf_clusters``. A segment unlinked by a
    concurrent compaction or rebuild re-resolves the meta once (the
    re-resolve contract of :func:`build_index`)."""
    import numpy as np

    from moonlink_spark.operators.similarity import _dot, _norm

    ids = sorted({int(i) for i in query_ids})
    if len(ids) > MAX_QUERY_BATCH:
        raise ValueError(
            f"query_topk serves at most {MAX_QUERY_BATCH} query ids, got "
            f"{len(ids)}: split the batch or use the distributed "
            "operators.similarity.probe_ivf_clusters"
        )
    qvec = _fetch(emb, ids)
    qint = {
        q: np.floor(np.asarray(v, np.float64) * 1000000.0).astype(np.int64)
        for q, v in qvec.items()
    }
    for attempt in (0, 1):
        meta = read_meta(dest)
        try:
            lists = _shortlists(meta, dest, qint, topk, nprobe, rerank)
            break
        except FileNotFoundError:
            if attempt:
                raise
    if "pq" in meta and rerank == 0:
        return local_frame(
            spark,
            [
                (q, v, adc, rn)
                for q, (adcs, vids) in sorted(lists.items())
                for rn, (adc, v) in enumerate(zip(adcs, vids), 1)
            ],
            "query_id bigint, neighbor_id bigint, adc bigint, rn bigint",
        )
    cvec = _fetch(emb, list({v for _, vids in lists.values() for v in vids}))
    # vectors keep the CORPUS element type: array<float> would truncate
    # float64 vectors before the cosine
    emb_type = emb.schema["embedding"].dataType.simpleString()
    scored = (
        local_frame(
            spark,
            [
                (q, v, qvec[q], cvec[v])
                for q, (_, vids) in lists.items()
                for v in vids
                if v in cvec
            ],
            f"query_id bigint, vec_id bigint, qe {emb_type}, ce {emb_type}",
        )
        .select(
            "query_id",
            "vec_id",
            (_dot("qe", "ce") / (_norm("qe") * _norm("ce"))).alias("cos"),
        )
        .collect()
    )
    out: list[tuple] = []
    for r in sorted(scored, key=lambda r: (r.query_id, *_desc(r.cos), r.vec_id)):
        rn = out[-1][3] + 1 if out and out[-1][0] == r.query_id else 1
        if rn <= topk:
            out.append((r.query_id, r.vec_id, r.cos, rn))
    return local_frame(
        spark, out, "query_id bigint, neighbor_id bigint, cos double, rn bigint"
    ).select("query_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rn")


def _fetch(emb: DataFrame, ids: list[int]) -> dict[int, Any]:
    """{vec_id: embedding} for ``ids``. A plain parquet read
    (:func:`_parquet_files`) is read on the driver with pyarrow
    (:func:`_read_vectors`), with no Spark job; any other ``emb``, or a
    read that would decode more than ``DRIVER_FETCH_MAX_ROWS`` rows, is
    one collect filtered by ``In(vec_id, ids)``. Both legs map alike:
    ids the corpus lacks and null vec_ids are absent, and an id held by
    two rows raises ``ValueError`` (Spark orders the splits of several
    files by size, so "the last one" would differ between legs)."""
    # an index row built from a null vec_id lists NaN: it names no row.
    # Sorted after the filter: a NaN leaves sorted() out of order
    ids = sorted(i for i in ids if not math.isnan(i))
    if not ids:
        return {}
    files = _parquet_files(emb)
    pairs = None if files is None else _read_vectors(files, ids, _value_type(emb))
    if pairs is None:
        pairs = (
            emb.filter(F.col("vec_id").isin(ids))
            .select("vec_id", "embedding")
            .collect()
        )
    out: dict[int, Any] = {}
    for vid, vec in pairs:
        if int(vid) in out:
            raise ValueError(f"vec_id {vid} is held by more than one corpus row")
        out[int(vid)] = vec
    return out


def _node(obj) -> str:
    return obj.getClass().getSimpleName()


def _parquet_files(emb: DataFrame) -> list[str] | None:
    """The local files of ``emb`` when it is a plain parquet read: its
    analyzed plan is a parquet ``LogicalRelation`` under nothing but
    ``Project``s of bare columns, ``vec_id`` and ``embedding`` are not
    partition columns, and every input file is a ``file`` URI (decoded
    as ``table.file_uris`` decodes it). None otherwise: a filter, a
    computed or renamed column, a table scan's DV anti-join or a remote
    file keeps the Spark collect."""
    from urllib.parse import unquote, urlsplit

    plan = emb._jdf.queryExecution().analyzed()
    while _node(plan) == "Project":
        cols = plan.projectList()
        if any(
            _node(cols.apply(i)) != "AttributeReference" for i in range(cols.size())
        ):
            return None
        plan = plan.child()
    if _node(plan) != "LogicalRelation":
        return None
    rel = plan.relation()
    if (
        _node(rel) != "HadoopFsRelation"
        or _node(rel.fileFormat()) != "ParquetFileFormat"
    ):
        return None
    partitions = {c.lower() for c in rel.partitionSchema().fieldNames()}
    if partitions & {"vec_id", "embedding"}:
        return None
    files = []
    for uri in emb.inputFiles():
        u = urlsplit(uri)
        if u.scheme != "file":
            return None
        files.append(unquote(u.path))
    return files


def _value_type(emb: DataFrame):
    """The Arrow type of ``emb``'s embedding elements: float32 or
    float64, else None (which no footer matches)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    et = emb.schema["embedding"].dataType
    elem = et.elementType if isinstance(et, T.ArrayType) else None
    return {T.FloatType(): pa.float32(), T.DoubleType(): pa.float64()}.get(elem)


def _read_vectors(
    files: list[str], ids: list[int], value_type
) -> list[tuple] | None:
    """[(vec_id, embedding)] of the sorted ``ids`` in the parquet
    ``files``, read with pyarrow: per file only the row groups whose
    footer vec_id min/max can hold an id, one at a time and only the two
    columns, so driver memory is O(row group + matches). None, for the
    Spark collect, when a footer lacks an integer ``vec_id`` or a list
    ``embedding`` of ``value_type`` by exact name (pyarrow matches names
    case-sensitively, Spark does not), or when the surviving row groups
    hold more than ``DRIVER_FETCH_MAX_ROWS`` rows."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    with contextlib.ExitStack() as stack:
        reads = []
        for path in files:
            pf = stack.enter_context(pq.ParquetFile(path))
            schema = pf.schema_arrow
            if min(map(schema.get_field_index, ("vec_id", "embedding"))) < 0:
                return None
            vt, et = schema.field("vec_id").type, schema.field("embedding").type
            if not (
                pa.types.is_integer(vt)
                and (pa.types.is_list(et) or pa.types.is_large_list(et))
                and et.value_type == value_type
            ):
                return None
            reads.append((pf, segstore.row_groups_holding(pf, "vec_id", ids)))
        rows = sum(
            pf.metadata.row_group(g).num_rows for pf, groups in reads for g in groups
        )
        if rows > DRIVER_FETCH_MAX_ROWS:
            return None
        wanted = pa.array(ids, pa.int64())
        out: list[tuple] = []
        for pf, groups in reads:
            for g in groups:
                tbl = pf.read_row_group(g, columns=["vec_id", "embedding"])
                vid = tbl.column("vec_id").cast(pa.int64())
                hit = tbl.filter(pc.is_in(vid, value_set=wanted))
                out += zip(
                    hit.column("vec_id").to_pylist(),
                    hit.column("embedding").to_pylist(),
                )
        return out


def _desc(cos: float | None) -> tuple[int, float]:
    """Sort key of ``cos DESC``: Spark ranks NaN above every number and
    puts nulls last."""
    if cos is None:
        return (2, 0.0)
    return (0, 0.0) if math.isnan(cos) else (1, -cos)


def _shortlists(meta, dest, qint, topk, nprobe, rerank):
    """-> {query_id: (adcs, vec_ids)}: candidates from each query's
    probed clusters, the query itself excluded. A PQ index keeps the
    best ``rerank`` (``topk`` when ``rerank=0``) by ``(adc, vec_id)``; a
    flat index keeps all of them, with no adcs."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    C = np.asarray(meta["centroids"], dtype=np.int64)
    # an empty centroid matrix (degenerate empty-corpus build) probes
    # nothing: the result is empty
    probes = {
        q: np.lexsort((np.arange(len(C)), ((C - v) ** 2).sum(axis=1)))[:nprobe]
        for q, v in (qint.items() if len(C) else ())
    }
    # (m, ksub, dsub) codebooks -> per query an (m, ksub) table of
    # integer subspace d2
    books = np.asarray(meta.get("pq", {}).get("codebooks", []), dtype=np.int64)
    if len(books):
        r = int(rerank) if rerank is not None else max(4 * topk, topk + 1)
        keep = r or topk
        m, _, dsub = books.shape
        tables = {
            q: ((books - v[: m * dsub].reshape(m, 1, dsub)) ** 2).sum(axis=2)
            for q, v in qint.items()
        }
    empty = np.empty(0, np.int64)
    lists = {q: (empty, empty) for q in probes}
    wanted = sorted({int(c) for p in probes.values() for c in p})
    columns = ["vec_id", "cluster_id"] + (["codes"] if len(books) else [])
    for path in segstore.live_segment_paths(dest, meta, SEG_PREFIX) if wanted else []:
        pf = pq.ParquetFile(path)
        for g in segstore.row_groups_holding(pf, "cluster_id", wanted):
            tbl = pf.read_row_group(g, columns=columns)
            vid = tbl.column("vec_id").to_numpy()
            cid = tbl.column("cluster_id").to_numpy()
            if len(books):
                codes = pc.list_flatten(tbl.column("codes")).to_numpy()
                codes = codes.astype(np.int64).reshape(-1, m)
            rows_of = {c: np.flatnonzero(cid == c) for c in np.unique(cid)}
            for q, p in probes.items():
                hit = [rows_of[c] for c in p if c in rows_of]
                if not hit:
                    continue
                hit = np.concatenate(hit)
                hit = hit[vid[hit] != q]
                adcs, vids = lists[q]
                vids = np.concatenate([vids, vid[hit]])
                if len(books):
                    T = tables[q]
                    adc = T[np.arange(len(T)), codes[hit]].sum(axis=1)
                    adcs = np.concatenate([adcs, adc])
                    best = np.lexsort((vids, adcs))[:keep]
                    adcs, vids = adcs[best], vids[best]
                lists[q] = (adcs, vids)
    return {q: (a.tolist(), v.tolist()) for q, (a, v) in lists.items()}
