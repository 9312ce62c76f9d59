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
- **query**: top-k probes join the persisted inverted lists against the
  corpus — zero assignment recompute at query time; candidates are
  cluster-bounded exactly like the ``ann_ivf_topk`` operator.

Assignment arithmetic is EXACTLY the oracle-checked integer family
(quantize at 1e6, integer d2, argmin tie-broken on cluster_id), so
index-served results match the from-scratch computation bit for bit.
"""

from __future__ import annotations

import json
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


def _write_meta(dest: str, meta: dict[str, Any]) -> None:
    tmp = os.path.join(dest, META_FILE + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=1)
    os.replace(tmp, os.path.join(dest, META_FILE))


def read_meta(dest: str) -> dict[str, Any]:
    with open(os.path.join(dest, META_FILE)) as fh:
        return json.load(fh)


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
    name = segstore.write_single_parquet(assigned, dest, SEG_PREFIX)
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
        meta.setdefault(
            "segments", segstore.scan_segment_names(dest, SEG_PREFIX)
        )
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
            read_meta=lambda: read_meta(dest),
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
    """ANN top-k for ``query_ids`` served FROM the index: queries probe
    their ``nprobe`` nearest centroids (driver math on the meta's matrix —
    no corpus scan), candidates come from the persisted inverted lists,
    and only candidates are cosine-scored. Returns
    (query_id, neighbor_id, cosine, rn).

    Scale shape: ``query_ids`` is a BOUNDED explicit request (the probe
    API's contract), so probe selection and the per-query ADC tables run
    as exact driver arithmetic over one collected scan of the query rows
    — O(|query_ids| * k * dim) driver work (r12; a massive query batch
    should instead be chunked by the caller or routed through the
    distributed ``probe_ivf_clusters`` map). The assignments join is an
    equi-join on cluster_id; the probe set is broadcast; the corpus is
    scanned once to re-attach embeddings for the candidate clusters
    only.

    PQ indexes add an ADC SHORTLIST stage before the exact-cosine
    rerank: candidates are scored from their persisted m codes against
    the query's broadcast distance tables (zero shuffle, no embedding
    fetch), only the top ``rerank`` (default 4*topk) per query touch
    the corpus for exact cosine — at 100 TB the corpus join shrinks
    from cluster-sized to rerank-sized.

    ``rerank=0`` on a PQ index selects PURE-ADC serving: results rank
    on the integer ADC distance alone and the full-precision corpus is
    never touched after probe selection — the query reads ONLY index
    bytes (m smallints/vector). The schema changes to
    (query_id, neighbor_id, adc, rn) because no cosine exists on this
    path. At 100 TB this removes the one remaining per-query fetch of
    the full-precision vectors (the rerank join), trading recall
    (measured in SCALE.md §16) for a purely index-resident probe; flat
    (non-PQ) indexes have no codes, so ``rerank`` keeps being ignored
    there."""
    import math

    import numpy as np
    from pyspark.sql import Window

    from moonlink_spark.operators.similarity import _dot, _norm, pq_adc_scores

    meta = read_meta(dest)
    cents = _centroids(meta)
    pq_books = _pq_books(meta)
    # ``query_ids`` is a bounded explicit request (the probe API's
    # contract), so the query-side model math — probe selection and the
    # per-query ADC tables — runs as exact driver arithmetic over ONE
    # collected scan of the query rows instead of three separate
    # scan + one-row-broadcast expression chains (r12; each broadcast
    # materialization costs a fixed sub-job). The integers are the same:
    # quantize = floor(double(x) * 1e6), probe order = (d2, cluster_id)
    # ascending, table cell = integer subspace d2 — all replayed by the
    # DuckDB oracles bit for bit. The CORPUS side (inverted lists, ADC
    # scoring, rerank) stays fully distributed.
    qrows = (
        emb.filter(F.col("vec_id").isin([int(i) for i in query_ids]))
        .select("vec_id", "embedding")
        .collect()
    )
    qv = [
        (int(r.vec_id), [int(math.floor(float(x) * 1000000.0)) for x in r.embedding])
        for r in qrows
    ]
    C = np.asarray([c for _, c in cents], dtype=np.int64)
    probe_pairs = []
    # empty centroid matrix (degenerate empty-corpus build): no probes —
    # the plan degrades to an empty result exactly like the pre-r12
    # probe_ivf_clusters path did, instead of a numpy broadcast error
    for qid, v in qv if len(cents) else []:
        d2 = np.einsum(
            "kd->k", (C - np.asarray(v, dtype=np.int64)[None, :]) ** 2
        )
        order = np.lexsort((np.arange(len(C)), d2))[: min(nprobe, len(C))]
        probe_pairs.extend((qid, int(cid)) for cid in order)
    probe_df = local_frame(
        spark, probe_pairs, "query_id bigint, probe_cluster bigint"
    )
    inv = read_assignments(spark, dest)
    cand = inv.join(
        F.broadcast(probe_df),
        inv.cluster_id == F.col("probe_cluster"),
    ).filter(F.col("vec_id") != F.col("query_id"))
    if pq_books is not None:
        # ADC shortlist: deterministic (adc, vec_id) ordering so the
        # DuckDB oracle replays the shortlist bit for bit
        r = int(rerank) if rerank is not None else max(4 * topk, topk + 1)
        dsub = len(pq_books[0][0][1])
        table_rows = [
            (
                qid,
                [
                    [
                        int(
                            np.sum(
                                (
                                    np.asarray(
                                        v[s * dsub : (s + 1) * dsub],
                                        dtype=np.int64,
                                    )
                                    - np.asarray(cent, dtype=np.int64)
                                )
                                ** 2
                            )
                        )
                        for _, cent in cb
                    ]
                    for s, cb in enumerate(pq_books)
                ],
            )
            for qid, v in qv
        ]
        tables = local_frame(
            spark, table_rows, "query_id bigint, t array<array<bigint>>"
        )
        adc = pq_adc_scores(cand.select("query_id", "vec_id", "codes"), tables)
        ws = Window.partitionBy("query_id").orderBy(
            F.asc("adc"), F.asc("vec_id")
        )
        if r == 0:
            # pure-ADC: rank on the code distance, never fetch the
            # corpus — the only data read after probing is index bytes
            return (
                adc.withColumn("rn", F.row_number().over(ws).cast("bigint"))
                .filter(F.col("rn") <= topk)
                .select(
                    "query_id",
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("adc").cast("bigint").alias("adc"),
                    "rn",
                )
            )
        cand = (
            adc.withColumn("srn", F.row_number().over(ws))
            .filter(F.col("srn") <= r)
        )
    # query vectors keep the CORPUS embedding element type (float32 in
    # the standard schema, float64 supported by schema.py): hard-coding
    # array<float> truncated float64 query vectors before the cosine
    # (ADVICE r12)
    emb_type = emb.schema["embedding"].dataType.simpleString()
    qe = local_frame(
        spark,
        [(qid, list(r.embedding)) for (qid, _), r in zip(qv, qrows)],
        f"query_id bigint, qe {emb_type}",
    )
    ce = emb.select("vec_id", F.col("embedding").alias("ce"))
    scored = (
        cand.select("query_id", "vec_id")
        .join(ce, "vec_id")
        .join(F.broadcast(qe), "query_id")
        .withColumn("cos", _dot("qe", "ce") / (_norm("qe") * _norm("ce")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= topk)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cos", 6).alias("cosine"),
            "rn",
        )
    )
