"""Persisted IVF vector index lifecycle: build / incremental update /
compact / query-from-disk, with index-served results proven identical to
the from-scratch computation."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from moonlink_spark.operators import load
from moonlink_spark.operators.similarity import (
    assign_ivf_clusters,
    quantize_embeddings_1e6,
    train_ivf_centroids,
)
from moonlink_spark.table import segments as segstore
from moonlink_spark.table import vecindex


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").select("vec_id", "embedding")


@pytest.fixture()
def index_dir(tmp_path):
    return str(tmp_path / "vecindex")


def test_build_matches_from_scratch_assignment(spark, corpus, index_dir):
    meta = vecindex.build_index(spark, corpus, index_dir, k=8, iters=2)
    assert meta["generation"] == 1 and len(meta["centroids"]) == 8

    q = quantize_embeddings_1e6(corpus).persist()
    cents = train_ivf_centroids(spark, q, k=8, iters=2)
    fresh = {
        r.vec_id: (r.cluster_id, r.d2)
        for r in assign_ivf_clusters(spark, q, cents).collect()
    }
    served = {
        r.vec_id: (r.cluster_id, r.d2)
        for r in vecindex.read_assignments(spark, index_dir).collect()
    }
    q.unpersist()
    assert served == fresh  # bit-identical, not approximately


def test_update_is_incremental_and_leaves_segments_untouched(
    spark, corpus, index_dir
):
    base = corpus.filter(F.col("vec_id") % 2 == 0)
    new = corpus.filter(F.col("vec_id") % 2 == 1)
    vecindex.build_index(spark, base, index_dir, k=4, iters=1)
    before = {
        f: os.path.getmtime(os.path.join(index_dir, f))
        for f in os.listdir(index_dir)
        if f.startswith("assign-")
    }
    meta = vecindex.update_index(spark, new, index_dir)
    assert meta["generation"] == 2
    after_files = [
        f for f in os.listdir(index_dir) if f.startswith("assign-")
    ]
    assert len(after_files) == len(before) + 1
    for f, mtime in before.items():
        assert os.path.getmtime(os.path.join(index_dir, f)) == mtime

    # all vectors served; new ones assigned to the ORIGINAL centroids
    served = vecindex.read_assignments(spark, index_dir)
    assert served.count() == corpus.count()
    cents = [(i, c) for i, c in enumerate(meta["centroids"])]
    fresh_new = {
        r.vec_id: r.cluster_id
        for r in assign_ivf_clusters(
            spark, quantize_embeddings_1e6(new), cents
        ).collect()
    }
    served_new = {
        r.vec_id: r.cluster_id
        for r in served.join(
            new.select("vec_id"), "vec_id"
        ).collect()
    }
    assert served_new == fresh_new


def test_compaction_preserves_contents(spark, corpus, index_dir):
    vecindex.build_index(
        spark, corpus.filter(F.col("vec_id") < 100), index_dir, k=4, iters=1
    )
    vecindex.update_index(
        spark,
        corpus.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200)),
        index_dir,
    )
    before = {
        (r.vec_id, r.cluster_id, r.d2)
        for r in vecindex.read_assignments(spark, index_dir).collect()
    }
    replaced = vecindex.compact_index(spark, index_dir)
    assert replaced == 2
    files = [f for f in os.listdir(index_dir) if f.startswith("assign-")]
    assert len(files) == 1
    after = {
        (r.vec_id, r.cluster_id, r.d2)
        for r in vecindex.read_assignments(spark, index_dir).collect()
    }
    assert after == before


def test_query_topk_served_from_disk(spark, corpus, index_dir):
    vecindex.build_index(spark, corpus, index_dir, k=8, iters=2)
    out = vecindex.query_topk(
        spark, corpus, index_dir, query_ids=[0, 1, 2], topk=3, nprobe=2
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rows in by_q.items():
        assert [r.rn for r in sorted(rows, key=lambda r: r.rn)] == [1, 2, 3]
        cosines = [r.cosine for r in sorted(rows, key=lambda r: r.rn)]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.neighbor_id != q for r in rows)


def test_retrain_recommendation_flags_drift(spark, corpus, index_dir):
    vecindex.build_index(spark, corpus, index_dir, k=4, iters=2)
    meta = vecindex.read_meta(index_dir)
    assert not vecindex.retrain_recommended(meta)
    # drifted vectors: far outside the unit-scale training distribution
    drifted = corpus.limit(20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.expr("transform(embedding, x -> CAST(x * 50.0 AS FLOAT))").alias(
            "embedding"
        ),
    )
    meta = vecindex.update_index(spark, drifted, index_dir)
    assert vecindex.retrain_recommended(meta)


def test_streaming_ingest_maintains_index(spark, corpus, tmp_path):
    """sync_vecindex: the CDC loop assigns each micro-batch's inserted
    vectors to the existing centroids; updates flip the stale flag."""
    import json as _json
    import os as _os

    from moonlink_spark.streaming.pipeline import StreamingIngestor
    from moonlink_spark.table.identity import IdentityProp
    from moonlink_spark.table.table import MoonlinkTable

    base = corpus.filter(F.col("vec_id") < 200)
    dest = str(tmp_path / "vidx")
    vecindex.build_index(spark, base, dest, k=4, iters=1)

    t = MoonlinkTable.create(
        spark,
        str(tmp_path / "t"),
        [
            {"name": "vec_id", "data_type": "int64", "nullable": False},
            {
                "name": "embedding",
                "data_type": "list",
                "item": {"data_type": "float32"},
            },
        ],
        IdentityProp.single("vec_id"),
    )
    spool = str(tmp_path / "spool")
    _os.makedirs(spool)
    ing = StreamingIngestor(
        t,
        source_dir=spool,
        checkpoint_dir=str(tmp_path / "ckpt"),
        sync_vecindex=(dest, "embedding"),
    )

    new_vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in corpus.filter(
            (F.col("vec_id") >= 200) & (F.col("vec_id") < 230)
        ).collect()
    }
    with open(_os.path.join(spool, "b1.jsonl"), "w") as fh:
        for vid, emb in sorted(new_vecs.items()):
            fh.write(
                _json.dumps(
                    {
                        "lsn": 100 + vid,
                        "xact_id": None,
                        "op": "insert",
                        "row": {"vec_id": vid, "embedding": emb},
                        "old_row": None,
                    }
                )
                + "\n"
            )
    ing.run_available()

    served = vecindex.read_assignments(spark, dest)
    assert served.count() == 200 + len(new_vecs)
    meta = vecindex.read_meta(dest)
    assert not vecindex.retrain_recommended(meta)
    # streamed vectors must carry the SAME assignment a fresh
    # assign-to-meta-centroids run produces
    cents = [(i, c) for i, c in enumerate(meta["centroids"])]
    streamed = corpus.filter(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 230)
    )
    fresh = {
        r.vec_id: r.cluster_id
        for r in assign_ivf_clusters(
            spark, quantize_embeddings_1e6(streamed), cents
        ).collect()
    }
    got = {
        r.vec_id: r.cluster_id
        for r in served.filter(F.col("vec_id") >= 200).collect()
    }
    assert got == fresh

    # an update event does not patch inverted lists — it flips stale
    some_vid = 5
    with open(_os.path.join(spool, "b2.jsonl"), "w") as fh:
        fh.write(
            _json.dumps(
                {
                    "lsn": 10_000,
                    "xact_id": None,
                    "op": "update",
                    "row": {
                        "vec_id": some_vid,
                        "embedding": [0.5] * 64,
                    },
                    "old_row": {"vec_id": some_vid, "embedding": None},
                }
            )
            + "\n"
        )
    ing.run_available()
    meta = vecindex.read_meta(dest)
    assert meta.get("stale_rows", 0) == 1
    assert vecindex.retrain_recommended(meta)


def test_index_maintenance_recovers_after_crash(spark, corpus, tmp_path):
    """Crash window between the table commit and index maintenance: the
    replayed batch (apply_cdc_batch -> None) must STILL be indexed —
    the watermark in the index meta lags the table, so _foreach_batch
    re-runs maintenance instead of skipping it forever (ADVICE r4)."""
    from moonlink_spark.streaming.pipeline import (
        StreamingIngestor,
        apply_cdc_batch,
        cdc_event_schema,
    )
    from moonlink_spark.table.identity import IdentityProp
    from moonlink_spark.table.table import MoonlinkTable

    base = corpus.filter(F.col("vec_id") < 200)
    dest = str(tmp_path / "vidx")
    vecindex.build_index(spark, base, dest, k=4, iters=1)
    assert vecindex.indexed_batch_id(dest) == -1

    t = MoonlinkTable.create(
        spark,
        str(tmp_path / "t"),
        [
            {"name": "vec_id", "data_type": "int64", "nullable": False},
            {
                "name": "embedding",
                "data_type": "list",
                "item": {"data_type": "float32"},
            },
        ],
        IdentityProp.single("vec_id"),
    )
    ing = StreamingIngestor(
        t,
        source_dir=str(tmp_path / "spool"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        sync_vecindex=(dest, "embedding"),
    )
    new = corpus.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 230))
    batch = new.select(
        (F.col("vec_id") + 100).cast("bigint").alias("lsn"),
        F.lit(None).cast("int").alias("xact_id"),
        F.lit("insert").alias("op"),
        F.struct("vec_id", "embedding").alias("row"),
        F.lit(None).cast(cdc_event_schema(t.schema)["row"].dataType).alias(
            "old_row"
        ),
    )
    # "crash": the table commit lands but maintenance never runs
    assert apply_cdc_batch(t, batch, 0) is not None
    assert vecindex.indexed_batch_id(dest) == -1  # index is behind

    # Spark replays batch 0 from the checkpoint after restart
    ing._foreach_batch(batch, 0)
    assert vecindex.indexed_batch_id(dest) == 0
    assert vecindex.read_assignments(spark, dest).count() == 230
    gen = vecindex.read_meta(dest)["generation"]

    # a second replay of the same batch is a no-op (watermark-gated)
    ing._foreach_batch(batch, 0)
    assert vecindex.read_assignments(spark, dest).count() == 230
    assert vecindex.read_meta(dest)["generation"] == gen


def test_vector_index_over_http(spark, corpus, tmp_path):
    """Backend + HTTP surface: build the table-owned index, incrementally
    update from the change feed, check status, query top-k — all through
    the service routes."""
    import json as _json
    import urllib.request

    from moonlink_spark.backend import MoonlinkBackend
    from moonlink_spark.service import MoonlinkService
    from moonlink_spark.table.identity import IdentityProp

    be = MoonlinkBackend(spark, str(tmp_path / "wh"))
    t = be.create_table(
        "db",
        "emb",
        [
            {"name": "vec_id", "data_type": "int64", "nullable": False},
            {
                "name": "embedding",
                "data_type": "list",
                "item": {"data_type": "float32"},
            },
        ],
        identity=IdentityProp.single("vec_id"),
    )
    rows = [
        {"vec_id": r.vec_id, "embedding": [float(x) for x in r.embedding]}
        for r in corpus.filter(F.col("vec_id") < 120).collect()
    ]
    t.append_rows(rows[:100])
    t.commit(lsn=1)

    svc = MoonlinkService(be).start()
    try:
        port = svc.port

        def post(path, body):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}{path}",
                data=_json.dumps(body).encode(),
                headers={"Content-Type": "application/json"},
            )
            return _json.loads(urllib.request.urlopen(req).read())

        def get(path):
            return _json.loads(
                urllib.request.urlopen(
                    f"http://127.0.0.1:{port}{path}"
                ).read()
            )

        built = post(
            "/tables/db/emb/vecindex", {"column": "embedding", "k": 4, "iters": 1}
        )
        assert built["trained_rows"] == 100 and built["k"] == 4

        # ingest 20 more rows, then index the delta from the change feed
        t.append_rows(rows[100:])
        t.commit(lsn=2)
        status = post(
            "/tables/db/emb/vecindex/update",
            {"column": "embedding", "since_lsn": 1},
        )
        assert status["appended_rows"] == 20
        assert status["segments"] == 2
        assert not status["retrain_recommended"]
        assert get("/tables/db/emb/vecindex?column=embedding") == status

        res = post(
            "/tables/db/emb/vecindex/query",
            {"column": "embedding", "query_ids": [0, 1], "topk": 3, "nprobe": 2},
        )
        assert res["count"] == 6
        assert {r["query_id"] for r in res["rows"]} == {0, 1}
        # served result equals the direct backend query
        direct = be.query_vector_index(
            "db", "emb", "embedding", [0, 1], topk=3, nprobe=2
        ).orderBy("query_id", "rn").collect()
        assert [
            (r["query_id"], r["neighbor_id"], r["rn"]) for r in res["rows"]
        ] == [(r.query_id, r.neighbor_id, r.rn) for r in direct]

        # a delete makes the status report a recommended retrain
        t.delete_rows([{"vec_id": 5}])
        t.commit(lsn=3)
        status = post(
            "/tables/db/emb/vecindex/update",
            {"column": "embedding", "since_lsn": 2},
        )
        assert status["stale_rows"] == 1 and status["retrain_recommended"]
    finally:
        svc.stop()


@pytest.mark.slow
def test_auto_retrain_timer_restores_recall(spark, corpus, tmp_path):
    """The timer-driven maintenance loop (index_merge_config.rs trigger
    parity): drifted inserts trip retrain_recommended, the ticker
    retrains the table-owned index, and post-retrain recall@k for the
    drifted queries is at least the stale-index recall."""
    import time

    import numpy as np

    from moonlink_spark.backend import MoonlinkBackend
    from moonlink_spark.table.identity import IdentityProp

    be = MoonlinkBackend(spark, str(tmp_path / "wh"))
    t = be.create_table(
        "db",
        "emb",
        [
            {"name": "vec_id", "data_type": "int64", "nullable": False},
            {
                "name": "embedding",
                "data_type": "list",
                "item": {"data_type": "float32"},
            },
        ],
        identity=IdentityProp.single("vec_id"),
    )
    base = [
        {"vec_id": r.vec_id, "embedding": [float(x) for x in r.embedding]}
        for r in corpus.filter(F.col("vec_id") < 250).collect()
    ]
    t.append_rows(base)
    t.commit(lsn=1)
    be.build_vector_index("db", "emb", "embedding", k=4, iters=2)

    # drifted cluster: far outside the training distribution
    rng = np.random.default_rng(7)
    dim = len(base[0]["embedding"])
    drift_center = rng.normal(30.0, 1.0, dim)
    drifted = [
        {
            "vec_id": 1_000_000 + i,
            "embedding": [
                float(x) for x in drift_center + rng.normal(0, 0.5, dim)
            ],
        }
        for i in range(60)
    ]
    t.append_rows(drifted)
    t.commit(lsn=2)
    be.update_vector_index("db", "emb", "embedding", since_lsn=1)
    status = be.vector_index_status("db", "emb", "embedding")
    assert status["retrain_recommended"], "drift signal should have tripped"

    def recall_at_k(query_ids, k=5):
        # ground truth: brute-force cosine over the full live corpus
        rows = t.scan().collect()
        vecs = {r.vec_id: np.asarray(r.embedding, dtype=float) for r in rows}
        hits = 0
        for qid in query_ids:
            qv = vecs[qid]

            def cos(v):
                return float(
                    v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv) + 1e-12)
                )

            truth = sorted(
                (i for i in vecs if i != qid),
                key=lambda i: -cos(vecs[i]),
            )[:k]
            got = [
                r.neighbor_id
                for r in be.query_vector_index(
                    "db", "emb", "embedding", [qid], topk=k, nprobe=1
                ).collect()
            ]
            hits += len(set(truth) & set(got))
        return hits / (k * len(query_ids))

    qids = [1_000_000 + i for i in range(5)]
    stale_recall = recall_at_k(qids)

    ticker = be.start_vector_index_maintenance(
        "db", "emb", "embedding", interval_s=0.3
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            s = be.vector_index_status("db", "emb", "embedding")
            if not s["retrain_recommended"] and s["appended_rows"] == 0:
                break
            time.sleep(0.3)
        else:
            raise AssertionError("timer never retrained the index")
    finally:
        ticker.stop()

    post_recall = recall_at_k(qids)
    assert post_recall >= stale_recall
    # the retrained index must answer drifted queries well: their true
    # neighbors are other drifted points in a tight, now-centroided blob
    assert post_recall >= 0.8, f"post-retrain recall {post_recall}"


# --------------------------------------------------------------------------- #
# IVF-PQ segments (round 11): product-quantized codes ride the same
# segment/compaction lifecycle; serving is ADC shortlist + exact rerank.
# --------------------------------------------------------------------------- #

PQ = {"m": 8, "ksub": 256, "iters": 2}


def test_pq_compaction_preserves_codes(spark, corpus, index_dir):
    """Compaction invariance for PQ segments: the merged segment carries
    the exact same (vec_id, cluster_id, d2, codes) rows."""
    vecindex.build_index(
        spark, corpus.filter(F.col("vec_id") < 150), index_dir,
        k=4, iters=1, pq={"m": 4, "ksub": 16, "iters": 1},
    )
    vecindex.update_index(
        spark,
        corpus.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 300)),
        index_dir,
    )
    before = {
        (r.vec_id, r.cluster_id, r.d2, tuple(r.codes))
        for r in vecindex.read_assignments(spark, index_dir).collect()
    }
    assert before and all(len(c) == 4 for *_rest, c in before)
    assert vecindex.compact_index(spark, index_dir) == 2
    after = {
        (r.vec_id, r.cluster_id, r.d2, tuple(r.codes))
        for r in vecindex.read_assignments(spark, index_dir).collect()
    }
    assert after == before


def test_pq_update_assigns_against_existing_codebooks(spark, corpus, index_dir):
    """Incremental update must NOT retrain: codes of pre-existing rows
    are byte-identical before and after an update, and new rows' codes
    come from the frozen codebooks."""
    import json

    meta1 = vecindex.build_index(
        spark, corpus.filter(F.col("vec_id") % 2 == 0), index_dir,
        k=4, iters=1, pq={"m": 4, "ksub": 16, "iters": 1},
    )
    old = {
        r.vec_id: tuple(r.codes)
        for r in vecindex.read_assignments(spark, index_dir).collect()
    }
    meta2 = vecindex.update_index(
        spark, corpus.filter(F.col("vec_id") % 2 == 1), index_dir
    )
    assert json.dumps(meta1["pq"]) == json.dumps(meta2["pq"])  # frozen books
    now = {
        r.vec_id: tuple(r.codes)
        for r in vecindex.read_assignments(spark, index_dir).collect()
    }
    assert all(now[v] == c for v, c in old.items())
    assert len(now) > len(old)


def test_pq_recall_at_least_95pct_of_sq(spark, corpus, tmp_path):
    """The serving-format pin from the r10 verdict: with m=8 x 256-entry
    codebooks and rerank=4*topk, PQ-served top-k recall against the
    brute-force ground truth is >= 95% of the flat (SQ) index's recall
    at the same nprobe, on the planted query set."""
    from pyspark.sql import Window

    from moonlink_spark.operators.similarity import _dot, _norm

    queries = list(range(10))
    topk = 3
    # ground truth: brute-force cosine top-k
    qe = corpus.filter(F.col("vec_id").isin(queries)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    ce = corpus.select("vec_id", F.col("embedding").alias("ce"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    truth_rows = (
        ce.join(F.broadcast(qe))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", _dot("qe", "ce") / (_norm("qe") * _norm("ce")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select("query_id", "vec_id")
        .collect()
    )
    truth = {(r.query_id, r.vec_id) for r in truth_rows}

    def recall(dest, **kw):
        rows = vecindex.query_topk(
            spark, corpus, dest, query_ids=queries, topk=topk, nprobe=2, **kw
        ).collect()
        got = {(r.query_id, r.neighbor_id) for r in rows}
        return len(got & truth) / len(truth)

    flat_dir = str(tmp_path / "flat")
    vecindex.build_index(
        spark, corpus.filter(F.col("vec_id") % 2 == 0), flat_dir, k=8, iters=2
    )
    vecindex.update_index(
        spark, corpus.filter(F.col("vec_id") % 2 == 1), flat_dir
    )
    pq_dir = str(tmp_path / "pq")
    vecindex.build_index(
        spark, corpus.filter(F.col("vec_id") % 2 == 0), pq_dir,
        k=8, iters=2, pq=PQ,
    )
    vecindex.update_index(
        spark, corpus.filter(F.col("vec_id") % 2 == 1), pq_dir
    )
    r_flat = recall(flat_dir)
    r_pq = recall(pq_dir, rerank=4 * topk)
    assert r_pq >= 0.95 * r_flat, (r_pq, r_flat)

    # rerank=0 (pure ADC): ranks on the integer code distance alone,
    # never touching the full-precision corpus after probing — the
    # schema drops cosine for the integer adc. Measured recall@3 on
    # this corpus: 0.30 vs 0.83 flat/reranked (nprobe=2) — the fixture
    # vectors are RANDOM, PQ's adversarial case (no cluster structure
    # for the codebooks to exploit), and rank-3 ADC noise is exactly
    # what the rerank stage exists to absorb (the >=0.95*flat pin
    # above proves rerank=4*topk restores it). The pure-ADC pin is an
    # absolute floor: a drop below 0.2 means codes stopped carrying
    # signal (e.g. a codebook/table indexing regression), which is the
    # failure mode this guards — not a recall SLO; operators who need
    # recall choose rerank>0 (SCALE.md §16 records the tradeoff).
    adc_rows = vecindex.query_topk(
        spark, corpus, pq_dir, query_ids=queries, topk=topk, nprobe=2,
        rerank=0,
    ).collect()
    assert adc_rows and set(adc_rows[0].asDict()) == {
        "query_id", "neighbor_id", "adc", "rn"
    }
    got = {(r.query_id, r.neighbor_id) for r in adc_rows}
    r_adc = len(got & truth) / len(truth)
    assert r_adc >= 0.2, (r_adc, r_flat)


@pytest.mark.slow
def test_pq_index_over_http_and_rebuild_inherits_pq(spark, corpus, tmp_path):
    """PQ through every owning surface: build with pq over HTTP, status
    reports the format, CDC update assigns codes against the frozen
    codebooks, query accepts rerank — and a k-only rebuild INHERITS the
    PQ config instead of silently downgrading the serving format to
    flat (the drift-triggered auto-retrain path calls build without
    pq)."""
    import json as _json
    import urllib.request

    from moonlink_spark.backend import MoonlinkBackend
    from moonlink_spark.service import MoonlinkService
    from moonlink_spark.table.identity import IdentityProp

    be = MoonlinkBackend(spark, str(tmp_path / "whpq"))
    t = be.create_table(
        "db",
        "emb",
        [
            {"name": "vec_id", "data_type": "int64", "nullable": False},
            {
                "name": "embedding",
                "data_type": "list",
                "item": {"data_type": "float32"},
            },
        ],
        identity=IdentityProp.single("vec_id"),
    )
    rows = [
        {"vec_id": r.vec_id, "embedding": [float(x) for x in r.embedding]}
        for r in corpus.filter(F.col("vec_id") < 120).collect()
    ]
    t.append_rows(rows[:100])
    t.commit(lsn=1)

    svc = MoonlinkService(be).start()
    try:
        port = svc.port

        def post(path, body):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}{path}",
                data=_json.dumps(body).encode(),
                headers={"Content-Type": "application/json"},
            )
            return _json.loads(urllib.request.urlopen(req).read())

        def get(path):
            return _json.loads(
                urllib.request.urlopen(
                    f"http://127.0.0.1:{port}{path}"
                ).read()
            )

        post(
            "/tables/db/emb/vecindex",
            {"column": "embedding", "k": 4, "iters": 1,
             "pq": {"m": 4, "ksub": 16, "iters": 1}},
        )
        status = get("/tables/db/emb/vecindex?column=embedding")
        assert status["pq"] == {"m": 4, "ksub": 16}

        t.append_rows(rows[100:])
        t.commit(lsn=2)
        status = post(
            "/tables/db/emb/vecindex/update",
            {"column": "embedding", "since_lsn": 1},
        )
        assert status["appended_rows"] == 20 and status["pq"] is not None

        res = post(
            "/tables/db/emb/vecindex/query",
            {"column": "embedding", "query_ids": [0, 1], "topk": 3,
             "nprobe": 2, "rerank": 12},
        )
        assert res["count"] == 6
        direct = be.query_vector_index(
            "db", "emb", "embedding", [0, 1], topk=3, nprobe=2, rerank=12
        ).orderBy("query_id", "rn").collect()
        assert [
            (r["query_id"], r["neighbor_id"], r["rn"]) for r in res["rows"]
        ] == [(r.query_id, r.neighbor_id, r.rn) for r in direct]

        # rerank=0 over HTTP: pure-ADC serving — the schema swaps cosine
        # for the integer adc, and 0 must NOT be treated as "default"
        # (falsy-vs-None is the easy bug here)
        adc_res = post(
            "/tables/db/emb/vecindex/query",
            {"column": "embedding", "query_ids": [0, 1], "topk": 3,
             "nprobe": 2, "rerank": 0},
        )
        assert adc_res["count"] == 6
        assert set(adc_res["rows"][0]) == {
            "query_id", "neighbor_id", "adc", "rn"
        }
        adc_direct = be.query_vector_index(
            "db", "emb", "embedding", [0, 1], topk=3, nprobe=2, rerank=0
        ).orderBy("query_id", "rn").collect()
        assert [
            (r["query_id"], r["neighbor_id"], r["adc"], r["rn"])
            for r in adc_res["rows"]
        ] == [(r.query_id, r.neighbor_id, r.adc, r.rn) for r in adc_direct]

        # rebuild WITHOUT pq in the request: the serving format survives
        rebuilt = post(
            "/tables/db/emb/vecindex", {"column": "embedding", "k": 4,
                                        "iters": 1}
        )
        assert rebuilt["trained_rows"] == 120
        status = get("/tables/db/emb/vecindex?column=embedding")
        assert status["pq"] == {"m": 4, "ksub": 16}
        assert status["segments"] == 1  # rebuilt into one PQ segment
    finally:
        svc.stop()


def test_pq_crash_between_segment_persist_and_meta_publish(
    spark, corpus, tmp_path, monkeypatch
):
    """Chaos for the r11 PQ lifecycle (verdict r11 ask): kill the writer
    AFTER codebooks/segments hit disk but BEFORE the atomic meta
    publish, in both build and incremental update. Invariants (the
    reference's chaos_test.rs shape): readers never see the unpublished
    state, the orphan segment stays invisible forever, and a retried
    build/update converges to exactly the clean outcome."""
    half = corpus.filter(F.col("vec_id") % 2 == 0)
    rest = corpus.filter(F.col("vec_id") % 2 == 1)
    pq = {"m": 4, "ksub": 16, "iters": 1}

    # clean twin for the expected outcome
    clean = str(tmp_path / "clean")
    vecindex.build_index(spark, half, clean, k=4, iters=1, pq=pq)
    vecindex.update_index(spark, rest, clean)
    want = {
        (r.vec_id, r.cluster_id, r.d2, tuple(r.codes))
        for r in vecindex.read_assignments(spark, clean).collect()
    }

    # (1) kill build between segment write and meta publish
    crash = str(tmp_path / "crash")
    real_write_meta = vecindex._write_meta
    monkeypatch.setattr(
        vecindex, "_write_meta",
        lambda dest, meta: (_ for _ in ()).throw(
            RuntimeError("killed before meta publish")
        ),
    )
    with pytest.raises(RuntimeError):
        vecindex.build_index(spark, half, crash, k=4, iters=1, pq=pq)
    monkeypatch.setattr(vecindex, "_write_meta", real_write_meta)
    # no meta => no readable index; the orphan segment is on disk
    assert not os.path.exists(os.path.join(crash, vecindex.META_FILE))
    orphans = [f for f in os.listdir(crash) if f.startswith("assign-")]
    assert len(orphans) == 1
    # retry the build: meta lists ONLY its own segment; orphan invisible
    vecindex.build_index(spark, half, crash, k=4, iters=1, pq=pq)
    meta = vecindex.read_meta(crash)
    assert len(meta["segments"]) == 1 and meta["segments"][0] not in orphans

    # (2) kill update between segment write and meta publish
    calls = {"n": 0}

    def dying_write_meta(dest, meta):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("killed before meta publish")
        real_write_meta(dest, meta)

    monkeypatch.setattr(vecindex, "_write_meta", dying_write_meta)
    with pytest.raises(RuntimeError):
        vecindex.update_index(spark, rest, crash)
    # the failed update is invisible: still generation 1, one live segment
    meta = vecindex.read_meta(crash)
    assert meta["generation"] == 1 and len(meta["segments"]) == 1
    n_before = vecindex.read_assignments(spark, crash).count()
    assert n_before == half.count()
    # retried update lands exactly once and equals the clean twin
    vecindex.update_index(spark, rest, crash)
    got = {
        (r.vec_id, r.cluster_id, r.d2, tuple(r.codes))
        for r in vecindex.read_assignments(spark, crash).collect()
    }
    assert got == want
    # and the crash-build/crash-update orphans never became visible
    live = set(vecindex.read_meta(crash)["segments"])
    on_disk = {f for f in os.listdir(crash) if f.startswith("assign-")}
    assert live < on_disk  # orphans exist on disk...
    served = vecindex.query_topk(
        spark, corpus, crash, query_ids=[0, 1], topk=3, nprobe=2, rerank=0
    ).count()
    assert served == 6  # ...and serving works off the live set only


def test_pure_adc_plan_never_scans_the_corpus(
    spark, corpus, index_dir, job_plans, monkeypatch
):
    """Job-level lock for the rerank=0 claim. The index segments are read
    on the driver, and so is the plain parquet corpus: a reranked and a
    pure-ADC query run no Spark job. With the driver read's row bound
    forced to 0 the corpus fetches are Spark collects, each pushing an
    In(vec_id, ...) filter: pure-ADC serving runs ONE, the query-vector
    fetch In(vec_id, [queries]), and the reranked query one more, whose
    scan pushes In(vec_id, shortlist): at most queries x rerank ids,
    none a query id, holding every returned neighbour."""
    import re

    vecindex.build_index(
        spark, corpus, index_dir, k=4, iters=1,
        pq={"m": 4, "ksub": 16, "iters": 1},
    )

    def corpus_reads(rerank):
        with job_plans() as plans:
            rows = vecindex.query_topk(
                spark, corpus, index_dir, query_ids=[0, 1], topk=3,
                nprobe=2, rerank=rerank,
            ).collect()
            jobs, execs = plans()
        assert len(execs) == len(jobs), (jobs, execs)  # one job each
        reads = []
        for plan in execs:
            scans = re.findall(r"\(\d+\) Scan parquet.*?\n\n", plan, re.S)
            assert len(scans) == 1 and "embeddings" in scans[0], plan
            assert "assign-" not in plan and index_dir not in plan
            pushed = re.search(r"PushedFilters: \[In\(vec_id, \[([^\]]*)\]\)", plan)
            assert pushed, plan
            reads.append({int(x) for x in pushed.group(1).split(",")})
        return rows, reads

    driver = {}
    for rerank in (0, 12):
        driver[rerank], reads = corpus_reads(rerank)
        assert reads == []
    monkeypatch.setattr(vecindex, "DRIVER_FETCH_MAX_ROWS", 0)
    rows, reads = corpus_reads(0)
    assert rows == driver[0] and {r.query_id for r in rows} == {0, 1}
    assert reads == [{0, 1}]
    rows, reads = corpus_reads(12)
    assert rows == driver[12]
    assert len(reads) == 2 and reads[0] == {0, 1}
    shortlist = reads[1]
    assert 3 <= len(shortlist) <= 2 * 12 and not shortlist & {0, 1}
    assert {r.neighbor_id for r in rows} <= shortlist


# --------------------------------------------------------------------- #
# driver-served query_topk against the DuckDB oracles and brute force
# --------------------------------------------------------------------- #

PQ8 = {"m": 8, "ksub": 256, "iters": 2}


def _lifecycle(spark, corpus, dest, pq=None):
    """The oracles' lifecycle: build on the even half, update with the
    odd half (two live segments)."""
    vecindex.build_index(
        spark, corpus.filter(F.col("vec_id") % 2 == 0), dest, k=8, iters=2, pq=pq
    )
    vecindex.update_index(spark, corpus.filter(F.col("vec_id") % 2 == 1), dest)
    assert len(vecindex.read_meta(dest)["segments"]) == 2


def test_driver_topk_matches_duckdb_oracles(spark, corpus, sf_dir, tmp_path):
    """Differential: flat and PQ indexes, rerank 12 / default / 0 / more
    than the candidate count, nprobe 2 and nprobe > k, on two live
    segments and again after compaction, equal the DuckDB replays of
    the whole lifecycle; float64 embeddings give the same rows."""
    from moonlink_spark.operators.similarity import (
        _ann_index_oracle,
        _ann_index_pq_oracle,
    )
    from moonlink_spark.testing import compare, duckdb_conn

    con = duckdb_conn(sf_dir)
    flat, pq_dir = str(tmp_path / "flat"), str(tmp_path / "pq")
    _lifecycle(spark, corpus, flat)
    _lifecycle(spark, corpus, pq_dir, pq=PQ8)
    f64 = corpus.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cases = [
        (flat, {"nprobe": 2}, _ann_index_oracle(nprobe=2)),
        (flat, {"nprobe": 9}, _ann_index_oracle(nprobe=9)),
        (pq_dir, {"nprobe": 2, "rerank": 12}, _ann_index_pq_oracle(rerank=12)),
        (pq_dir, {"nprobe": 2}, _ann_index_pq_oracle(rerank=12)),  # default
        (pq_dir, {"nprobe": 2, "rerank": 1000}, _ann_index_pq_oracle(rerank=1000)),
        (pq_dir, {"nprobe": 9, "rerank": 12}, _ann_index_pq_oracle(nprobe=9)),
        (pq_dir, {"nprobe": 2, "rerank": 0}, _ann_index_pq_oracle(pure_adc=True)),
    ]
    oracles = {sql: con.execute(sql).fetchall() for _, _, sql in cases}
    try:
        for compacted in (False, True):
            if compacted:
                assert vecindex.compact_index(spark, flat) == 2
                assert vecindex.compact_index(spark, pq_dir) == 2
            for dest in (flat, pq_dir):  # segments are sorted by cluster
                for path in segstore.live_segment_paths(
                    dest, vecindex.read_meta(dest), "assign"
                ):
                    cid = pq.read_table(path, columns=["cluster_id"])["cluster_id"]
                    assert cid.to_pylist() == sorted(cid.to_pylist())
            for dest, kw, sql in cases:
                got = vecindex.query_topk(
                    spark, corpus, dest, list(range(10)), topk=3, **kw
                )
                res = compare(got, con, sql)
                assert res["value_match"], (dest, kw, compacted, res)
                assert len(oracles[sql]) == 30
                if "rerank" in kw and kw["rerank"] == 0:
                    continue
                wide = vecindex.query_topk(
                    spark, f64, dest, list(range(10)), topk=3, **kw
                ).collect()
                assert sorted(map(tuple, wide)) == sorted(map(tuple, got.collect()))
    finally:
        con.close()


def test_driver_topk_equals_brute_force_cosine(spark, corpus, tmp_path):
    """A flat index probed on every cluster returns the exact cosine
    top-k over the whole corpus (numpy brute force, query excluded)."""
    import numpy as np

    dest = str(tmp_path / "flat")
    vecindex.build_index(spark, corpus, dest, k=4, iters=1)
    rows = corpus.collect()
    ids = np.asarray([r.vec_id for r in rows])
    X = np.asarray([r.embedding for r in rows], dtype=np.float64)
    unit = X / np.linalg.norm(X, axis=1, keepdims=True)
    queries = [int(i) for i in ids[:6]]
    got = vecindex.query_topk(
        spark, corpus, dest, queries, topk=4, nprobe=4
    ).collect()
    for q in queries:
        cos = unit @ unit[list(ids).index(q)]
        cos[ids == q] = -np.inf
        best = ids[np.argsort(-cos, kind="stable")[:4]]
        mine = sorted((r for r in got if r.query_id == q), key=lambda r: r.rn)
        assert [r.neighbor_id for r in mine] == list(best)
        assert np.allclose(
            [r.cosine for r in mine], cos[np.isin(ids, best)][np.argsort(-cos[np.isin(ids, best)])], atol=1e-6
        )


def test_pure_adc_ties_break_on_vec_id(spark, tmp_path):
    """Identical vectors have identical codes, so their ADC distances tie:
    rerank=0 ranks them by vec_id, exactly as a numpy ADC brute force
    over the persisted codes and codebooks does."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.normal(size=(12, 8))
    rows = [(i, [float(x) for x in base[i // 4]]) for i in range(48)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    dest = str(tmp_path / "ties")
    meta = vecindex.build_index(
        spark, emb, dest, k=3, iters=1, pq={"m": 2, "ksub": 8, "iters": 1}
    )
    books = [np.asarray(cb, dtype=np.int64) for cb in meta["pq"]["codebooks"]]
    codes = {
        r.vec_id: list(r.codes)
        for r in vecindex.read_assignments(spark, dest).collect()
    }
    qv = {
        r.vec_id: np.floor(np.asarray(r.embedding, dtype=np.float64) * 1e6).astype(np.int64)
        for r in emb.collect()
    }
    queries = [0, 5, 13, 47]
    got = vecindex.query_topk(
        spark, emb, dest, queries, topk=6, nprobe=3, rerank=0
    ).collect()
    for q in queries:
        T = [((B - qv[q][s * 4:(s + 1) * 4]) ** 2).sum(axis=1) for s, B in enumerate(books)]
        adc = {v: int(sum(T[s][c] for s, c in enumerate(cs))) for v, cs in codes.items() if v != q}
        want = sorted(adc, key=lambda v: (adc[v], v))[:6]
        mine = sorted((r for r in got if r.query_id == q), key=lambda r: r.rn)
        assert [(r.neighbor_id, r.adc) for r in mine] == [(v, adc[v]) for v in want]
        # at least the query's 3 copies tie, so the order is the tie-break
        assert mine[0].adc == mine[2].adc
        assert {v for v in range(q // 4 * 4, q // 4 * 4 + 4) if v != q} <= {
            v for v in adc if adc[v] == mine[0].adc
        }


def test_empty_index_and_batch_cap(spark, corpus, tmp_path):
    """An index whose centroid matrix is empty (the meta a degenerate
    empty-corpus build leaves) probes nothing: queries return no rows,
    with the usual schemas. A batch over MAX_QUERY_BATCH ids raises
    before any Spark work and names the distributed operator."""
    dest = str(tmp_path / "empty")
    meta = vecindex.build_index(
        spark, corpus, dest, k=4, iters=1, pq={"m": 4, "ksub": 16, "iters": 1}
    )
    vecindex._write_meta(dest, {**meta, "centroids": []})
    out = vecindex.query_topk(spark, corpus, dest, [0, 1], topk=3, nprobe=2)
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rn"]
    assert out.collect() == []
    adc = vecindex.query_topk(spark, corpus, dest, [0, 1], nprobe=2, rerank=0)
    assert adc.columns == ["query_id", "neighbor_id", "adc", "rn"]
    assert adc.collect() == []
    with pytest.raises(ValueError, match="probe_ivf_clusters"):
        vecindex.query_topk(
            spark, corpus, dest, list(range(vecindex.MAX_QUERY_BATCH + 1))
        )


def test_bounded_sorted_segments_and_meta_reresolve(
    spark, corpus, tmp_path, monkeypatch
):
    """Segments are written in row groups of at most
    SEGMENT_ROW_GROUP_ROWS, sorted by cluster_id, so each row group
    spans a narrow cluster range. A query that resolved a meta whose
    segments a compaction then unlinked re-reads the meta once and
    returns what a fresh query returns."""
    monkeypatch.setattr(segstore, "SEGMENT_ROW_GROUP_ROWS", 64)
    dest = str(tmp_path / "pq")
    _lifecycle(spark, corpus, dest, pq={"m": 4, "ksub": 16, "iters": 1})
    stale = vecindex.read_meta(dest)
    for path in segstore.live_segment_paths(dest, stale, "assign"):
        md = pq.ParquetFile(path).metadata
        assert md.num_row_groups > 1
        assert all(md.row_group(g).num_rows <= 64 for g in range(md.num_row_groups))
    assert vecindex.compact_index(spark, dest) == 2  # unlinks stale's segments
    want = vecindex.query_topk(spark, corpus, dest, list(range(6)), nprobe=2)
    real, reads = vecindex.read_meta, []

    def first_stale(d):
        reads.append(d)
        return stale if len(reads) == 1 else real(d)

    monkeypatch.setattr(vecindex, "read_meta", first_stale)
    got = vecindex.query_topk(spark, corpus, dest, list(range(6)), nprobe=2)
    assert len(reads) == 2
    assert got.collect() == want.collect()


# --------------------------------------------------------------------- #
# the corpus fetch: a plain parquet corpus is read on the driver with
# pyarrow; the Spark collect (forced by a zero row bound) maps alike
# --------------------------------------------------------------------- #

# a directory name Spark percent-encodes in its file URIs
ODD = "sp ace %41x #\u00e9"


def _write_corpus(directory, parts, value_type=pa.float64()):
    """Each part, a list of (vec_id, embedding), as one parquet file in
    ``directory`` with an extra ``tag`` column, in row groups of 16
    rows."""
    os.makedirs(directory, exist_ok=True)
    for i, rows in enumerate(parts):
        tbl = pa.table(
            {
                "vec_id": pa.array([v for v, _ in rows], pa.int64()),
                "tag": pa.array([f"t{v}" for v, _ in rows]),
                "embedding": pa.array([e for _, e in rows], pa.list_(value_type)),
            }
        )
        pq.write_table(tbl, os.path.join(directory, f"part-{i}.parquet"), row_group_size=16)


def _legs(monkeypatch, job_counter, emb, ids):
    """``_fetch(emb, ids)`` read on the driver (no Spark job) and through
    the Spark collect (forced by a zero row bound)."""
    with job_counter() as jobs:
        driver = vecindex._fetch(emb, ids)
        assert jobs() == 0
    with monkeypatch.context() as m:
        m.setattr(vecindex, "DRIVER_FETCH_MAX_ROWS", 0)
        with job_counter() as jobs:
            collect = vecindex._fetch(emb, ids)
            assert jobs() >= 1
    return driver, collect


@pytest.mark.parametrize("project", [False, True], ids=["bare", "select"])
def test_driver_fetch_equals_spark_collect(
    spark, tmp_path, monkeypatch, job_counter, project
):
    """A two-file float64 corpus under a percent-encoded directory, read
    bare or through a select of bare columns, is fetched on the driver
    with the collect's mapping: absent ids stay absent, a null vec_id
    never matches, a null embedding comes back null; query_topk returns
    the same rows on both legs, with no Spark job on the driver leg,
    from an index whose null-vec_id row names no corpus row."""
    import numpy as np

    rng = np.random.default_rng(7)
    vec = {v: rng.normal(size=8).tolist() for v in range(120)}
    vec[5] = None
    first = [(v, vec[v]) for v in range(60) if v != 7] + [(None, vec[1])]
    d = str(tmp_path / ODD / "corpus")
    _write_corpus(d, [first, [(v, vec[v]) for v in range(60, 120)]])
    emb = spark.read.parquet(d)
    if project:
        emb = emb.select("vec_id", "embedding")
    assert sorted(vecindex._parquet_files(emb)) == [
        os.path.join(d, f"part-{i}.parquet") for i in range(2)
    ]
    # unsorted, with the NaN an index row of a null vec_id lists
    ids = [119.0, float("nan"), 1, 5, 7, 33, 59, 60, 500]
    driver, collect = _legs(monkeypatch, job_counter, emb, ids)
    assert driver == collect
    assert driver == {v: vec[v] for v in (1, 5, 33, 59, 60, 119)}

    dest = str(tmp_path / "idx")
    vecindex.build_index(
        spark, emb.filter(F.col("embedding").isNotNull()), dest, k=3, iters=1
    )
    queries = [0, 1, 60, 118]
    with job_counter() as jobs:
        got = vecindex.query_topk(spark, emb, dest, queries, topk=3, nprobe=2).collect()
        assert jobs() == 0
    monkeypatch.setattr(vecindex, "DRIVER_FETCH_MAX_ROWS", 0)
    assert got == vecindex.query_topk(
        spark, emb, dest, queries, topk=3, nprobe=2
    ).collect()
    assert {r.query_id for r in got} == set(queries)


def test_vec_id_in_two_files_raises_on_both_legs(
    spark, tmp_path, monkeypatch, job_counter
):
    """A vec_id held by rows of two files has no single embedding (Spark
    orders the splits of several files by size), so both legs raise
    when it is fetched; the other ids are fetched alike."""
    d = str(tmp_path / "dup")
    _write_corpus(
        d,
        [
            [(v, [float(v), 1.0]) for v in range(10)],
            [(v, [float(v), 2.0]) for v in range(9, 20)],
        ],
        pa.float32(),
    )
    emb = spark.read.parquet(d)
    with pytest.raises(ValueError, match="vec_id 9 "):
        vecindex._fetch(emb, [3, 9])
    monkeypatch.setattr(vecindex, "DRIVER_FETCH_MAX_ROWS", 0)
    with pytest.raises(ValueError, match="vec_id 9 "):
        vecindex._fetch(emb, [3, 9])
    monkeypatch.undo()
    driver, collect = _legs(monkeypatch, job_counter, emb, [3, 12])
    assert driver == collect == {3: [3.0, 1.0], 12: [12.0, 2.0]}


def test_filtered_or_renamed_corpus_takes_the_collect(
    spark, corpus, sf_dir, tmp_path, job_counter
):
    """A filtered corpus and one whose columns are renamed are not plain
    reads: their fetches are Spark collects, with the same neighbours a
    plain read gives (the filtered one among its own rows only). So is
    a plain read of integer embeddings, which only the collect reads."""
    dest = str(tmp_path / "flat")
    vecindex.build_index(spark, corpus, dest, k=4, iters=1)
    queries = [0, 1, 2, 4]
    # every candidate of every cluster, ranked
    full = vecindex.query_topk(spark, corpus, dest, queries, topk=1000, nprobe=4).collect()
    src = str(tmp_path / "renamed.parquet")
    pq.write_table(
        pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
        .rename_columns(["id", "vec"]),
        src,
    )
    renamed = spark.read.parquet(src).select(
        F.col("id").alias("vec_id"), F.col("vec").alias("embedding")
    )
    evens = corpus.filter(F.col("vec_id") % 2 == 0)
    for emb in (renamed, evens):
        assert vecindex._parquet_files(emb) is None
    with job_counter() as jobs:
        got = vecindex.query_topk(spark, renamed, dest, queries, topk=3, nprobe=4).collect()
        assert jobs() >= 1
    assert got == [r for r in full if r.rn <= 3]
    want = []
    for q in (0, 2, 4):
        kept = [r for r in full if r.query_id == q and r.neighbor_id % 2 == 0][:3]
        want += [(q, r.neighbor_id, r.cosine, rn) for rn, r in enumerate(kept, 1)]
    got = vecindex.query_topk(spark, evens, dest, queries, topk=3, nprobe=4).collect()
    assert [tuple(r) for r in got] == want
    ints = str(tmp_path / "ints.parquet")
    pq.write_table(
        pa.table({"vec_id": [1, 2], "embedding": pa.array([[1, 2], [3, 4]])}), ints
    )
    with job_counter() as jobs:
        assert vecindex._fetch(spark.read.parquet(ints), [2, 5]) == {2: [3, 4]}
        assert jobs() >= 1


def test_corpus_rewritten_after_build_reads_the_new_vectors(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The corpus file is rewritten after the index build: every vec_id
    gets another row's vector, and the rows are shuffled into row groups
    of 50. A flat index probed on every cluster then returns the exact
    cosine top-k over the NEW vectors, on both legs: the driver reads
    the same files Spark reads, so nothing it holds can go stale."""
    import numpy as np

    path = str(tmp_path / "corpus.parquet")
    old = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    pq.write_table(old, path)
    dest = str(tmp_path / "flat")
    vecindex.build_index(spark, spark.read.parquet(path), dest, k=4, iters=1)
    n = old.num_rows
    shifted = old.column("embedding").take(np.roll(np.arange(n), -1))
    new = pa.table({"vec_id": old.column("vec_id"), "embedding": shifted})
    new = new.take(np.random.default_rng(5).permutation(n))
    pq.write_table(new, path, row_group_size=50)
    emb = spark.read.parquet(path)
    assert vecindex._parquet_files(emb) == [path]
    ids = np.asarray(new.column("vec_id").to_pylist())
    X = np.asarray(new.column("embedding").to_pylist(), dtype=np.float64)
    unit = X / np.linalg.norm(X, axis=1, keepdims=True)
    queries = [int(i) for i in sorted(ids)[:6]]
    got = vecindex.query_topk(spark, emb, dest, queries, topk=4, nprobe=4).collect()
    for q in queries:
        cos = unit @ unit[list(ids).index(q)]
        cos[ids == q] = -np.inf
        best = np.argsort(-cos, kind="stable")[:4]
        mine = sorted((r for r in got if r.query_id == q), key=lambda r: r.rn)
        assert [r.neighbor_id for r in mine] == list(ids[best])
        assert np.allclose([r.cosine for r in mine], cos[best], atol=1e-6)
    monkeypatch.setattr(vecindex, "DRIVER_FETCH_MAX_ROWS", 0)
    assert got == vecindex.query_topk(spark, emb, dest, queries, topk=4, nprobe=4).collect()
