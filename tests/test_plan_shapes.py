"""Physical-plan regression tests for the scale properties the operators
claim in their docstrings.

Correctness is gated by the DuckDB oracle sweep; THESE tests gate the plan
shape — the thing that actually decides whether a query survives a 100 TB
run. A refactor that silently turns a bucketed equi-join back into a
cartesian, drops a broadcast hint, or un-pushes a parquet filter should
fail here, not on a 1000-executor cluster.

Only lazy read-path queries are inspected (building their DataFrame runs no
jobs); ingest/iterative operators are exercised by their own e2e tests.
"""

import contextlib
import io

import pytest

from moonlink_spark.operators import all_queries


def plan_of(spark, sf_dir: str, name: str) -> str:
    df = all_queries()[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# Scale-path queries whose whole point is that NO join degenerates into a
# nested-loop/cartesian: LSH banding, bucketed interval join, broadcast-stat
# retrieval, the curation funnel, salted aggregation.
NO_NLJ = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "lsh_near_dup_pairs",
    "interval_range_join",
    "corpus_curation_pipeline",
    "skew_salted_aggregation",
    "stratified_sample_per_group",
    "dedup_exact",
    "skew_salted_join",
    "sequence_pack_bins",
    "full_outer_urgent_vs_returns",
]

# Queries where a BroadcastNestedLoopJoin IS the intended plan (a tiny
# broadcast side with a non-equi condition, or a 1-row corpus-stats
# crossJoin in bm25's case) but a full cartesian of two unbroadcast sides
# never is.
BROADCAST_THETA_OK = [
    "knn_cosine_bruteforce",
    "ann_ivf_topk",
    "embedding_quantize_rerank",
    "contamination_check",
    "bm25_retrieval",
    "source_mixture_weights",
]


@pytest.mark.parametrize("name", NO_NLJ)
def test_no_nested_loop_on_scale_paths(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


@pytest.mark.parametrize("name", BROADCAST_THETA_OK)
def test_no_unbroadcast_cartesian(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name


def test_bucketed_join_reads_colocated_buckets(spark, sf_dir):
    """bucketed_colocated_join's whole claim: the fact-fact join consumes
    the two bucketed scans DIRECTLY — no Exchange may sit below the
    SortMergeJoin (the write-time bucketing satisfies the join's
    distribution requirement). The exchanges above it (groupBy, orderBy)
    are expected and not the demonstration. Formatted-explain node ids
    increase downstream, so every Exchange id must exceed the join's."""
    import re

    plan = plan_of(spark, sf_dir, "bucketed_colocated_join")
    assert "SortMergeJoin" in plan
    nodes = dict(
        (int(i), op) for i, op in re.findall(r"^\((\d+)\) (\w+)", plan, re.M)
    )
    smj = min(i for i, op in nodes.items() if op == "SortMergeJoin")
    exchanges = [i for i, op in nodes.items() if op == "Exchange"]
    assert exchanges, "plan parse failed (agg/sort exchanges expected)"
    assert all(i > smj for i in exchanges), (
        f"Exchange below the bucketed join: {sorted(nodes.items())}"
    )


def test_bucketed_point_read_prunes_buckets(spark, sf_dir):
    """bucketed_point_read's claim: an equality/IN filter on the bucket
    column prunes the scan to only the buckets those keys hash to — the
    physical scan must report a SelectedBucketsCount strictly below the
    8 total (at 100 TB: 3 of thousands of bucket files)."""
    import re

    plan = plan_of(spark, sf_dir, "bucketed_point_read")
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, f"no bucket pruning in plan:\n{plan}"
    assert int(m.group(2)) == 8 and int(m.group(1)) < 8, m.group(0)


def test_q6_filters_reach_parquet_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q6_forecast_revenue")
    # all five predicates push into the parquet reader
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed
    # column pruning: the scan must not read columns q6 never touches
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_returnflag" not in read_schema
    assert "l_orderkey" not in read_schema


def test_q3_broadcasts_the_small_dimension(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lsh_band_join_is_an_equijoin(spark, sf_dir):
    # the band bucket self-join must be an equi hash join (broadcast at
    # tiny SF, shuffled + AQE-skew-splittable at scale), never a nested
    # loop over signature pairs
    plan = plan_of(spark, sf_dir, "lsh_near_dup_pairs")
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_interval_join_has_single_bucket_equijoin(spark, sf_dir):
    # the theta range condition must appear only as a post-join Filter /
    # join residual, with the join itself keyed on the time bucket
    plan = plan_of(spark, sf_dir, "interval_range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_pair_join_is_equijoin(spark, sf_dir):
    # the within-cluster pair join must key on cluster_id (hash join /
    # sort-merge); the only nested loop allowed is the tiny centroid
    # broadcast crossJoin of the assignment stage
    plan = plan_of(spark, sf_dir, "semantic_dedup_ivf")
    assert "CartesianProduct" not in plan
    # the pair join itself must be an equi join keyed on cluster_id (the
    # assignment stage's tiny centroid broadcast crossJoin is the only
    # nested loop, and it appears inside the cached assignment subtree)
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
    assert "cluster_id" in plan


def test_keep_best_dedup_single_window_no_join(spark, sf_dir):
    # cluster survivor selection is ONE window over the content key plus a
    # rollup — no join anywhere in the plan
    plan = plan_of(spark, sf_dir, "dedup_keep_best_quality")
    assert "Join" not in plan
    assert "Window" in plan


def test_no_cartesian_anywhere_in_read_paths(spark, sf_dir):
    """Global guard: NO registered read-path query may plan a
    CartesianProduct. (Ingest/streaming/UDTF queries execute work at
    build time and are exercised by their own e2e tests; kmeans is
    iterative.) The all-pairs baselines broadcast one side, which Spark
    plans as BroadcastNestedLoopJoin — bounded by the broadcast size —
    never an unbounded CartesianProduct."""
    from moonlink_spark.operators import all_queries

    skip_cats = {"ingest", "streaming", "udtf", "multimodal", "pipeline"}
    offenders = []
    for name, spec in all_queries().items():
        # ivf_kmeans_train / embedding_pca_power_scores run distributed
        # jobs at DataFrame-build time (iterative / sufficient-statistic
        # collection); building their plan IS an execution, so they are
        # excluded from this plan-only sweep like the ingest categories
        if spec.category in skip_cats or name in (
            "ivf_kmeans_train",
            "embedding_pca_power_scores",
            "ann_index_lifecycle_topk",
            # the PQ lifecycles likewise run build/update/compact/serve
            # at DataFrame-build time and return a COLLECTED local
            # result — "planning" them executes ~20s of lifecycle to
            # inspect a LocalTableScan that cannot contain a join
            "ann_index_pq_topk",
            "ann_index_pq_adc_topk",
        ):
            continue
        plan = plan_of(spark, sf_dir, name)
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_all_pairs_baseline_guarded(spark, monkeypatch):
    """The labeled O(N²) recall baseline must refuse big inputs instead of
    silently launching a cartesian at scale (r3 VERDICT weak item #3)."""
    import pytest

    from moonlink_spark.operators import similarity

    similarity.ensure_all_pairs_scale(1000)  # small: fine
    with pytest.raises(ValueError, match="O\\(N\\^2\\)"):
        similarity.ensure_all_pairs_scale(similarity.ALL_PAIRS_MAX_ROWS + 1)

    # and the registered query actually routes through the guard
    monkeypatch.setattr(similarity, "ALL_PAIRS_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="all-pairs baseline refused"):
        similarity.embedding_near_dup_pairs(spark, "/root/testdata/sf0.001")


def test_unparseable_shuffle_partitions_warns(monkeypatch):
    """A bad SPARK_GRAFT_SHUFFLE_PARTITIONS falls back to the core-count
    default and says so, naming the value and the default used."""
    from moonlink_spark.session import _default_shuffle_partitions

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "12")
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "lots")
    with pytest.warns(UserWarning, match="'lots'.*default of 12"):
        assert _default_shuffle_partitions() == "12"
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "5")
    assert _default_shuffle_partitions() == "5"


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_point_lookup_and_ann_plans_build_no_rdd_relations(
    spark, sf_dir, tmp_path, job_counter
):
    """Driver-bounded reads are answered on the driver and returned as
    Arrow-built LocalRelations: a point lookup with a list-built key
    batch and a PQ top-k query analyze to plans without a LogicalRDD.
    The lookup on a fully index-covered table with one DV runs at most
    1 job, the collect of the caller's key batch: rows are read by
    position, so any Spark probe, file scan or DV join pushes it over.
    A plain scan of that table runs at most 2 (DV broadcast and data
    scan). The top-k query over a plain parquet corpus runs no job,
    reranked or with rerank=0: the index and the query and shortlist
    vectors are read with pyarrow, so any Spark fetch, ADC or rerank
    stage pushes it over."""
    from moonlink_spark.operators import load
    from moonlink_spark.table import vecindex
    from moonlink_spark.table.identity import IdentityProp
    from moonlink_spark.table.table import MoonlinkTable

    t = MoonlinkTable.create(
        spark,
        str(tmp_path / "t"),
        [
            {"name": "id", "data_type": "int64", "nullable": False},
            {"name": "v", "data_type": "string"},
        ],
        IdentityProp.single("id"),
        key_index=True,
    )
    for c in range(3):
        t.append_rows([{"id": i, "v": f"v{i}"} for i in range(c * 100, c * 100 + 100)])
        t.commit(lsn=c + 1)
    t.delete_rows([{"id": 7}])
    t.commit(lsn=4)
    assert len(t.manifest.delete_files) == 1

    rdd_keys = spark.createDataFrame([(5,), (7,), (150,), (999,)], "id long")
    assert "LogicalRDD" in _analyzed(rdd_keys)
    with job_counter() as jobs:
        got = t.scan_keys(rdd_keys)
        assert "LogicalRDD" not in _analyzed(got)
        assert sorted(r.id for r in got.collect()) == [5, 150]
        assert jobs() <= 1
    # the DV side is read with its known schema: no footer-inference job
    with job_counter() as jobs:
        assert len(t.scan().collect()) == 299
        assert jobs() <= 2

    corpus = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dest = str(tmp_path / "vec")
    vecindex.build_index(
        spark, corpus, dest, k=4, iters=1, pq={"m": 4, "ksub": 16, "iters": 1}
    )
    with job_counter() as jobs:
        top = vecindex.query_topk(spark, corpus, dest, [0, 1], topk=2, nprobe=2)
        assert "LogicalRDD" not in _analyzed(top)
        assert {r.query_id for r in top.collect()} == {0, 1}
        n_jobs = jobs()
    assert n_jobs == 0, n_jobs
    with job_counter() as jobs:
        top = vecindex.query_topk(
            spark, corpus, dest, [0, 1], topk=2, nprobe=2, rerank=0
        )
        assert {r.query_id for r in top.collect()} == {0, 1}
        n_jobs = jobs()
    assert n_jobs == 0, n_jobs


def test_keyed_commit_jobs(spark, tmp_path, job_counter):
    """A keyed upsert commit on a key-indexed table runs at most 3 Spark
    jobs, and at most 4 once the table has a DV (its broadcast): delete
    targeting and the key-index build label rows with their manifest
    path through a literal map, so no broadcast of a local path relation
    adds a job."""
    from moonlink_spark.table.identity import IdentityProp
    from moonlink_spark.table.table import MoonlinkTable

    t = MoonlinkTable.create(
        spark,
        str(tmp_path / "t"),
        [
            {"name": "id", "data_type": "int64", "nullable": False},
            {"name": "v", "data_type": "string"},
        ],
        IdentityProp.single("id"),
        key_index=True,
    )
    for c in range(3):
        t.append_rows([{"id": i, "v": f"v{i}"} for i in range(c * 100, c * 100 + 100)])
        t.commit(lsn=c + 1)
    for lsn, bound in ((4, 3), (5, 4)):
        with job_counter() as jobs:
            t.upsert_rows([{"id": i + lsn, "v": "new"} for i in (0, 150, 250)])
            t.commit(lsn=lsn)
            n_jobs = jobs()
        assert n_jobs <= bound, (lsn, n_jobs)
    assert t.scan().filter("v = 'new'").count() == 6
    assert t.scan().count() == 300


def test_dv_anti_join_keys_on_spark_file_uri(spark, tmp_path):
    """Deletion vectors are applied on Spark's own coordinates: the
    anti-join of a scan with one DV, of a time-travel read and of a
    delete-targeting live view keys on ``_metadata.file_path`` and
    ``_metadata.row_index``, and no per-row path rewrite (``StartsWith``
    or ``Substring`` over the path) is left in the optimized plan. The
    DV side is the DV files Spark reads, their manifest paths mapped to
    URIs by literal maps (``table.path_lookup``)."""
    import re

    from moonlink_spark.table.identity import IdentityProp
    from moonlink_spark.table.table import MoonlinkTable

    t = MoonlinkTable.create(
        spark,
        str(tmp_path / "t"),
        [
            {"name": "id", "data_type": "int64", "nullable": False},
            {"name": "v", "data_type": "string"},
        ],
        IdentityProp.single("id"),
    )
    for c in range(2):
        t.append_rows([{"id": i, "v": f"v{i}"} for i in range(c * 50, c * 50 + 50)])
        t.commit(lsn=c + 1)
    t.delete_rows([{"id": 7}])
    t.commit(lsn=3)
    live, _ = t._live_view(t.manifest, [], [])
    for df in (t.scan(), t.scan(lsn=3), live):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "startswith" not in plan.lower(), plan
        assert "substr" not in plan.lower(), plan
        join = re.search(
            r"Join LeftAnti, \(\((__uri#\d+) = (__uri#\d+)\) AND "
            r"\((__ri#\d+L?) = __ri#\d+L?\)\)",
            plan,
        )
        assert join, plan
        uri, dv_uri, ri = join.groups()
        assert re.search(rf"_metadata#\d+\.file_path AS {uri}\b", plan), plan
        assert re.search(rf"_metadata#\d+\.row_index AS {ri}\b", plan), plan
        assert re.search(
            rf"coalesce\(element_at\(element_at\(map\(.*\), "
            rf"file_path#\d+[^)]*\), \) AS {dv_uri}",
            plan,
        ), plan
        assert "LocalRelation" not in plan, plan
