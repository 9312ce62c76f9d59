import contextlib
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from moonlink_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    extra = {"spark.sql.shuffle.partitions": "8"}
    # scaled-corpus runs (SPARK_GRAFT_SF_DIR_TEST at 10x) need a bigger
    # local-mode heap; the default stays small for the normal suite
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        extra["spark.driver.memory"] = mem
    s = get_spark("moonlink-tests", extra_conf=extra)
    yield s


@pytest.fixture
def job_counter(spark):
    """-> ``counting()``: a context manager yielding a callable that
    returns how many Spark jobs the ``with`` block has launched so far
    (the block runs under its own job group)."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def counting():
        group = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    return counting


@pytest.fixture()
def job_plans(spark):
    """-> ``recording()``: a context manager yielding a callable that
    returns ``(jobs, plans)`` for the ``with`` block so far: the ids of
    the Spark jobs it launched, and the physical plan of each SQL
    execution that launched one of them."""
    sc = spark.sparkContext
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def plans_of(group):
        jobs = set(sc.statusTracker().getJobIdsForGroup(group))
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        store = spark._jsparkSession.sharedState().statusStore()
        plans = [
            e.physicalPlanDescription()
            for e in conv.asJava(store.executionsList())
            if jobs & {int(j) for j in conv.asJava(e.jobs()).keySet()}
        ]
        return jobs, plans

    @contextlib.contextmanager
    def recording():
        group = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            yield lambda: plans_of(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    return recording


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def wire_tls(tmp_path_factory):
    """One CA + leaf pair for the whole run (minting is cheap but not
    free; every TLS-parametrized transport suite shares these files)."""
    from moonlink_spark.tlsutil import mint_test_tls

    return mint_test_tls(str(tmp_path_factory.mktemp("wire-tls")))
