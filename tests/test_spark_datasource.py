"""spark.read.format("moonlink"): the Python Data Source over the RPC
scan protocol (parity src/moonlink_datafusion, Spark as the external
engine). Deletion vectors mask per batch on executors; schema evolution
surfaces NULLs; LSN option time-travels."""

import pytest
from pyspark.sql import types as T

from moonlink_spark.backend import MoonlinkBackend
from moonlink_spark.integrations.spark_datasource import (
    MoonlinkDataSource,
    register_moonlink_source,
)
from moonlink_spark.rpc import MoonlinkRpcServer
from moonlink_spark.table.identity import IdentityProp

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


@pytest.fixture()
def backend_rpc(spark, tmp_path):
    register_moonlink_source(spark)
    be = MoonlinkBackend(spark, str(tmp_path / "wh"))
    # short pin lease so tests can watch orphaned pins expire
    srv = MoonlinkRpcServer(be, pin_lease_s=2.0).start()
    yield be, srv
    srv.stop()


def _read(spark, srv, db, table, lsn=None):
    r = (
        spark.read.format("moonlink")
        .option("host", "127.0.0.1")
        .option("port", srv.port)
        .option("database", db)
        .option("table", table)
    )
    if lsn is not None:
        r = r.option("lsn", lsn)
    return r.load()


def test_read_live_rows_with_dvs(backend_rpc, spark):
    be, srv = backend_rpc
    t = be.create_table("db", "u", SCHEMA, IdentityProp.single("id"))
    t.append_rows([{"id": i, "v": f"v{i}"} for i in range(200)])
    t.commit(lsn=10)
    t.delete_rows([{"id": i} for i in range(0, 200, 4)])  # 50 deleted
    t.commit(lsn=20)

    df = _read(spark, srv, "db", "u")
    assert df.schema.fieldNames() == ["id", "v"]
    assert df.count() == 150
    assert df.filter("id % 4 = 0").count() == 0
    got = {(r.id, r.v) for r in df.collect()}
    want = {(r.id, r.v) for r in t.scan().collect()}
    assert got == want
    # the Spark relational surface composes over the source
    agg = df.groupBy((df.id % 3).alias("g")).count().collect()
    assert sum(r["count"] for r in agg) == 150

    # one file of several record batches: each batch masks the deleted
    # positions that fall inside its own row range
    import pyarrow as pa
    import pyarrow.parquet as pq

    from moonlink_spark.table.table import resolve

    n = 70_000
    big = be.create_table("db", "big", SCHEMA, IdentityProp.single("id"))
    big.append_arrow(
        pa.table(
            {
                "id": pa.array(range(n), pa.int64()),
                "v": pa.array([f"v{i}" for i in range(n)]),
            },
            schema=pa.schema(
                [pa.field("id", pa.int64(), False), pa.field("v", pa.string())]
            ),
        )
    )
    big.commit(lsn=10)
    (fe,) = big.manifest.data_files
    batches = pq.ParquetFile(resolve(big.data_path, fe.path)).iter_batches()
    assert len(list(batches)) > 1
    gone = sorted({0, 1, 65_535, 65_536, 65_537, n - 1, *range(7, n, 997)})
    big.delete_rows([{"id": i} for i in gone])
    big.commit(lsn=20)
    ids = [r.id for r in _read(spark, srv, "db", "big").select("id").collect()]
    assert sorted(ids) == sorted(set(range(n)) - set(gone))


def test_lsn_option_time_travel(backend_rpc, spark):
    be, srv = backend_rpc
    t = be.create_table("db", "tt", SCHEMA, IdentityProp.single("id"))
    t.append_rows([{"id": 1, "v": "a"}, {"id": 2, "v": "b"}])
    t.commit(lsn=10)
    t.delete_rows([{"id": 1}])
    t.commit(lsn=20)
    assert _read(spark, srv, "db", "tt", lsn=10).count() == 2
    assert _read(spark, srv, "db", "tt", lsn=20).count() == 1


def test_schema_evolution_nulls(backend_rpc, spark):
    be, srv = backend_rpc
    t = be.create_table("db", "ev", SCHEMA, IdentityProp.single("id"))
    t.append_rows([{"id": 1, "v": "a"}])
    t.commit(lsn=1)
    t.alter(add_columns=[{"name": "extra", "data_type": "int64"}])
    t.append_rows([{"id": 2, "v": "b", "extra": 9}])
    t.commit(lsn=3)
    rows = sorted(
        tuple(r) for r in _read(spark, srv, "db", "ev").collect()
    )
    assert rows == [(1, "a", None), (2, "b", 9)]


def test_plan_pin_survives_optimize_and_vacuum(backend_rpc, spark):
    """The plan's scan pin holds its RPC connection open, so server-side
    (connection-scoped) pins keep the snapshot's files through
    optimize+vacuum until the plan is dropped (review follow-up r9: the
    planning client used to close immediately, which now releases pins)."""
    import gc
    import os
    import time

    from moonlink_spark.integrations.spark_datasource import _plan
    from moonlink_spark.table.identity import IdentityProp
    from moonlink_spark.table.maintenance import optimize, vacuum

    be, srv = backend_rpc
    t = be.create_table(
        "db",
        "pinds",
        [
            {"name": "id", "data_type": "int64", "nullable": False},
            {"name": "v", "data_type": "string"},
        ],
        IdentityProp.single("id"),
    )
    t.append_rows([{"id": i, "v": f"x{i}"} for i in range(400)])
    t.commit(lsn=1)
    _ipc, parts, pin = _plan(
        {"host": "127.0.0.1", "port": srv.port,
         "database": "db", "table": "pinds"}
    )
    assert pin is not None and t.pinned_versions()
    t.append_rows([{"id": 10_000, "v": "late"}])
    t.commit(lsn=2)
    optimize(t, "data")
    vacuum(t, keep_versions=1)
    # the planned files survive maintenance while the pin lives
    for path, _deleted, _stats in parts:
        assert os.path.exists(path), f"vacuum deleted planned file {path}"
    del pin
    gc.collect()
    # the planner is gone, but executors may still be reading: the pin
    # is now a LEASE — vacuum must STILL keep the planned files
    assert t.pinned_versions(), "lease missing after plan drop"
    vacuum(t, keep_versions=1)
    for path, _deleted, _stats in parts:
        assert os.path.exists(path), f"lease did not hold {path}"
    # and the lease expires (fixture server uses a short TTL)
    deadline = time.monotonic() + 10
    while t.pinned_versions() and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not t.pinned_versions(), "lease not released after TTL"
