"""``session.local_frame`` against ``createDataFrame(list, schema)``.

The Arrow-built ``LocalRelation`` replaces the list path for every
driver-bounded relation on the read and delete-targeting paths, so it
must collect exactly the rows the list path collects, and evaluating it
must launch no Spark job.
"""

import datetime as dt
import decimal
import time

import pytest
from pyspark.sql import types as T

from moonlink_spark.session import local_frame

TZ = dt.timezone(dt.timedelta(hours=5, minutes=30))

CASES = {
    "scalars": (
        "k bigint, i int, s string, d date, x decimal(12,3)",
        [
            (1, 2, "a", dt.date(2024, 2, 29), decimal.Decimal("1.500")),
            (-(2**62), -(2**31), "日本", dt.date(1969, 12, 31), None),
            (None, None, None, None, decimal.Decimal("-999999999.999")),
        ],
    ),
    "timestamps": (
        "ts timestamp",
        [
            (dt.datetime(2024, 3, 1, 12, 30, 0, 123456),),  # naive
            (dt.datetime(2024, 3, 1, 12, 30, tzinfo=TZ),),  # aware
            (dt.datetime(1960, 1, 1, tzinfo=dt.timezone.utc),),
            (None,),
        ],
    ),
    "arrays": (
        "f array<float>, g array<double>, n array<array<bigint>>",
        [
            ([0.1, -2.5, 3e38], [0.1, 1e-300], [[1, 2], [], [-(2**63)]]),
            ([], None, [None, [None]]),
            (None, [None], None),
        ],
    ),
    "empty": ("k bigint, s string, ts timestamp", []),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_list_path(spark, case):
    ddl, rows = CASES[case]
    schema = T.DataType.fromDDL(ddl)
    want = spark.createDataFrame(rows, schema).collect()
    got_df = local_frame(spark, rows, ddl)
    assert got_df.schema == schema
    assert got_df.collect() == want
    assert local_frame(spark, rows, schema).collect() == want


def test_naive_timestamps_read_as_process_local_time(spark, monkeypatch):
    """The list path reads a naive datetime in the driver process's time
    zone (``time.mktime``), not in the session time zone; so must the
    Arrow path, whatever the process zone is."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        ddl, rows = CASES["timestamps"]
        want = spark.createDataFrame(rows, ddl).collect()
        assert local_frame(spark, rows, ddl).collect() == want
        # 12:30 New York (EST) is 17:30 UTC
        utc = local_frame(spark, rows[:1], ddl).selectExpr(
            "date_format(ts, 'HH:mm') AS hm"
        )
        assert utc.collect()[0].hm == "17:30"
    finally:
        monkeypatch.undo()
        time.tzset()


def test_local_frame_is_a_local_relation(spark, job_counter):
    rows = [(i, str(i)) for i in range(100)]
    df = local_frame(spark, rows, "k bigint, s string")
    assert "LogicalRDD" not in df._jdf.queryExecution().analyzed().toString()
    with job_counter() as jobs:
        assert [tuple(r) for r in df.collect()] == rows
        assert jobs() == 0
        spark.createDataFrame(rows, "k bigint, s string").collect()
        assert jobs() == 1  # the list path's LogicalRDD runs a job
