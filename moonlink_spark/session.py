"""SparkSession factory tuned for the moonlink_spark engine.

Local test runs use ``local[N]``; the same config block is what we would ship
to a 1000-executor cluster — everything scale-sensitive (AQE, shuffle
partitions, broadcast threshold, Arrow batch sizes) is centralized here so a
cluster deployment only overrides master/resources.
"""

from __future__ import annotations

import os
import warnings
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _default_shuffle_partitions() -> str:
    """Shuffle-partition default tracking the configured core count, with
    the same lenient env parsing as get_spark: a non-numeric
    SPARK_GRAFT_CPUS / SPARK_GRAFT_SHUFFLE_PARTITIONS must not crash at
    module import (ADVICE r12) — fall back to 32 like the master string
    does. An unparseable SPARK_GRAFT_SHUFFLE_PARTITIONS warns, naming the
    value and the default used instead."""
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32") or 32)
    except ValueError:
        cpus = 32
    default = str(max(8, cpus))
    override = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if override:
        try:
            return str(max(1, int(override)))
        except ValueError:
            warnings.warn(
                f"ignoring SPARK_GRAFT_SHUFFLE_PARTITIONS={override!r}: "
                f"not an integer; using the default of {default}",
                stacklevel=2,
            )
    return default


_DEFAULTS: dict[str, str] = {
    # Adaptive query execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and dynamic join-strategy switching. Essential at 100 TB where
    # static partition counts are always wrong for some stage.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime bloom-filter pushdown replaces the reference's persisted hash
    # index for join-side row pruning (SURVEY.md §4).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Python Data Source filter pushdown (SPARK-50657): lets the moonlink
    # data source prune whole files from manifest stats at plan time.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Arrow transfer for every Python<->JVM hop (pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Parquet: pushdown + vectorized reads are the default, be explicit since
    # the scan path is the backbone of the whole engine.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Target ~128 MiB per scan partition (reference targets 128 MiB parquet
    # files, storage/mooncake_table_config.rs:21-27).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Session timezone pinned to UTC: reference canonicalizes timestamptz to
    # UTC micros (pg_replicate/util.rs:50-56) and the DuckDB oracle runs UTC.
    "spark.sql.session.timeZone": "UTC",
    # Shuffle: compress + spill settings appropriate for wide aggregations.
    # The session DEFAULT partition count tracks the configured core count
    # (r12: a literal "32" was silently core-count-tuned; the driver also
    # benches at lower core counts). AQE coalescing sizes the large
    # shuffles; this default only governs small local/model-state ones.
    "spark.sql.shuffle.partitions": _default_shuffle_partitions(),
    "spark.shuffle.compress": "true",
    "spark.sql.autoBroadcastJoinThreshold": "33554432",  # 32 MiB: dims broadcast
    # Keep the UI off in tests/bench (port churn, memory).
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "moonlink_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) for
    local runs; on a cluster, pass ``None`` with a pre-set master or export
    ``MASTER``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("MASTER", f"local[{cpus}]")
    # Put the package root on PYTHONPATH before the JVM launches: Spark's
    # Python *data-source runner* processes (batch planning + streaming
    # source/sink runners) are spawned by the JVM with the JVM's env and do
    # NOT see addPyFile, so `import moonlink_spark` inside a pickled
    # DataSource needs this. Must happen before getOrCreate() — the JVM's
    # env is captured at launch.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession,
    rows: Sequence[Sequence[Any]],
    schema: T.StructType | str,
) -> DataFrame:
    """A driver-bounded relation as a Spark ``LocalRelation``.

    ``rows`` are tuples in ``schema`` field order (``schema`` may be a
    DDL string). They go to ``createDataFrame`` as one Arrow table
    (:func:`arrow_rows`), so evaluating the result launches no job;
    ``createDataFrame(list)`` builds a ``LogicalRDD`` instead, and every
    evaluation of that runs a Python-worker job."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    return spark.createDataFrame(arrow_rows(rows, schema), schema)


def arrow_rows(rows: Sequence[Sequence[Any]], schema: T.StructType):
    """``rows`` (tuples in ``schema`` field order, as ``collect`` returns
    them) as an Arrow table of ``to_arrow_schema(schema)``. Top-level
    values that need conversion (timestamps, dates) pass through their
    field type's ``toInternal``, which reads a naive datetime as
    process-local time exactly as ``createDataFrame(list)`` does."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for col, f, af in zip(cols, schema.fields, arrow_schema):
        if f.dataType.needConversion():
            to_internal = f.dataType.toInternal
            col = [None if v is None else to_internal(v) for v in col]
        arrays.append(pa.array(col, type=af.type))
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


_SHIPPED: set[int] = set()


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship moonlink_spark to executor Python workers via addPyFile.

    Needed whenever a pickled closure references this package (mapInPandas
    kernels, lambda-based expressions) and the driver process wasn't started
    from the repo root — e.g. an externally-created SparkSession. Idempotent
    per SparkContext."""
    import shutil
    import tempfile

    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tempfile.mkdtemp(prefix="moonlink-pkg-")
    zip_path = shutil.make_archive(
        os.path.join(tmp, "moonlink_spark"),
        "zip",
        root_dir=pkg_root,
        base_dir="moonlink_spark",
    )
    sc.addPyFile(zip_path)
    _SHIPPED.add(key)
