"""A PySpark Python Data Source for moonlink tables: the Spark-native
external read path over the binary RPC scan protocol.

Usage (any Spark application, no moonlink backend in-process):

    from moonlink_spark.integrations.spark_datasource import MoonlinkDataSource
    spark.dataSource.register(MoonlinkDataSource)
    df = (spark.read.format("moonlink")
          .option("host", "127.0.0.1").option("port", 4321)
          .option("database", "db").option("table", "users")
          .option("lsn", 20)          # optional: time travel
          .load())

Parity: the reference embeds exactly this for DataFusion
(``src/moonlink_datafusion/src/table_provider.rs`` — TableProvider over
``get_table_schema`` + ``scan_table_begin(db, table, lsn)`` + per-file
deletion-vector row skips). Spark is one of the reference's named read
engines (README.md:88-91); PySpark 4's Python Data Source API
(SPARK-44076) is the idiomatic carrier.

Scale shape: planning is driver-side (one RPC round-trip, file list +
position deletes only — no data moves); each data file becomes one input
partition, so reads parallelize across executors like any file source;
each partition streams Arrow record batches with its deletion-vector rows
masked out batch-by-batch (never materializing the file as one table).
"""

from __future__ import annotations

import os
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


def _release_scan_pin(client, db: str, table: str) -> None:
    """Close the pin's OWN connection WITHOUT scan_table_end: in Spark's
    data-source worker model the planning process (and this finalizer)
    dies BEFORE executors open the planned files, so an explicit end here
    would release the snapshot mid-query. Closing converts the server's
    connection-scoped pin into a bounded LEASE (rpc pin_lease_s) that
    covers the executor read phase and then expires — a crashed or
    early-collected planner can never block vacuum forever."""
    try:
        client.close()
    except Exception:
        pass


class _ScanPin:
    """Holds the planning connection open for as long as THIS process
    keeps the plan alive; on teardown (GC finalizer, or the planning
    worker process exiting) the connection closes and the server
    converts the pin into a bounded lease (pin_lease_s) that covers the
    executor read phase. Spark 4 plans Python data sources in TRANSIENT
    workers, so the connection cannot span the query — the lease is
    what actually protects executor reads from vacuum (review r10); the
    reference's table_provider.rs instead holds one process-lifetime
    connection until Drop. Pickled copies (the reader ships to
    executors) carry NO client and NO finalizer."""

    def __init__(self, client, db: str, table: str):
        import weakref

        self._args = (db, table)
        self._client = client
        self._finalizer = weakref.finalize(
            self, _release_scan_pin, client, db, table
        )

    def __getstate__(self):
        return self._args

    def __setstate__(self, args):
        self._args = args  # no client/finalizer on unpickled copies
        self._client = None


def _plan(
    options: dict,
) -> tuple[bytes, list[tuple[str, tuple[int, ...], Any]], Any]:
    """Driver-side: (arrow schema IPC bytes, [(file, deleted_positions,
    stats)], pin). ``pin`` keeps the RPC scan snapshot alive while the
    plan is consumed (None for the server-less path).

    Two transports, same plan shape: with ``path`` the manifests are read
    directly (server-less — any Spark session on storage that holds the
    table); otherwise one RPC conversation mirrors the provider's
    try_new + scan (table_provider.rs:41-57)."""
    import pyarrow as pa

    if "path" in options:
        ipc, parts = _plan_local(options)
        return ipc, parts, None

    from moonlink_spark.rpc import MoonlinkRpcClient

    host = options.get("host", "127.0.0.1")
    port = int(options["port"])
    db = options["database"]
    table = options["table"]
    lsn = int(options.get("lsn", 0))
    client = MoonlinkRpcClient(host, port)
    try:
        schema = client.get_table_schema(db, table)
        blob = client.scan_table_begin(db, table, lsn)
        per_file: dict[int, list[int]] = {}
        for fidx, row in blob.position_deletes:
            per_file.setdefault(fidx, []).append(row)
        parts = [
            # no per-file stats on the wire blob: these partitions never
            # prune (the serving backend already applied its own pruning)
            (path, tuple(sorted(per_file.get(i, ()))), None)
            for i, path in enumerate(blob.data_files)
        ]
    except BaseException:
        client.close()
        raise
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, schema):
        pass
    # the pin OWNS the connection from here: closing it would release
    # the server-side (connection-scoped) pin before executors read
    return sink.getvalue().to_pybytes(), parts, _ScanPin(client, db, table)


def _plan_local(options: dict) -> tuple[bytes, list[tuple[str, tuple[int, ...]]]]:
    """Server-less plan straight off the manifests: resolve the snapshot
    at ``lsn`` (default latest), collect per-file deleted positions from
    the DV parquets (small key files, driver-side), and hand out one
    partition per data file — the exact plan the RPC path serves, without
    a running service."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from moonlink_spark.schema import field_schema_to_struct
    from moonlink_spark.table.manifest import ManifestStore
    from moonlink_spark.table.table import dv_positions, resolve

    table_dir = options["path"]
    data_path = options.get("datapath", table_dir)
    store = ManifestStore(table_dir)
    lsn = options.get("lsn")
    if lsn is not None:
        version = store.version_for_lsn(int(lsn))
        if version is None:
            raise ValueError(f"no snapshot at lsn <= {lsn} in {table_dir}")
        m = store.read(version)
    else:
        m = store.latest()
        if m is None:
            raise ValueError(f"no moonlink table at {table_dir}")

    dead = dv_positions(data_path, m.delete_files)
    # carry each file's manifest min/max stats so pushFilters can prune
    # whole partitions (the persisted-stats fast path, table/stats.py)
    parts = [
        (resolve(data_path, f.path), tuple(dead.get(f.path, ())), f.stats)
        for f in m.data_files
    ]
    schema = to_arrow_schema(field_schema_to_struct(m.schema_fields))
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, schema):
        pass
    return sink.getvalue().to_pybytes(), parts


def _filter_to_condition(f) -> tuple[str, str, Any] | None:
    """Map a pushed Spark Filter to a PrunePredicate condition, or None
    for shapes the stats language can't prune (nested attributes, string
    matches, nulls — all still evaluated by Spark)."""
    import datetime as _dt
    from decimal import Decimal as _Dec

    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        LessThan,
        LessThanOrEqual,
    )

    op_by_type = {
        EqualTo: "=",
        GreaterThan: ">",
        GreaterThanOrEqual: ">=",
        LessThan: "<",
        LessThanOrEqual: "<=",
        In: "in",
    }
    op = op_by_type.get(type(f))
    if op is None or len(f.attribute) != 1:
        return None

    def norm(v):
        # stats store datetimes as isoformat strings and decimals as
        # floats (_json_safe); normalize filter values the same way so
        # the comparison inside file_may_match is apples-to-apples
        if isinstance(v, (_dt.datetime, _dt.date)):
            return v.isoformat()
        if isinstance(v, _Dec):
            return float(v)
        return v

    col = f.attribute[0]
    if op == "in":
        return (col, "in", [norm(v) for v in f.value])
    return (col, op, norm(f.value))


class MoonlinkFilePartition(InputPartition):
    """One data file + its deleted row positions + the target schema
    (arrow IPC bytes, so the executor needs no RPC connection to READ;
    ``renew`` is an optional (host, port, db, table, ttl_s) endpoint the
    task best-effort touches so the scan's vacuum lease outlives long
    read phases — see MoonlinkRpcServer pin_lease_s ceiling note)."""

    def __init__(
        self,
        path: str,
        deleted: tuple[int, ...],
        schema_ipc: bytes,
        renew: tuple | None = None,
    ):
        self.path = path
        self.deleted = deleted
        self.schema_ipc = schema_ipc
        self.renew = renew


class MoonlinkDataSourceReader(DataSourceReader):
    def __init__(self, options: dict, plan=None):
        # reuse the DataSource's cached plan (schema() already planned)
        # instead of re-running the whole RPC conversation / DV reads
        self._schema_ipc, self._parts, self._pin = plan or _plan(options)
        self._prune = None
        # RPC transport: tasks renew the post-planning vacuum lease so a
        # read phase longer than the server's pin_lease_s window keeps
        # its snapshot protected (review r11). ``pin_lease_s`` reader
        # option sizes the renewal; the local (path) transport has no
        # server and no vacuum race, so no renewal — the gate mirrors
        # _plan's transport choice ("path" wins over "port"), so a
        # local read carrying a stray port option neither crashes on
        # the missing database/table options nor makes pointless RPCs.
        self._renew = None
        if "port" in options and "path" not in options:
            self._renew = (
                options.get("host", "127.0.0.1"),
                int(options["port"]),
                options["database"],
                options["table"],
                float(options.get("pin_lease_s", 300.0)),
            )

    def pushFilters(self, filters):
        """File-level pruning from the manifest's per-file min/max stats
        (table/stats.py — the persisted-stats fast path, parity: the
        reference readers prune from Iceberg manifest stats). ALL filters
        are returned for Spark to re-evaluate: pruning only ever skips
        files whose stats prove no row can match, so handing the exact
        predicate back costs nothing and keeps correctness with Spark."""
        from moonlink_spark.table.stats import PrunePredicate

        conds = []
        for f in filters:
            cond = _filter_to_condition(f)
            if cond is not None:
                conds.append(cond)
        self._prune = PrunePredicate(conds) if conds else None
        return filters

    def partitions(self):  # noqa: D102
        return [
            MoonlinkFilePartition(p, d, self._schema_ipc, self._renew)
            for p, d, stats in self._parts
            if self._prune is None or self._prune.file_may_match(stats)
        ]

    def read(self, partition: MoonlinkFilePartition) -> Iterator[Any]:
        """Executor-side: stream the file's record batches, mask DV rows,
        align to the table schema (schema evolution: missing columns are
        NULL, matching the native scan). Only pyarrow is required here."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from moonlink_spark.table.table import conform

        if partition is None:
            # pyspark substitutes [None] when partitions() returns an
            # empty list (empty table, or every file pruned): zero rows
            return
        if getattr(partition, "renew", None) is not None:
            # best-effort lease touch at task start: extends vacuum
            # protection when the read phase outlives pin_lease_s. A
            # failed touch must not fail the read — the lease may still
            # be live (and the local-path transport never sets this).
            try:
                from moonlink_spark.rpc import MoonlinkRpcClient

                host, port, db, tbl, ttl_s = partition.renew
                c = MoonlinkRpcClient(host, port)
                try:
                    # scoped to the file this task reads: only the
                    # owning scan's version lease extends, never other
                    # (possibly orphaned) leases on the table
                    c.lease_renew(db, tbl, ttl_s, file=partition.path)
                finally:
                    c.close()
            except Exception:
                pass
        with pa.ipc.open_stream(partition.schema_ipc) as r:
            target = r.schema
        deleted = np.asarray(partition.deleted, dtype=np.int64)  # sorted
        pf = pq.ParquetFile(partition.path)
        offset = 0
        for batch in pf.iter_batches():
            n = batch.num_rows
            lo, hi = np.searchsorted(deleted, [offset, offset + n])
            if hi > lo:
                mask = np.ones(n, dtype=bool)
                mask[deleted[lo:hi] - offset] = False
                batch = batch.filter(pa.array(mask))
            offset += n
            yield conform(batch, target)


def register_moonlink_source(spark) -> None:
    """Register the ``moonlink`` format on a session, shipping the package
    to Spark's Python workers first — the DataSource class unpickles in a
    separate Python worker process, which needs ``moonlink_spark``
    importable (addPyFile covers sessions not started from the repo root)."""
    from moonlink_spark.session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    spark.dataSource.register(MoonlinkDataSource)
    spark.dataSource.register(MoonlinkCdcDataSource)
    spark.dataSource.register(MoonlinkKafkaDataSource)


class MoonlinkDataSource(DataSource):
    """``spark.read.format("moonlink")`` — register with
    ``register_moonlink_source(spark)`` (or
    ``spark.dataSource.register(MoonlinkDataSource)`` if the package is
    already importable by Spark's Python workers)."""

    @classmethod
    def name(cls) -> str:
        return "moonlink"

    def schema(self):
        import pyarrow as pa
        from pyspark.sql.pandas.types import from_arrow_schema

        plan = self._cached_plan()
        with pa.ipc.open_stream(plan[0]) as r:
            return from_arrow_schema(r.schema)

    def _cached_plan(self):
        # plan ONCE per load(): schema() (driver-side) + reader() (in
        # Spark's planning worker, on the UNPICKLED copy carrying this
        # cache) reuse one plan, so the RPC conversation / DV parquet
        # reads run once and the reader serves exactly the snapshot
        # whose schema Spark saw. The plan pickles with the instance;
        # the scan pin's release finalizer stays with the driver-side
        # original (_ScanPin drops it on unpickle), so the pin spans
        # the query instead of ending at plan time.
        plan = getattr(self, "_plan_cache", None)
        if plan is None:
            plan = _plan(self.options)
            self._plan_cache = plan
        return plan

    def reader(self, schema) -> MoonlinkDataSourceReader:
        return MoonlinkDataSourceReader(
            dict(self.options), plan=self._cached_plan()
        )

    def writer(self, schema, overwrite: bool) -> "MoonlinkBatchWriter":
        if overwrite:
            raise ValueError(
                "the moonlink sink is append-only; use mode('append')"
            )
        return MoonlinkBatchWriter(dict(self.options), schema)

    def streamWriter(self, schema, overwrite: bool) -> "MoonlinkStreamWriter":
        if overwrite:
            raise ValueError(
                "the moonlink stream sink is append-only; complete/update "
                "output modes are not supported"
            )
        return MoonlinkStreamWriter(dict(self.options), schema)


class MoonlinkCdcDataSource(DataSource):
    """``spark.readStream.format("moonlink-cdc")`` — the table's change
    feed as a stream (see MoonlinkStreamReader). A separate format name
    from the row-level ``moonlink`` source because the two surfaces have
    different schemas for the same table: this one prepends
    (change_type, commit_lsn) to the table's columns."""

    @classmethod
    def name(cls) -> str:
        return "moonlink-cdc"

    def schema(self):
        from pyspark.sql import types as T
        from pyspark.sql.pandas.types import from_arrow_schema

        arrow_schema, _ = _table_arrow_schema(self.options["path"])
        return T.StructType(
            [
                T.StructField("change_type", T.StringType(), False),
                T.StructField("commit_lsn", T.LongType(), False),
            ]
            + list(from_arrow_schema(arrow_schema).fields)
        )

    def simpleStreamReader(self, schema) -> "MoonlinkStreamReader":
        return MoonlinkStreamReader(dict(self.options))


# --------------------------------------------------------------------------- #
# Structured Streaming: moonlink table as a CDC stream source and as a sink
# --------------------------------------------------------------------------- #
#
# Reader: ``spark.readStream.format("moonlink-cdc").option("path", <dir>)``
# emits the table's PHYSICAL change events — ("insert"|"delete", commit_lsn,
# *row) — between LSN offsets, i.e. the reference's sync-consumer contract
# (read state at LSN, consume the delta; SURVEY.md §3.2, the pattern
# moonlink_datafusion serves) carried by Spark's own offset/checkpoint
# machinery. Upserts appear as delete(old)+insert(new), exactly as the
# reference's CDC path stages them (conversions/cdc_event.rs).
#
# Writer: ``df.writeStream.format("moonlink").option("path", <table dir>)``
# appends micro-batches to an APPEND-ONLY table: executors stage parquet
# part-files in parallel (no driver data movement), the driver registers
# them with ONE manifest commit per batch, and replayed batch ids are
# no-ops (exactly-once via the reference's batch-id idempotence pattern,
# WAL replay parity).
#
# Both sides are pure manifest+pyarrow (no SparkSession in the data-source
# worker processes); on a cluster the table directory must be on shared
# storage the driver and executors both reach.

_LAYOUT_ONLY_OPS = frozenset(
    # commits that change layout/metadata but not row content — emitting
    # their file movements as CDC would fabricate events (optimize rewrites
    # every live row's file)
    {"create", "optimize", "index-merge", "alter", "set-avro-schema"}
)


def _table_arrow_schema(table_dir: str):
    """Current table schema (manifest DSL -> arrow), no Spark needed."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from moonlink_spark.schema import field_schema_to_struct
    from moonlink_spark.table.manifest import ManifestStore

    store = ManifestStore(table_dir)
    m = store.latest()
    if m is None:
        raise ValueError(f"no moonlink table at {table_dir}")
    return to_arrow_schema(field_schema_to_struct(m.schema_fields)), m


def _aligned_pylist(pa_table, target_schema) -> list[tuple]:
    """Rows of ``pa_table`` as tuples in ``target_schema`` field order
    (:func:`~moonlink_spark.table.table.conform`)."""
    from moonlink_spark.table.table import conform

    cols = [c.to_pylist() for c in conform(pa_table, target_schema).columns]
    return list(zip(*cols)) if cols else [()] * pa_table.num_rows


def _cdc_events(
    table_dir: str, data_path: str, start_lsn: int, end_lsn: int, target_schema
):
    """Yield ("insert"|"delete", commit_lsn, *row) for every data commit
    with start_lsn < lsn <= end_lsn. In-commit order mirrors the table's
    op application: deletes targeting PRE-EXISTING files (an upsert's
    delete-old), then inserts, then deletes targeting this commit's own
    new files (an in-txn insert-then-delete). Driver cost is bounded by
    the DELTA (files/DVs added per commit) plus one binary-searched
    baseline read, never the table size."""
    import pyarrow.parquet as pq

    from moonlink_spark.table.manifest import ManifestStore
    from moonlink_spark.table.table import dv_positions, read_positions, resolve

    store = ManifestStore(table_dir)
    vs = store.versions()
    base_v = store.version_for_lsn(start_lsn) if start_lsn > 0 else None
    if start_lsn > 0 and base_v is None:
        raise ValueError(
            f"offset lsn={start_lsn} predates the oldest retained manifest "
            "(vacuumed past the stream's checkpoint); restart the stream "
            "from a fresh checkpoint"
        )

    # read only the baseline manifest (binary-searched) and the delta
    # after it: reading EVERY retained version per micro-batch was
    # O(versions) driver I/O per trigger — quadratic over a stream's
    # lifetime, contradicting the bounded-delta contract (review r10)
    prev_data: set = set()
    prev_dvs: set = set()
    for v in vs:
        if base_v is not None and v < base_v:
            continue
        m = store.read(v)
        if m.lsn <= start_lsn:
            prev_data = {f.path for f in m.data_files}
            prev_dvs = {f.path for f in m.delete_files}
            continue
        if m.lsn > end_lsn:
            break
        added = [f for f in m.data_files if f.path not in prev_data]
        added_dvs = [f for f in m.delete_files if f.path not in prev_dvs]
        prev_data = {f.path for f in m.data_files}
        prev_dvs = {f.path for f in m.delete_files}
        if m.operation in _LAYOUT_ONLY_OPS:
            continue
        # In-commit order mirrors the table's op application: an UPSERT
        # stages delete(old row, in a PRE-EXISTING file) before the
        # append, while an insert-then-delete txn DVs a row in a file
        # added by THIS commit. So: deletes targeting pre-existing files
        # first, then inserts, then deletes targeting this commit's own
        # files — a sequential keyed applier reproduces the table state
        # for both shapes (review r10: inserts-first replayed an upsert
        # as insert-then-delete, leaving the key absent downstream).
        added_paths = {e.path for e in added}
        by_file = dv_positions(data_path, added_dvs)

        def _delete_rows(files):
            # before-images: read ONLY the row groups containing the
            # deleted positions — a point delete in a large file costs
            # one row group, not the file
            for fp in files:
                rows = read_positions(
                    resolve(data_path, fp), by_file[fp], target_schema
                )
                for row in _aligned_pylist(rows, target_schema):
                    yield ("delete", m.lsn) + row

        yield from _delete_rows(sorted(set(by_file) - added_paths))
        for entry in added:
            t = pq.read_table(resolve(data_path, entry.path))
            for row in _aligned_pylist(t, target_schema):
                yield ("insert", m.lsn) + row
        yield from _delete_rows(sorted(set(by_file) & added_paths))


class MoonlinkStreamReader(SimpleDataSourceStreamReader):
    """LSN-offset CDC stream over a moonlink table. Offsets are
    ``{"lsn": N}``; ``initialOffset`` honors ``startLsn`` (default 0 =
    initial snapshot as inserts, then the live tail — the reference's
    initial-copy-then-stream shape, SURVEY §2a #11)."""

    def __init__(self, options: dict):
        # Spark lowercases data-source option keys
        self.table_dir = options["path"]
        self.data_path = options.get("datapath", self.table_dir)
        self.start_lsn = int(options.get("startlsn", 0))
        self._schema, _ = _table_arrow_schema(self.table_dir)

    def initialOffset(self) -> dict:
        return {"lsn": self.start_lsn}

    def read(self, start: dict):
        from moonlink_spark.table.manifest import ManifestStore

        latest = ManifestStore(self.table_dir).latest()
        end_lsn = latest.lsn if latest else start["lsn"]
        if end_lsn <= start["lsn"]:
            # a real ITERATOR: on a no-progress round (end == start) Spark's
            # prefetch wrapper calls next() on the result to assert emptiness
            return iter(()), start
        # a LIST, not a generator: Spark's prefetch cache copy.copy()s the
        # returned iterator when serving planned partitions. Bounded by the
        # micro-batch delta (files/DVs committed since the last offset).
        events = list(
            _cdc_events(
                self.table_dir, self.data_path, start["lsn"], end_lsn, self._schema
            )
        )
        return events, {"lsn": end_lsn}

    def readBetweenOffsets(self, start: dict, end: dict):
        # replay path after restart: deterministic because manifests are
        # immutable once committed
        return _cdc_events(
            self.table_dir, self.data_path, start["lsn"], end["lsn"], self._schema
        )


class MoonlinkCommitMessage(WriterCommitMessage):
    def __init__(
        self,
        rel_path: str | None,
        rows: int,
        size: int,
        stats: dict | None = None,
    ):
        self.rel_path = rel_path
        self.rows = rows
        self.size = size
        self.stats = stats  # per-column [min, max] for file pruning


class MoonlinkStreamWriter(DataSourceStreamWriter):
    """Micro-batch append sink for an APPEND-ONLY moonlink table.

    write() (executors): each partition stages one parquet part-file
    under ``data/`` via pyarrow — fully parallel, no driver data path.
    commit() (driver): registers all staged files in ONE manifest commit
    stamped with the batch id; a replayed batch id unlinks its staged
    files and commits nothing (exactly-once downstream of Spark's
    checkpointed offsets — the reference's WAL batch-id idempotence).
    abort(): unlinks the staged files.

    Idempotence scope (Delta txnAppId-style): pass ``option("queryId",
    <stable id>)`` to scope the batch-id marker to that writer identity —
    a NEW queryId (e.g. a restarted stream with a fresh checkpoint, whose
    batch ids restart at 0) commits normally instead of colliding with the
    previous stream's marker. Without the option, a batch id that goes
    BACKWARDS (the fresh-checkpoint signature) raises instead of silently
    unlinking the staged data — only an exact replay of the last committed
    batch is treated as the normal restart no-op."""

    def __init__(self, options: dict, schema):
        from moonlink_spark.table.identity import IdentityProp

        self.table_dir = options["path"]
        self.data_path = options.get("datapath", self.table_dir)
        self.query_id = options.get("queryid")
        arrow_schema, m = _table_arrow_schema(self.table_dir)
        ident = IdentityProp.from_json(m.identity)
        if ident.mode != "none":
            raise ValueError(
                "the moonlink stream sink appends blindly and requires an "
                f"append-only table (identity none); {self.table_dir} has "
                f"identity {ident.mode} — use StreamingIngestor for keyed "
                "CDC merges"
            )
        want = [f.name for f in arrow_schema]
        got = list(schema.fieldNames())
        if got != want:
            raise ValueError(
                f"stream sink schema mismatch: table has {want}, got {got}"
            )
        # stage with the TABLE's arrow schema, not the input's: names
        # matching is not types matching, and a parquet file written with
        # the input's types (e.g. string id into an int64 table) commits
        # cleanly and then poisons every subsequent scan. Building the
        # arrow table against the table schema converts compatible values
        # and fails LOUD in write() on incompatible ones.
        self.arrow_schema = arrow_schema

    def write(self, iterator) -> "MoonlinkCommitMessage":
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from moonlink_spark.table.stats import collect_file_stats

        rows = [r.asDict() for r in iterator]
        if not rows:
            return MoonlinkCommitMessage(None, 0, 0)
        t = pa.Table.from_pylist(rows, schema=self.arrow_schema)
        rel = f"data/stream-{_uuid.uuid4().hex}.parquet"
        full = os.path.join(self.data_path, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        pq.write_table(t, full)
        # footer stats ride the commit message so sink-written files
        # participate in min/max pruning like every core write path
        return MoonlinkCommitMessage(
            rel, t.num_rows, os.path.getsize(full), collect_file_stats(full)
        )

    def _staged(self, messages):
        return [m for m in messages if m is not None and m.rel_path]

    def _unlink_staged(self, messages) -> None:
        for msg in self._staged(messages):
            try:
                os.unlink(os.path.join(self.data_path, msg.rel_path))
            except FileNotFoundError:
                pass

    def _commit_staged(
        self, messages, operation: str, properties_update: dict
    ) -> None:
        from moonlink_spark.table.manifest import (
            FileEntry,
            Manifest,
            ManifestStore,
        )

        store = ManifestStore(self.table_dir)
        base = store.latest()
        entries = [
            FileEntry(m.rel_path, m.rows, m.size, getattr(m, "stats", None))
            for m in self._staged(messages)
        ]
        props = {**base.properties, **properties_update}
        if "stream_writer_batches" in properties_update:
            # per-queryId floors MERGE against the base read at commit
            # time — a wholesale overwrite from the earlier snapshot
            # would regress another writer's floor advanced in between,
            # letting its replayed batch commit twice
            merged = dict(base.properties.get("stream_writer_batches") or {})
            merged.update(properties_update["stream_writer_batches"])
            props["stream_writer_batches"] = merged
        store.commit(
            Manifest(
                version=base.version + 1,
                lsn=base.lsn + 1,
                schema_fields=base.schema_fields,
                identity=base.identity,
                data_files=base.data_files + entries,
                delete_files=base.delete_files,
                parent=base.version,
                operation=operation,
                properties=props,
            )
        )

    def commit(self, messages, batchId: int) -> None:
        from moonlink_spark.table.manifest import ManifestStore

        props = ManifestStore(self.table_dir).latest().properties
        # Per-queryId batch markers (the Delta txnAppId shape): a MAP of
        # queryId -> last committed batch. With only the single shared
        # (batch, query) slot, two writers with different queryIds
        # interleaving commits on one table each reset the slot to their
        # own identity, so the OTHER writer's replayed batch sees
        # last=None and commits again — duplicates despite queryId being
        # the documented fix. The map gives each identity its own floor.
        qmap = dict(props.get("stream_writer_batches") or {})
        if self.query_id is not None:
            last = qmap.get(self.query_id)
        else:
            # anonymous writer: legacy single-slot semantics
            last = props.get("stream_writer_batch")
        # stream_writer_query names the writer whose batch the single
        # slot holds (None for an anonymous one); a named writer's floor
        # is read only from the map
        marker = {
            "stream_writer_batch": batchId,
            "stream_writer_query": self.query_id,
        }
        if self.query_id is not None:
            # only THIS writer's delta: _commit_staged merges it into the
            # map of whatever base manifest the commit actually lands on
            marker["stream_writer_batches"] = {self.query_id: batchId}
        if last is not None:
            if batchId == last:
                # replayed final batch after a driver restart: committed
                self._unlink_staged(messages)
                return
            if batchId < last:
                # batch ids only regress when a stream restarts against a
                # FRESH checkpoint (ids restart at 0) without a queryId to
                # scope the marker — silently unlinking here would be
                # silent data loss, so fail loudly instead
                self._unlink_staged(messages)
                raise RuntimeError(
                    f"stream sink batch id {batchId} regressed below the "
                    f"table's last committed batch {last}; this looks like "
                    "a new stream with a fresh checkpoint. Pass "
                    '.option("queryId", <stable id>) to scope the '
                    "idempotence marker to each writer identity."
                )
        self._commit_staged(messages, "stream-write", marker)

    def abort(self, messages, batchId: int) -> None:
        self._unlink_staged(messages)


class MoonlinkBatchWriter(MoonlinkStreamWriter, DataSourceWriter):
    """``df.write.format("moonlink").mode("append")`` — the batch append
    sink: same staged-parquet parallel write, one manifest commit, no
    batch-id bookkeeping (batch writes are not replayed by Spark).
    Inherits both writer ABCs: Spark's write worker isinstance-checks
    DataSourceWriter for batch plans."""

    def commit(self, messages) -> None:  # type: ignore[override]
        self._commit_staged(messages, "batch-write", {})

    def abort(self, messages) -> None:  # type: ignore[override]
        self._unlink_staged(messages)


# --------------------------------------------------------------------------- #
# Structured Streaming: the Kafka wire broker as a stream source
# --------------------------------------------------------------------------- #


def kafka_jvm_reader_options(options: dict) -> dict[str, str]:
    """Translate a ``moonlink-kafka`` option dict into the option map for
    Spark's JVM ``format("kafka")`` source — the production swap-out
    documented on :class:`MoonlinkKafkaDataSource`. Pure translation, no
    I/O: ``host``/``port`` become ``kafka.bootstrap.servers``, the
    explicit partition list becomes an ``assign`` JSON (the JVM source's
    explicit-assignment mode, matching this source's semantics exactly —
    no consumer-group subscription), and ``startingOffsets`` keeps the
    ``earliest``/``latest`` keywords or expands an integer to the JVM
    source's per-partition offset JSON. ``valueAvroSchema`` has no
    option-map equivalent: apply ``from_avro(col("value"), schema)``
    to the loaded stream instead (returned under the ``__from_avro__``
    pseudo-key for callers to consume)."""
    import json as _json

    opts = {k.lower(): v for k, v in options.items()}
    topic = opts["topic"]
    parts = [int(p) for p in str(opts.get("partitions", "0")).split(",")]
    out = {
        "kafka.bootstrap.servers": f"{opts.get('host', '127.0.0.1')}:{opts['port']}",
        "assign": _json.dumps({topic: parts}),
    }
    start = str(opts.get("startingoffsets", "earliest"))
    if start in ("earliest", "latest"):
        out["startingOffsets"] = start
    else:
        out["startingOffsets"] = _json.dumps(
            {topic: {str(p): int(start) for p in parts}}
        )
    raw_schema = opts.get("valueavroschema")
    if raw_schema:
        out["__from_avro__"] = raw_schema
    return out


class MoonlinkKafkaDataSource(DataSource):
    """``spark.readStream.format("moonlink-kafka")`` — a broker topic as
    a Structured Streaming source, jar-free: the reader speaks the Kafka
    wire protocol (sources/kafka_wire.py) and Spark's checkpoint carries
    the offsets (the external-offset-manager consumption mode; no broker
    group state is touched). Parity: the reference's Kafka feed
    (rest_api.rs:418-419) consumed as a STREAM instead of a drain loop.

    Options: ``host``, ``port``, ``topic`` (required); ``partitions`` =
    comma-separated partition ids (default "0" — Kafka's unit of
    parallelism, so offsets checkpoint PER PARTITION and each
    micro-batch covers every subscribed partition's new range);
    ``startingOffsets`` = ``earliest`` (default), ``latest``, or an
    integer offset applied to every partition; ``valueAvroSchema`` = an
    Avro record schema JSON — when set, each offset range's values are
    decoded by the schema-compiled columnar decoder
    (sources/avro_arrow.py) and the schema's fields become top-level
    columns after (partition, offset, key); without it the raw Kafka
    shape (partition, offset, key binary, value binary) is returned and
    callers decode downstream (the from_avro pattern).

    PRODUCTION SWAP-OUT: this source is the jar-free sandbox path — the
    protocol, offsets and schema handling are real, but each record's
    Avro value decodes in Python. At production volume the JVM built-in
    ``spark.readStream.format("kafka")`` plus ``from_avro`` (both ship
    with Spark's kafka connector jars) is the drop-in replacement:
    several-fold faster per socket because fetch + decode stay in the
    JVM, with identical (partition, offset, key, value) semantics and
    the same per-partition checkpointed offsets. The option mapping is
    mechanical (pinned by tests/test_streaming_datasource.py, which
    feeds the translated map to format("kafka") against the in-process
    broker when the connector jar is present and proves the only
    sandbox failure is the jar lookup, never an option) —
    :func:`kafka_jvm_reader_options` translates a
    moonlink-kafka option dict to the JVM source's option map, and the
    value decode becomes ``from_avro(col("value"), schema_json)``.
    Either way the scale lever is the same: partition count drives read
    parallelism, one long-lived socket per partition."""

    @classmethod
    def name(cls) -> str:
        return "moonlink-kafka"

    def schema(self):
        from pyspark.sql import types as T

        base = [
            T.StructField("partition", T.IntegerType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("key", T.BinaryType(), True),
        ]
        raw_schema = self.options.get("valueavroschema")
        if raw_schema:
            import json as _json

            from moonlink_spark.sources.converters import (
                avro_schema_to_struct,
            )

            return T.StructType(
                base + list(avro_schema_to_struct(_json.loads(raw_schema)).fields)
            )
        return T.StructType(
            base + [T.StructField("value", T.BinaryType(), True)]
        )

    def streamReader(self, schema) -> "MoonlinkKafkaStreamReader":
        return MoonlinkKafkaStreamReader(dict(self.options), schema)


class _KafkaRangePartition(InputPartition):
    """One topic-partition offset range [lo, hi) — the task unit. Carries
    only plain fields (the executor opens its own socket)."""

    def __init__(self, partition: int, lo: int, hi: int):
        self.partition = partition
        self.lo = lo
        self.hi = hi


class MoonlinkKafkaStreamReader(DataSourceStreamReader):
    """Offset-range micro-batches over the subscribed topic-partitions.
    Offsets are ``{"<partition>": next_offset, ...}`` — one entry per
    partition, the shape Spark's own Kafka source checkpoints.

    This is the FULL stream reader, not the Simple one, on purpose:
    the driver only plans (one ListOffsets round per partition per
    micro-batch); each offset range becomes an InputPartition whose
    rows are fetched ON THE EXECUTORS over their own sockets — message
    bytes never pass through the driver, so a wide topic scales with
    the cluster exactly like Spark's native Kafka source. Replays are
    deterministic because broker logs are append-only."""

    def __init__(self, options: dict, schema):
        # Spark lowercases data-source option keys. Keep the dict: it
        # rides the serialized reader to executors (SASL creds etc.).
        self.options = dict(options)
        # the reader StructType (Spark always passes one): read() builds
        # ONE Arrow RecordBatch per offset range against it, so rows
        # skip per-tuple pickling
        self.spark_schema = schema
        self.host = options["host"]
        self.port = int(options["port"])
        self.topic = options["topic"]
        self.partitions_list = [
            int(p)
            for p in str(options.get("partitions", "0")).split(",")
            if p.strip() != ""
        ]
        self.starting = options.get("startingoffsets", "earliest")
        raw_schema = options.get("valueavroschema")
        self.avro_schema = None
        if raw_schema:
            import json as _json

            self.avro_schema = _json.loads(raw_schema)

    def _consumer(self, partition: int):
        from moonlink_spark.sources.kafka_wire import KafkaWireConsumer

        # saslUsername/saslPassword options ride the serialized reader to
        # the executors, so every partition task authenticates its socket
        user = self.options.get("saslusername")
        return KafkaWireConsumer(
            self.host,
            self.port,
            self.topic,
            partition,
            sasl_plain=(
                (user, self.options.get("saslpassword", ""))
                if user is not None
                else None
            ),
        )

    def _fetch_range(self, partition: int, lo: int, hi: int) -> list:
        """All messages of one partition with lo <= offset < hi."""
        c = self._consumer(partition)
        try:
            msgs = []
            pos = lo
            while pos < hi:
                batch = c.fetch(pos, max_messages=1_000_000)
                if not batch:
                    break
                msgs.extend(m for m in batch if m[0] < hi)
                pos = batch[-1][0] + 1
            return msgs
        finally:
            c.close()

    def initialOffset(self) -> dict:
        if self.starting not in ("earliest", "latest"):
            return {str(p): int(self.starting) for p in self.partitions_list}
        out = {}
        for p in self.partitions_list:
            c = self._consumer(p)
            try:
                out[str(p)] = c.list_offsets(
                    earliest=self.starting == "earliest"
                )
            finally:
                c.close()
        return out

    def latestOffset(self) -> dict:
        # driver-side planning round: one ListOffsets per partition,
        # no message bytes
        out = {}
        for p in self.partitions_list:
            c = self._consumer(p)
            try:
                out[str(p)] = c.list_offsets()
            finally:
                c.close()
        return out

    def partitions(self, start: dict, end: dict):
        return [
            _KafkaRangePartition(p, start.get(str(p), 0), end.get(str(p), 0))
            for p in self.partitions_list
            if end.get(str(p), 0) > start.get(str(p), 0)
        ]

    def read(self, partition: _KafkaRangePartition):
        """One pyarrow RecordBatch for the whole fetched range: Avro
        values decode through the schema-compiled columnar decoder
        (sources/avro_arrow.py) straight into Arrow arrays — no
        per-record dicts, no per-row pickling."""
        from moonlink_spark.sources.avro_arrow import (
            arrow_batch_for_spark,
            decode_columns,
        )

        # EXECUTOR-side: this task fetches its own offset range over its
        # own socket; the driver never touches message bytes
        msgs = self._fetch_range(
            partition.partition, partition.lo, partition.hi
        )
        if self.avro_schema is not None:
            # tombstone: no Avro datum to decode — skip the record (same
            # policy as AvroQueueIngestor.drain_once); the offset range
            # still advances past it in the checkpoint
            msgs = [m for m in msgs if m[2] is not None]
        named = {
            "partition": (None, [partition.partition] * len(msgs)),
            "offset": (None, [m[0] for m in msgs]),
            "key": (None, [m[1] for m in msgs]),
            "value": (None, [m[2] for m in msgs]),
        }
        if self.avro_schema is not None:
            named.update(decode_columns(self.avro_schema, named["value"][1]))
        return iter([arrow_batch_for_spark(self.spark_schema, named)])

    def commit(self, end: dict) -> None:
        pass  # Spark's checkpoint is the offset store; nothing broker-side
