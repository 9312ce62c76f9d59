"""The two workloads. Each is ``run_<name>(ctx) -> None``: it builds its
fixture (timed as set-up), runs its timed loop for ``ctx.seconds``,
checks the engine's outputs against the generator's model and records
metrics on ``ctx``."""

from __future__ import annotations

import bisect
import gc
import itertools
import os
import queue
import resource
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import params
import tracing
from moonlink_spark.ingest.cdc import CdcEvent, CdcSink
from moonlink_spark.sources import avro_binary, kafka_wire
from moonlink_spark.sources.queue import AvroQueueIngestor
from moonlink_spark.table import keyindex, maintenance, stats, vecindex
from moonlink_spark.table.identity import IdentityProp
from moonlink_spark.table.manifest import ManifestStore
from moonlink_spark.table.table import MoonlinkTable, TransactionStream

# wall clock = perf_counter + offset (Spark reports job times in epoch ms)
_EPOCH = time.time() - time.perf_counter()


@dataclass
class Ctx:
    spark: object
    workload: str
    seed: int
    seconds: float
    work: str
    trace: bool
    corrupt_model: bool = False
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    setup_s: float = 0.0
    # end-to-end figures of the run, by metric name
    e2e: dict[str, float] = field(default_factory=dict)
    rec: tracing.SpanRecorder | None = None
    wrapper: tracing.Wrapper | None = None
    ops: list[tuple[str, str, float, float]] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    lag_ms: list[float] = field(default_factory=list)
    # set-up phase -> seconds, reported on the detail line
    setup_parts: dict[str, float] = field(default_factory=dict)
    _n: int = 0
    _mark: float = 0.0

    @property
    def sc(self):
        return self.spark.sparkContext

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    @contextmanager
    def op(self, kind: str):
        """One measured operation. In the traced run it gets a job group
        ``<workload>:<kind>#<n>`` and a top-level span; the op's window
        is kept for attributing group-less Spark jobs."""
        if not self.trace:
            yield
            return
        self._n += 1
        oid = f"{self.workload}:{kind}#{self._n}"
        self.sc.setJobGroup(oid, oid)
        try:
            with self.rec.span(kind, op=oid) as s:
                yield
        finally:
            # jobs between operations (checks, set-up) must not carry
            # the last operation's group
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.ops.append((oid, kind, s.start + _EPOCH, s.end + _EPOCH))

    def mark(self, phase: str | None = None) -> None:
        """Close the set-up phase running since the last mark."""
        now = time.perf_counter()
        if phase is not None:
            self.setup_parts[phase] = now - self._mark
        self._mark = now

    def count(self, name: str, v: float = 1.0) -> None:
        self.counts[name] = self.counts.get(name, 0.0) + v


def pctl(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and all its descendants: the JVM and Spark's Python workers.
    A shared host that runs the benchmark's threads less often stretches
    wall time but leaves this alone."""
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue  # exited after its parent listed it
        # utime, stime, cutime, cstime: fields 14-17, after "(comm) state"
        total += sum(int(x) for x in stat[stat.rindex(")") + 2 :].split()[11:15])
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo += [int(c) for c in f.read().split()]
            except OSError:
                pass
    return total / os.sysconf("SC_CLK_TCK")


def timed_reps(reps: int, build):
    """Run ``build()`` ``reps`` times; return (median CPU seconds, last
    result). Earlier results are closed through their ``close()``."""
    cpus, result = [], None
    for _ in range(reps):
        if result is not None and hasattr(result, "close"):
            result.close()
        cpu = tree_cpu_s()
        result = build()
        cpus.append(tree_cpu_s() - cpu)
    return statistics.median(cpus), result


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def storage_bytes(t: MoonlinkTable) -> int:
    """Bytes of every file the latest manifest references: data files,
    DV files and key-index files."""
    m = t.manifest
    total = sum(f.bytes for f in m.data_files) + sum(f.bytes for f in m.delete_files)
    for e in keyindex.index_entries(m) if keyindex.enabled(m) else []:
        total += os.path.getsize(t._resolve(e["path"]))
    return total


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def parquet_bytes(tbl: pa.Table, path: str) -> int:
    pq.write_table(tbl, path, compression="snappy")
    n = os.path.getsize(path)
    os.unlink(path)
    return n


# --------------------------------------------------------------------- #
# traced-run wrappers
# --------------------------------------------------------------------- #


def install_wrappers(ctx: Ctx) -> None:
    """Time calls into each layer's public functions (traced run only)."""
    w = ctx.wrapper = tracing.Wrapper(ctx.rec)

    def staged(a, kw, _r):
        rows = a[1] if len(a) > 1 else kw.get("rows", [])
        return len(rows) if hasattr(rows, "__len__") else 0

    def fetched(a, kw, _r):
        return len(a[0]) if a else 0

    def candidates(a, kw, r):
        if r is None:
            return None
        matching, uncovered = r
        ctx.count("keyindex.live_files", len(a[1].data_files))
        return len(matching) + len(uncovered)

    w.method(kafka_wire.KafkaWireConsumer, "poll", "sources.kafka_wire.fetch")
    w.function(
        kafka_wire, "decode_record_batches", "sources.kafka_wire.decode",
        count=fetched, counter=ctx.count,
    )
    w.function(avro_binary, "decode_record", "sources.avro.decode")
    w.function(avro_binary, "row_for_spark", "sources.avro.decode")
    w.method(CdcSink, "apply", "ingest.cdc.apply")
    for cls in (MoonlinkTable, TransactionStream):
        w.method(cls, "append_rows", "table.stage", count=staged, counter=ctx.count)
        w.method(cls, "delete_rows", "table.stage", count=staged, counter=ctx.count)
    w.method(MoonlinkTable, "commit", "table.commit")
    w.method(MoonlinkTable, "scan", "table.scan.plan")
    w.method(MoonlinkTable, "scan_keys", "table.lookup.plan")
    w.method(ManifestStore, "commit", "table.manifest.publish")
    w.method(ManifestStore, "latest", "table.manifest.read", count=lambda *_: 1,
             counter=ctx.count)
    w.method(ManifestStore, "read", "table.manifest.read", count=lambda *_: 1,
             counter=ctx.count)
    w.function(stats, "collect_file_stats", "table.stats.collect")
    w.function(
        keyindex, "candidate_files", "table.keyindex.lookup",
        count=candidates, counter=ctx.count,
    )
    w.function(keyindex, "build_entries", "table.keyindex.build")
    w.function(maintenance, "optimize", "table.maintenance.optimize")
    w.function(vecindex, "query_topk", "table.vecindex.query")


# --------------------------------------------------------------------- #
# event_feed
# --------------------------------------------------------------------- #


class Feed:
    """Broker, append-only table and ingestor of one event_feed set-up."""

    TOPIC = "feed"

    def __init__(self, ctx: Ctx, root: str):
        p = params.EVENT_FEED
        self.broker = kafka_wire.KafkaWireBroker(os.path.join(root, "log")).start()
        host, port = self.broker.host, self.broker.port
        self.producer = kafka_wire.KafkaWireProducer(
            host, port, compression=p["compression"]
        )
        self.consumer = kafka_wire.KafkaWireConsumer(
            host, port, self.TOPIC, group="perfbench"
        )
        # The broker's fetch can return frames an in-flight append has
        # written but not yet counted in its high-water mark; the consumer
        # then commits past it and its next fetch fails with
        # OFFSET_OUT_OF_RANGE. A produce and a poll never overlap here.
        self.wire_lock = threading.Lock()
        consumer = self.consumer

        def poll(*a, **kw):
            with self.wire_lock:
                # looked up on the class at call time, so the traced
                # run's wrapper of KafkaWireConsumer.poll still applies
                return type(consumer).poll(consumer, *a, **kw)

        consumer.poll = poll
        self.table = MoonlinkTable.create(
            ctx.spark, os.path.join(root, "t"), gen.EVENT_FIELDS, IdentityProp.none()
        )
        self.ingestor = AvroQueueIngestor(self.table, self.consumer, gen.EVENT_SCHEMA)
        self.gen = gen.EventGen(ctx.seed)
        self.produced = 0
        # warm-up: one produce + drain + the check query's plan
        self.produce(p["warmup_events"], 0)
        self.ingestor.drain_once()
        self.table.scan().count()

    def encode(self, n: int, created_us: int) -> list[tuple[None, bytes]]:
        evs = self.gen.events(n, created_us)
        return [(None, avro_binary.encode_datum(gen.EVENT_SCHEMA, e)) for e in evs]

    def send(self, records: list) -> int:
        """Produce one RecordBatch; returns the last event id produced."""
        with self.wire_lock:
            self.producer.send(self.TOPIC, records)
        self.produced += len(records)
        return self.produced

    def produce(self, n: int, created_us: int) -> int:
        return self.send(self.encode(n, created_us))

    def close(self) -> None:
        self.producer.close()
        self.consumer.close()
        self.broker.stop()


def run_event_feed(ctx: Ctx) -> None:
    p = params.EVENT_FEED
    reps = itertools.count()
    ctx.setup_s, feed = timed_reps(
        p["setup_reps"], lambda: Feed(ctx, fresh_dir(os.path.join(ctx.work, f"feed{next(reps)}")))
    )
    try:
        _event_feed_loop(ctx, feed, p)
    finally:
        feed.close()


def _event_feed_loop(ctx: Ctx, feed: Feed, p: dict) -> None:
    if ctx.trace:
        install_wrappers(ctx)
        feed.ingestor._decode = avro_binary.decode_record
        feed.ingestor._reshape = avro_binary.row_for_spark
    base_id = feed.produced  # ids <= base_id were produced during set-up
    paced_s = ctx.seconds * params.PACED_SHARE
    per_tick = max(1, int(round(p["rate_eps"] * p["tick_s"])))
    # batch due times: Poisson arrivals at the offered rate, so the
    # schedule never phase-locks with the drain loop
    gaps = gen.rng_for(ctx.seed, "arrivals").exponential(
        p["tick_s"], int(paced_s / p["tick_s"] * 2) + 16
    )
    offsets = [float(x) for x in np.cumsum(gaps) if x < paced_s]
    # Avro payloads are encoded before the clock starts, each stamped with
    # its creation time in microseconds from the start of the paced phase,
    # so the generator thread only sends on schedule
    payloads = [feed.encode(per_tick, int(off * 1e6)) for off in offsets]
    # (last event id of the batch, due time) in production order
    batches: queue.Queue = queue.Queue()
    stop = threading.Event()
    t0 = time.perf_counter() + 0.05

    def generator() -> None:
        for off, records in zip(offsets, payloads):
            if stop.is_set():
                break
            due = t0 + off
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            ctx.lag_ms.append(max(0.0, time.perf_counter() - due) * 1e3)
            batches.put((feed.send(records), due))
        batches.put(None)

    g = threading.Thread(target=generator, name="perfbench-generator", daemon=True)
    g.start()
    commit_ms: list[float] = []
    drains: list[tuple[int, float]] = []  # (last id applied, commit return)
    produced_batches: list[tuple[int, float]] = []
    paced_events = 0
    applied = base_id
    try:
        while True:
            while True:
                try:
                    b = batches.get_nowait()
                except queue.Empty:
                    break
                if b is None:
                    g.join()
                else:
                    produced_batches.append(b)
            if not g.is_alive() and applied >= feed.produced:
                break
            a = time.perf_counter()
            with ctx.op("drain"):
                res = feed.ingestor.drain_once()
            end = time.perf_counter()
            if res["messages"]:
                commit_ms.append((end - a) * 1e3)
                paced_events += res["messages"]
                applied = res["lsn"] - feed.ingestor.lsn_base
                drains.append((applied, end))
            else:
                time.sleep(0.002)
    finally:
        stop.set()
        g.join(timeout=30)
    # an event is fresh once the first commit covering its id returns
    covered = [d[0] for d in drains]
    fresh_ms = [
        (drains[bisect.bisect_left(covered, last)][1] - due) * 1e3
        for last, due in produced_batches
    ]
    # backlog phase: a fixed pre-produced backlog drained at saturation
    n_back = p["backlog_events"]
    for i in range(0, n_back, 1_000):
        feed.produce(min(1_000, n_back - i), 0)
    target = feed.produced
    drain_rates = []  # events per second of each backlog drain
    # a full collection first, so the collector's work inside the window
    # follows the backlog's own allocations, not what the paced phase left
    gc.collect()
    cpu0 = tree_cpu_s()
    while applied < target:
        a = time.perf_counter()
        with ctx.op("drain"):
            res = feed.ingestor.drain_once(max_messages=p["drain_max"])
        if res["messages"]:
            drain_rates.append(res["messages"] / (time.perf_counter() - a))
            applied = res["lsn"] - feed.ingestor.lsn_base
    # the backlog has no idle polls, so its CPU is all ingest work
    backlog_cpu_s = tree_cpu_s() - cpu0

    # checks: live count, distinct ids and id sum equal what was produced
    n = feed.produced
    row = feed.table.scan().selectExpr(
        "count(*) AS n", "count(DISTINCT id) AS d", "sum(id) AS s"
    ).collect()[0]
    ctx.check(row["n"] == n, f"live count {row['n']} != produced {n}")
    ctx.check(row["d"] == n, f"distinct ids {row['d']} != produced {n}")
    ctx.check(row["s"] == n * (n + 1) // 2, "id sum differs from produced ids")
    ctx.check(
        len(produced_batches) * per_tick == n - base_id - n_back,
        "paced batches and produced events disagree",
    )
    ctx.attempted += len(commit_ms)

    live = feed.table.scan().toArrow()
    user_bytes = parquet_bytes(live, os.path.join(ctx.work, "live.parquet"))
    ctx.e2e.update(
        {
            # median over the backlog's drains: one collector pause or
            # slow fsync moves one drain, not the figure
            "ingest_rows_per_s": pctl(drain_rates, 50),
            "freshness_p50_ms": pctl(fresh_ms, 50),
            "freshness_p95_ms": pctl(fresh_ms, 95),
            "commit_p50_ms": pctl(commit_ms, 50),
            "commit_p95_ms": pctl(commit_ms, 95),
            "storage_amplification": storage_bytes(feed.table) / user_bytes,
        }
    )
    ctx.e2e["op_p50_ms"] = ctx.e2e["freshness_p50_ms"]
    # ingest capacity at the offered load: events per second the drain
    # loop was busy. It sums the whole paced phase, so a short stall on a
    # shared host moves it less than the brief backlog drain.
    ctx.e2e["throughput_per_s"] = paced_events / (sum(commit_ms) / 1e3)
    ctx.e2e["cpu_ms_per_op"] = backlog_cpu_s * 1e3 / n_back
    _table_shape(ctx, feed.table)
    ctx.layer["table.bytes_written_per_user_byte"] /= user_bytes


def _table_shape(ctx: Ctx, t: MoonlinkTable) -> None:
    """File counts of the latest manifest, and every byte written under
    the table directory (superseded files and manifests included); the
    caller divides the latter by the live rows' bytes."""
    m = t.manifest
    ctx.layer.update(
        {
            "table.data_files": len(m.data_files),
            "table.dv_files": len(m.delete_files),
            "table.dv_rows": m.deleted_rows,
            "table.bytes_written_per_user_byte": dir_bytes(t.path),
        }
    )


# --------------------------------------------------------------------- #
# CDC stream (snapshot_reads set-up)
# --------------------------------------------------------------------- #


def cdc_events(txn: list, lsn: int) -> list[CdcEvent]:
    evs = [CdcEvent.begin(lsn)]
    for op, old, row in txn:
        if op == "insert":
            evs.append(CdcEvent.insert(row))
        elif op == "update":
            evs.append(CdcEvent.update(old, row))
        else:
            evs.append(CdcEvent.delete(old))
    evs.append(CdcEvent.commit(lsn))
    return evs


def seed_keyed_table(ctx: Ctx, root: str, base: pa.Table, files: int) -> MoonlinkTable:
    """A key-indexed lineitem table whose seed rows land as ``files``
    data files in one commit at LSN 1."""
    t = MoonlinkTable.create(
        ctx.spark, os.path.join(root, "t"), gen.LINEITEM_FIELDS,
        IdentityProp.keys(list(gen.KEY_COLS)), key_index=True,
    )
    step = -(-base.num_rows // files)
    paths = [
        gen.write_parquet(base.slice(i, step), os.path.join(root, "seed", f"{i}.parquet"))
        for i in range(0, base.num_rows, step)
    ]
    t.load_files(paths, copy=True)
    t.commit(lsn=1)
    return t


def keys_df(ctx: Ctx, keys: list[tuple]):
    return ctx.spark.createDataFrame(keys, "l_orderkey long, l_linenumber int")


def model_rows(model: gen.CdcModel, keys: list[tuple]) -> set[tuple]:
    return {tuple(model.rows[k].values()) for k in keys if k in model.rows}


def _cdc_stream(ctx: Ctx, t: MoonlinkTable, model: gen.CdcModel, p: dict,
                expect: dict) -> None:
    """Postgres-CDC-shaped transactions through ``CdcSink.apply``, each
    followed by a read-your-writes lookup of keys it wrote, checked
    against the model at that LSN. Records the commit and lookup figures
    and the model's aggregate per LSN in ``expect``."""
    sink = CdcSink(t)
    commit_ms, lookup_ms = [], []
    events = 0
    for lsn in range(2, 2 + p["fragment_txns"]):
        txn = model.transaction(p["txn_events"], p["mix"])
        if ctx.corrupt_model:
            _drop_one_delete(model, txn)
        a = time.perf_counter()
        with ctx.op("commit"):
            sink.apply(cdc_events(txn, lsn))
        b = time.perf_counter()
        keys = model.lookup_keys(txn, p["ryw_keys"])
        with ctx.op("ryw_lookup"):
            got = t.scan_keys(keys_df(ctx, keys)).collect()
        lookup_ms.append((time.perf_counter() - b) * 1e3)
        commit_ms.append((b - a) * 1e3)
        events += len(txn)
        ctx.check(
            {tuple(r) for r in got} == model_rows(model, keys),
            f"read-your-writes mismatch at lsn {lsn}",
        )
        expect[lsn] = _agg(model.rows.values())
    ctx.e2e.update(
        {
            "ingest_rows_per_s": events / (sum(commit_ms) / 1e3),
            "commit_p50_ms": pctl(commit_ms, 50),
            "ryw_lookup_p50_ms": pctl(lookup_ms, 50),
        }
    )


def _drop_one_delete(model: gen.CdcModel, txn: list) -> None:
    """Deliberate corruption for the harness's own test: forget one
    generated delete in the model (the engine still applies it)."""
    for op, old, _row in txn:
        if op == "delete":
            key = (old["l_orderkey"], old["l_linenumber"])
            if key not in model.rows:
                model.rows[key] = old
                return


# --------------------------------------------------------------------- #
# snapshot_reads
# --------------------------------------------------------------------- #


def _agg(rows) -> tuple:
    """(count, sum quantity, sum partkey) — exact for these columns."""
    n = q = pk = 0
    for r in rows:
        n += 1
        q += r["l_quantity"]
        pk += r["l_partkey"]
    return n, q, pk


AGG_SQL = ("count(*) AS n", "sum(l_quantity) AS q", "sum(l_partkey) AS pk")


def run_snapshot_reads(ctx: Ctx) -> None:
    from moonlink_spark.operators import all_queries
    import duckdb

    from moonlink_spark.testing import compare

    p = params.SNAPSHOT_READS
    full = gen.lineitem_table(ctx.seed, p["n_orders"])
    base = gen.keyed_part(full)
    sf_dir = os.path.join(ctx.work, "sf")
    gen.write_parquet(full, os.path.join(sf_dir, "lineitem.parquet"))
    reps = itertools.count()
    ctx.setup_s, t = timed_reps(
        p["setup_reps"],
        lambda: seed_keyed_table(
            ctx, fresh_dir(os.path.join(ctx.work, f"snap{next(reps)}")), base,
            p["fragment_files"],
        ),
    )
    setup_cpu = tree_cpu_s()
    ctx.mark()
    if ctx.trace:
        install_wrappers(ctx)
    model = gen.CdcModel(ctx.seed, base, p["zipf_s"])
    expect = {1: _agg(model.rows.values())}
    _cdc_stream(ctx, t, model, p, expect)
    ctx.mark("cdc_txns")
    latest = t.last_lsn
    mid = latest - 1  # the snapshot before the last transaction
    spark = ctx.spark
    emb_tbl = gen.embeddings_table(ctx.seed, p["n_vecs"], p["dim"], p["clusters"])
    emb_path = gen.write_parquet(emb_tbl, os.path.join(ctx.work, "emb", "e.parquet"))
    emb = spark.read.parquet(emb_path)
    dest = os.path.join(ctx.work, "vecidx")
    vecindex.build_index(spark, emb, dest, k=p["ivf_k"], pq={"m": p["pq_m"]})
    ctx.mark("vector_index")
    vecs = np.stack(emb_tbl.column("embedding").to_numpy(zero_copy_only=False))
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    queries = all_queries()
    # operator oracles: DuckDB over the same lineitem file, outside the loop
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'")
    for name in p["operators"]:
        res = compare(queries[name].fn(spark, sf_dir), con, queries[name].oracle)
        ctx.check(res["value_match"], f"{name} differs from its DuckDB oracle")
    con.close()
    ctx.mark("operator_oracles")
    ann_first: dict[tuple, list] = {}

    def ann(qids):
        return vecindex.query_topk(
            spark, emb, dest, qids, topk=p["topk"], nprobe=p["nprobe"],
            rerank=p["rerank"],
        ).collect()

    def operator(name):
        queries[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    # warm-up pass over every read (plan compile, Python workers)
    warm_ids = gen.ann_query_ids(ctx.seed, p["n_vecs"], p["ann_queries"], -1)
    ann(warm_ids)
    t.scan().selectExpr(*AGG_SQL).collect()
    t.scan(lsn=mid).selectExpr(*AGG_SQL).collect()
    t.scan_keys(keys_df(ctx, model.random_keys(p["lookup_keys"]))).collect()
    for name in p["operators"]:
        operator(name)
    ctx.mark("warm_up")
    ctx.setup_s += tree_cpu_s() - setup_cpu

    def agg_row(df) -> tuple:
        r = df.selectExpr(*AGG_SQL).collect()[0]
        return r["n"], r["q"], r["pk"]

    kinds = {"scan": [], "timetravel": [], "lookup": [], "ann_topk": []}
    kinds.update({q: [] for q in p["operators"]})
    reads = 0
    cycle_cpu_s = []
    cpu = tree_cpu_s()
    t0 = time.perf_counter()
    c = 0
    while time.perf_counter() - t0 < ctx.seconds or c == 0:
        keys = model.random_keys(p["lookup_keys"])
        kdf = keys_df(ctx, keys)
        qids = gen.ann_query_ids(ctx.seed, p["n_vecs"], p["ann_queries"], c % 4)
        a = time.perf_counter()
        with ctx.op("scan"):
            got = agg_row(t.scan())
        ctx.check(got == expect[latest], "latest scan aggregate differs")
        ctx.count("rows.scan")
        a = _lap(kinds["scan"], a)
        with ctx.op("timetravel"):
            got = agg_row(t.scan(lsn=mid))
        ctx.check(got == expect[mid], "time-travel aggregate differs")
        ctx.count("rows.timetravel")
        a = _lap(kinds["timetravel"], a)
        with ctx.op("lookup"):
            got = t.scan_keys(kdf).collect()
        ctx.check({tuple(r) for r in got} == model_rows(model, keys), "lookup differs")
        ctx.count("rows.lookup", len(got))
        a = _lap(kinds["lookup"], a)
        with ctx.op("ann_topk"):
            res = ann(qids)
        ctx.check(_ann_ok(res, qids, unit, p["topk"], ann_first), "ANN top-k invalid")
        a = _lap(kinds["ann_topk"], a)
        for name in p["operators"]:
            with ctx.op(name):
                operator(name)
            a = _lap(kinds[name], a)
        reads += 4 + len(p["operators"])
        c += 1
        now = tree_cpu_s()
        cycle_cpu_s.append(now - cpu)
        cpu = now
    elapsed = time.perf_counter() - t0
    amp_bytes = storage_bytes(t)
    _table_shape(ctx, t)
    # the engine's own compaction rule on the fragmented table, after the
    # timed loop; then the order-independent hash of the final scan
    before = t.manifest.version
    a = time.perf_counter()
    with ctx.op("optimize"):
        maintenance.optimize(t, force=False)
    ctx.layer["table.maintenance.optimize_ms"] = (time.perf_counter() - a) * 1e3
    if t.manifest.version != before:
        ctx.layer["table.maintenance.optimize_runs"] = 1
        ctx.layer["table.maintenance.optimize_bytes_rewritten"] = sum(
            f.bytes for f in t.manifest.data_files
        )
    got = gen.table_hash(t.scan().toArrow().to_pylist())
    ctx.check(got == gen.table_hash(model.rows.values()), "final scan hash differs")
    user_bytes = parquet_bytes(
        pa.Table.from_pylist(list(model.rows.values()), gen.LINEITEM_ARROW),
        os.path.join(ctx.work, "live.parquet"),
    )
    ctx.e2e.update(
        {
            "lookup_p50_ms": pctl(kinds["lookup"], 50),
            "scan_p50_ms": pctl(kinds["scan"], 50),
            "timetravel_p50_ms": pctl(kinds["timetravel"], 50),
            "ann_topk_p50_ms": pctl(kinds["ann_topk"], 50),
            "query_cycle_s": sum(pctl(kinds[q], 50) for q in p["operators"]) / 1e3,
            "storage_amplification": amp_bytes / user_bytes,
            # the median cycle: each read's median, summed, so one slow
            # read in one cycle does not move the figure
            "op_p50_ms": sum(pctl(v, 50) for v in kinds.values()),
            "throughput_per_s": reads / elapsed,
            # CPU per read of the first timed cycle. Every run has one; later
            # cycles cost about 10% less, and a slow host fits fewer of them
            # into --seconds, so a median over cycles would follow the host
            "cpu_ms_per_op": cycle_cpu_s[0] * 1e3 / (reads / c),
            "cycle_cpu_s": cycle_cpu_s,
        }
    )
    ctx.layer["table.bytes_written_per_user_byte"] /= user_bytes


def _lap(samples: list, a: float) -> float:
    b = time.perf_counter()
    samples.append((b - a) * 1e3)
    return b


def _ann_ok(rows, qids, unit, topk, first) -> bool:
    """Each query gets ``topk`` neighbours ranked 1..topk by descending
    cosine; each cosine matches numpy's; the same query set returns the
    same neighbours every time it is asked."""
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    if sorted(by_q) != sorted(qids):
        return False
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rn"])
        if [r["rn"] for r in rs] != list(range(1, topk + 1)):
            return False
        cos = [r["cosine"] for r in rs]
        if any(a < b - 1e-9 for a, b in zip(cos, cos[1:])):
            return False
        for r in rs:
            want = float(unit[q] @ unit[r["neighbor_id"]])
            if abs(want - r["cosine"]) > 1e-4:
                return False
    key = tuple(qids)
    got = sorted((r["query_id"], r["neighbor_id"]) for r in rows)
    return first.setdefault(key, got) == got


WORKLOADS = {
    "event_feed": run_event_feed,
    "snapshot_reads": run_snapshot_reads,
}
