#!/usr/bin/env python
"""Scale validation for the round-6 wire surfaces (VERDICT r6 item 6):

1. Cached data plane at 10x the file count — cold vs warm scan wall
   time, remote request deltas, and a budget-constrained pass where
   max_bytes < data size forces LRU eviction in the scan loop.
2. COPY-wire initial copy — wall time as shard_count scales (the
   reference's parallelism dial, initial_copy.rs shard readers).
3. Consumer-group rebalance at 4 partitions / 4 members — join
   convergence, exclusive partition ownership, full drain, and
   reassignment coverage after a leave.
4. Avro decode at 200k messages — ``decode_record`` + ``row_for_spark``
   rows against the numpy bulk decoder (``decode_columns`` +
   ``arrow_batch_for_spark``): msg/s and the tracemalloc peak of each.
5. Kafka record framing at 200k messages — zstd RecordBatches of 1,000
   through ``decode_record_batches`` in 5,000-record fetches: msg/s and
   the tracemalloc peak, every decoded ``(offset, key, value)`` checked
   against what was produced.

Prints markdown rows for SCALE.md §5/§6. Exits non-zero on any
invariant violation (wrong rows, non-exclusive assignment, warm scan
slower than cold, a bulk-decoded value differing from its row, a
decoded record differing from the produced one).

Usage: python scripts/scale_wire_validation.py [--workdir DIR]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _timed(fn):
    t0 = time.time()
    out = fn()
    return time.time() - t0, out


def cached_plane_rows(spark, workdir: str) -> list[str]:
    from moonlink_spark.table.cached_plane import CachedDataPlane
    from moonlink_spark.table.identity import IdentityProp
    from moonlink_spark.table.s3 import S3HttpFS, S3MemServer
    from moonlink_spark.table.table import MoonlinkTable

    rows_out = []
    for label, n_files, rows_per_file in (("1x", 4, 30_000), ("10x", 40, 30_000)):
        d = os.path.join(workdir, f"cp-{label}")
        os.makedirs(d, exist_ok=True)
        srv = S3MemServer(credentials={"AK": "SK"}).start()
        try:
            t = MoonlinkTable.create(
                spark,
                os.path.join(d, "tbl"),
                [
                    {"name": "id", "data_type": "int64", "nullable": False},
                    {"name": "val", "data_type": "float64"},
                ],
                IdentityProp.single("id"),
            )
            for k in range(n_files):
                t.append_rows(
                    [
                        {"id": k * rows_per_file + i, "val": float(i)}
                        for i in range(rows_per_file)
                    ]
                )
                t.commit(lsn=k + 1)
            total = n_files * rows_per_file
            endpoint = srv.endpoint

            def plane(cache_dir, max_bytes=4 << 30):
                return CachedDataPlane(
                    lambda: S3HttpFS(endpoint, access_key="AK", secret_key="SK"),
                    "s3mem://b/wh/tbl",
                    cache_dir=cache_dir,
                    max_bytes=max_bytes,
                )

            p = plane(os.path.join(d, "cache"))
            p.push(t)
            r0 = srv._req_count
            cold_s, n_cold = _timed(lambda: p.scan(spark, t).count())
            cold_reqs = srv._req_count - r0
            r0 = srv._req_count
            warm_s, n_warm = _timed(lambda: p.scan(spark, t).count())
            warm_reqs = srv._req_count - r0
            assert n_cold == n_warm == total, (n_cold, n_warm, total)
            assert warm_s <= cold_s, "warm scan slower than cold"

            # budget-constrained: cache half the data -> eviction churns
            # every pass, counts stay exact
            data_bytes = sum(
                os.path.getsize(t._resolve(f.path))
                for f in t.manifest.data_files
            )
            pb = plane(os.path.join(d, "cache-tight"), max_bytes=data_bytes // 2)
            tight_s, n_tight = _timed(lambda: pb.scan(spark, t).count())
            tight2_s, n_tight2 = _timed(lambda: pb.scan(spark, t).count())
            assert n_tight == n_tight2 == total
            rows_out.append(
                f"| cached data plane {label} ({n_files} files, "
                f"{total:,} rows) | cold {cold_s:.2f}s "
                f"({cold_reqs} reqs) | warm {warm_s:.2f}s ({warm_reqs} reqs) "
                f"| tight-budget {tight_s:.2f}s/{tight2_s:.2f}s |"
            )
        finally:
            srv.stop()
            shutil.rmtree(d, ignore_errors=True)
    return rows_out


def copy_wire_rows(spark, workdir: str) -> list[str]:
    from moonlink_spark.ingest.initial_copy import wire_initial_copy
    from moonlink_spark.pg_protocol import PgMockServer, PgWireClient
    from moonlink_spark.table.identity import IdentityProp
    from moonlink_spark.table.table import MoonlinkTable

    n = 60_000
    d = os.path.join(workdir, "copywire")
    os.makedirs(d, exist_ok=True)
    srv = PgMockServer(os.path.join(d, "src.db")).start()
    rows_out = []
    try:
        c = PgWireClient(srv.host, srv.port)
        c.query("CREATE TABLE src (id INTEGER, name TEXT)")
        s, _ = _timed(
            lambda: c.copy_in(
                "COPY src FROM STDIN",
                ((i, f"seed{i}") for i in range(n)),
            )
        )
        rows_out.append(
            f"| COPY FROM STDIN seed ({n:,} rows, one socket) | {s:.2f}s |"
        )
        c.close()
        cells = []
        for shards in (1, 2, 4, 8):
            t = MoonlinkTable.create(
                spark,
                os.path.join(d, f"t{shards}"),
                [
                    {"name": "id", "data_type": "int64", "nullable": False},
                    {"name": "name", "data_type": "string"},
                ],
                IdentityProp.single("id"),
            )
            s, res = _timed(
                lambda: wire_initial_copy(
                    t, srv.host, srv.port, "src", shard_count=shards
                )
            )
            assert res["rows_copied"] == n, res
            cells.append(f"{shards} shards {s:.2f}s")
        rows_out.append(
            f"| COPY-wire initial copy ({n:,} rows) | " + " | ".join(cells) + " |"
        )
    finally:
        srv.stop()
        shutil.rmtree(d, ignore_errors=True)
    return rows_out


def group_rebalance_rows(workdir: str) -> list[str]:
    from moonlink_spark.sources.avro_binary import encode_datum
    from moonlink_spark.sources.kafka_wire import (
        KafkaGroupConsumer,
        KafkaWireBroker,
        KafkaWireProducer,
    )

    schema = {
        "type": "record",
        "name": "e",
        "fields": [{"name": "id", "type": "long"}],
    }
    n_parts, per_part = 4, 10_000
    d = os.path.join(workdir, "group4")
    broker = KafkaWireBroker(os.path.join(d, "logs")).start()
    members: list = []
    try:
        prod = KafkaWireProducer(broker.host, broker.port)
        for p in range(n_parts):
            prod.send(
                "g4",
                [
                    (None, encode_datum(schema, {"id": p * per_part + i}))
                    for i in range(per_part)
                ],
                partition=p,
            )
        prod.close()

        t0 = time.time()
        members.extend(
            KafkaGroupConsumer(
                broker.host, broker.port, "g4", group="sv", client_id=f"m{i}"
            )
            for i in range(n_parts)
        )
        # JoinGroup is a barrier: all members must (re)join concurrently
        def settle(ms):
            ths = [threading.Thread(target=m.ensure_active) for m in ms]
            for th in ths:
                th.start()
            for th in ths:
                th.join(timeout=30)

        settle(members)
        settle(members)  # absorb generation bumps from late joiners
        join_s = time.time() - t0
        owned = sorted(p for m in members for p in m.assigned)
        assert owned == list(range(n_parts)), owned  # exclusive, complete

        got: set[int] = set()
        lock = threading.Lock()

        def drain(m):
            while True:
                msgs = m.poll(max_messages=5000)
                if not msgs:
                    break
                from moonlink_spark.sources.avro_binary import decode_record

                with lock:
                    for _p, _o, _k, v in msgs:
                        got.add(decode_record(schema, v)["id"])
                m.commit_polled()

        t0 = time.time()
        threads = [threading.Thread(target=drain, args=(m,)) for m in members]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        drain_s = time.time() - t0
        total = n_parts * per_part
        assert len(got) == total, len(got)

        # one member leaves -> remaining 3 cover all 4 partitions
        t0 = time.time()
        members[0].close()
        settle(members[1:])
        settle(members[1:])
        re_s = time.time() - t0
        owned = sorted(p for m in members[1:] for p in m.assigned)
        assert owned == list(range(n_parts)), owned
        return [
            f"| group rebalance (4 partitions, 4 members, {total:,} msgs) "
            f"| join-to-stable {join_s:.2f}s | parallel drain {drain_s:.2f}s "
            f"({total / max(drain_s, 1e-9):,.0f} msg/s) "
            f"| leave-reassign {re_s:.2f}s |"
        ]
    finally:
        for m in members[1:]:
            try:
                m.close()
            except Exception:
                pass
        broker.stop()
        shutil.rmtree(d, ignore_errors=True)


def framing_rows(n: int = 200_000, per_batch: int = 1_000) -> list[str]:
    """Decode ``n`` messages framed as zstd RecordBatches of
    ``per_batch`` records, 5,000 records per call as a consumer poll
    asks, and check every decoded record against the produced one.
    Raises AssertionError on any difference."""
    import random
    import tracemalloc

    from moonlink_spark.sources.kafka_wire import (
        decode_record_batches,
        encode_record_batch,
    )

    rng = random.Random(7)
    sent = [
        (
            None if i % 3 == 0 else b"key-%d" % i,
            None if i % 97 == 0 else rng.randbytes(rng.randrange(20, 200)),
        )
        for i in range(n)
    ]
    batches = [
        encode_record_batch(a, sent[a : a + per_batch], compression="zstd")
        for a in range(0, n, per_batch)
    ]

    def drain():
        # each call gets what a broker serves a 5,000-record fetch: the
        # batches from the one holding the floor on, 1.25x the need
        out, floor = [], 0
        while floor < n:
            first = floor // per_batch
            data = b"".join(batches[first : first + 5_000 * 5 // 4 // per_batch + 1])
            recs = decode_record_batches(data, floor, 5_000)
            out.append(recs)
            floor = int(recs.offsets[-1]) + 1
        return out

    drain()
    t0 = time.process_time()
    drain()
    cpu_s = time.process_time() - t0
    tracemalloc.start()
    polls = drain()
    peak = tracemalloc.get_traced_memory()[1]
    tracemalloc.stop()
    got = [r for recs in polls for r in recs]
    assert got == [(i, k, v) for i, (k, v) in enumerate(sent)], "framing differs"
    return [
        f"| Kafka framing, decode_record_batches ({n:,} msgs, zstd batches "
        f"of {per_batch:,}, 5,000 per call) | {n / cpu_s:,.0f} msg/s (CPU) "
        f"| tracemalloc peak {peak / 2**20:.1f} MiB |"
    ]


def avro_decode_rows(n: int = 200_000) -> list[str]:
    """The interpretive row decode against the bulk decoder over ``n``
    4-field records (long/string/timestamp-micros/double). Raises
    AssertionError if any decoded value differs."""
    import datetime as dt
    import random
    import tracemalloc

    import numpy as np

    from moonlink_spark.sources.avro_arrow import (
        arrow_batch_for_spark,
        decode_columns,
    )
    from moonlink_spark.sources.avro_binary import (
        decode_record,
        encode_datum,
        row_for_spark,
    )
    from moonlink_spark.sources.converters import avro_schema_to_struct

    schema = {
        "type": "record",
        "name": "e",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            },
            {"name": "v", "type": "double"},
        ],
    }
    rng = random.Random(5)
    epoch = dt.datetime(2024, 1, 1)
    values = [
        encode_datum(
            schema,
            {
                "id": i,
                "name": f"user-{rng.randrange(10**6)}-é",
                "ts": epoch + dt.timedelta(microseconds=rng.randrange(10**12)),
                "v": rng.random(),
            },
        )
        for i in range(n)
    ]
    struct = avro_schema_to_struct(schema)

    def rows():
        return [row_for_spark(schema, decode_record(schema, v)) for v in values]

    lens = np.array([len(v) for v in values], np.int64)
    ends = np.cumsum(lens)
    buf = np.frombuffer(b"".join(values), np.uint8)

    def bulk():
        return arrow_batch_for_spark(
            struct, decode_columns(schema, buf, ends - lens, ends)
        )

    bulk()  # warm: pyspark's Arrow type mapping imports on first use
    out = []
    for label, fn in (("decode_record + row_for_spark", rows), ("numpy bulk decode -> Arrow", bulk)):
        t0 = time.process_time()
        fn()
        cpu_s = time.process_time() - t0
        tracemalloc.start()
        fn()
        peak = tracemalloc.get_traced_memory()[1]
        tracemalloc.stop()
        out.append(
            f"| Avro decode, {label} ({n:,} msgs) | {n / cpu_s:,.0f} msg/s "
            f"(CPU) | tracemalloc peak {peak / 2**20:.1f} MiB |"
        )
    batch = bulk()
    want = rows()
    # the batch's timestamps are UTC-aware; the rows' are naive UTC
    for name in ("id", "name", "v"):
        assert batch.column(name).to_pylist() == [r[name] for r in want], name
    ts = batch.column("ts").cast("int64").to_pylist()
    assert ts == [(r["ts"] - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1) for r in want]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workdir", default="/tmp/moonlink-wire-scale")
    args = ap.parse_args()
    os.makedirs(args.workdir, exist_ok=True)

    from moonlink_spark.session import get_spark

    spark = get_spark("wire-scale", master="local[8]")
    # warm the Python-worker pool once so cold-scan timings measure IO,
    # not the first-UDF worker spin-up
    spark.range(64).mapInPandas(lambda it: it, "id long").count()
    rows = framing_rows()
    rows += avro_decode_rows()
    rows += cached_plane_rows(spark, args.workdir)
    rows += copy_wire_rows(spark, args.workdir)
    rows += group_rebalance_rows(args.workdir)
    print("\n".join(rows))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
