"""Ingestion-semantics queries: the MoonlinkTable engine itself, verified
against SQL oracles.

Each query builds a real MoonlinkTable in a temp directory, applies a
deterministic sequence of ingestion events (the same shapes as the
reference's CDC/REST paths, SURVEY.md §3.1/§3.3), scans the result, and the
oracle expresses the expected final state in plain SQL over the source
parquet. This is how the engine's upsert/delete/LSN machinery gets covered
by the driver's correctness gate, not just by pytest.

Insert-key convention: synthetic inserts shift keys by +10_000_000. TPC-H
orderkeys reach 6_000_000 x SF, so these parity fixtures assume SF <= 1
(shifted keys stay disjoint from real keys). They are correctness fixtures
run at sf0.01, not scale-path operators; at larger SF derive the offset
from max(o_orderkey) + 1 instead.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moonlink_spark.operators import load, register
from moonlink_spark.session import local_frame
from moonlink_spark.table.identity import IdentityProp
from moonlink_spark.table.table import MoonlinkTable, drop_positions, file_uris

ORDERS_FIELDS = [
    {"name": "o_orderkey", "data_type": "int64", "nullable": False},
    {"name": "o_custkey", "data_type": "int64"},
    {"name": "o_orderstatus", "data_type": "string"},
    {"name": "o_totalprice", "data_type": "float64"},
    {"name": "o_orderpriority", "data_type": "string"},
]


def _orders_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )


# one live temp dir per tag: a re-invocation first deletes the PREVIOUS
# invocation's directory, so repeated gate/bench/parity runs hold at most
# one table copy per query instead of accumulating copies until /tmp
# fills. The current invocation's dir must outlive this function — the
# returned DataFrames read from it lazily until the driver collects —
# which is why cleanup is deferred to the next run, not a finally block.
# Every tag is used at most once per query invocation (asserted below).
_LIVE_TMP: dict[str, str] = {}


def _tmp_table_dir(tag: str) -> str:
    import shutil

    prev = _LIVE_TMP.pop(tag, None)
    if prev is not None:
        shutil.rmtree(prev, ignore_errors=True)
    d = tempfile.mkdtemp(prefix=f"moonlink-{tag}-")
    _LIVE_TMP[tag] = d
    return d


def _cdc_events(
    df: DataFrame, fields: list[dict], lsn: int, op: str, as_old: bool = False
) -> DataFrame:
    """One CDC event per row of ``df`` in the cdc_events envelope
    (streaming/pipeline.cdc_event_schema shape, built column-wise):
    inserts/updates carry the payload in ``row``, deletes in
    ``old_row``. Shared by every query that hand-feeds apply_cdc_batch,
    so an envelope change lands in exactly one place."""
    from moonlink_spark.schema import field_schema_to_struct

    row_type = field_schema_to_struct(fields)
    row_struct = F.struct(*[F.col(f.name) for f in row_type.fields])
    null_row = F.lit(None).cast(row_type)
    return df.select(
        F.lit(lsn).cast("bigint").alias("lsn"),
        F.lit(None).cast("int").alias("xact_id"),
        F.lit(op).alias("op"),
        (null_row if as_old else row_struct).alias("row"),
        (row_struct if as_old else null_row).alias("old_row"),
    )


def _mask_dv_rows(
    df: DataFrame, files: list[str], dvs: dict[str, list[int]]
) -> DataFrame:
    """Drop the rows an exported snapshot's deletion vectors flag: ``df``
    reads ``files`` and ``dvs`` maps a file path to its deleted row
    positions. The positions of the files ``df`` reads are keyed to
    Spark's file URIs by ``table.file_uris`` and anti-joined as a
    broadcast local relation, the engine's own DV application."""
    to_uri = {fp: uri for uri, fp in file_uris(df, {f: f for f in files}).items()}
    dead = [(to_uri[f], p) for f, ps in dvs.items() if f in to_uri for p in ps]
    if not dead:
        return df
    dv = local_frame(df.sparkSession, dead, "__uri string, __ri long")
    return drop_positions(df, dv)


def _wire_producer_fn(host: str, port: int, schema: dict, partitioner=None):
    """The executor-side Kafka-wire produce loop shared by the wire
    queries: one producer socket per non-empty Spark partition, Avro
    datum encoding, 2000-row send batches. ``partitioner(d) -> int``
    routes rows to topic partitions; None uses the producer default.
    Returns a function for ``DataFrame.foreachPartition``."""

    def _produce_partition(rows) -> None:
        from moonlink_spark.sources.avro_binary import encode_datum
        from moonlink_spark.sources.kafka_wire import KafkaWireProducer

        prod = None
        batches: dict[int | None, list] = {}
        try:
            for r in rows:
                if prod is None:
                    prod = KafkaWireProducer(host, port)
                d = r.asDict()
                p = partitioner(d) if partitioner is not None else None
                b = batches.setdefault(p, [])
                b.append((str(d["event_id"]).encode(), encode_datum(schema, d)))
                if len(b) >= 2000:
                    if p is None:
                        prod.send("events", b)
                    else:
                        prod.send("events", b, partition=p)
                    batches[p] = []
            if prod is not None:
                for p, b in batches.items():
                    if b:
                        if p is None:
                            prod.send("events", b)
                        else:
                            prod.send("events", b, partition=p)
        finally:
            if prod is not None:
                prod.close()

    return _produce_partition


@register(
    "ingest_upsert_delete_scan",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
),
upserted AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice + 1000.0 AS o_totalprice, o_orderpriority
  FROM base WHERE o_orderkey % 100 = 0
),
inserted AS (
  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, 'N' AS o_orderstatus,
         o_totalprice, o_orderpriority
  FROM base WHERE o_orderkey % 97 = 0
),
merged AS (
  SELECT * FROM base WHERE o_orderkey % 100 <> 0
  UNION ALL SELECT * FROM upserted
  UNION ALL SELECT * FROM inserted
)
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
FROM merged WHERE o_orderkey % 55 <> 0
""",
    category="ingest",
)
def ingest_upsert_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE lifecycle on a key-identity table: bulk append, upsert
    batch (updates + inserts), delete batch, scan (parity: REST upsert
    decomposition moonlink_rest_sink.rs:222-253 + delete
    mooncake_table.rs:1241-1287)."""
    base = _orders_df(spark, sf_dir)
    t = MoonlinkTable.create(
        spark,
        _tmp_table_dir("upsert"),
        ORDERS_FIELDS,
        IdentityProp.single("o_orderkey"),
    )
    t.append_df(base)
    t.commit(lsn=1)
    updates = base.filter(F.col("o_orderkey") % 100 == 0).withColumns(
        {
            "o_orderstatus": F.lit("U"),
            "o_totalprice": F.col("o_totalprice") + 1000.0,
        }
    )
    inserts = base.filter(F.col("o_orderkey") % 97 == 0).withColumns(
        {
            "o_orderkey": F.col("o_orderkey") + 10000000,
            "o_orderstatus": F.lit("N"),
        }
    )
    t.upsert_df(updates.unionByName(inserts))
    t.commit(lsn=2)
    deletes = (
        t.scan()
        .filter(F.col("o_orderkey") % 55 == 0)
        .select("o_orderkey")
    )
    t.delete_keys_df(deletes)
    t.commit(lsn=3)
    return t.scan().withColumn(
        "o_totalprice", F.col("o_totalprice").cast("double")
    )


@register(
    "ingest_scan_at_lsn",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
FROM orders WHERE o_orderkey % 3 IN (0, 1)
""",
    category="ingest",
)
def ingest_scan_at_lsn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-your-LSN: three commits, scan pinned at the second commit's LSN
    sees exactly commits 1-2 (consistency rule mooncake_table.rs:440-444;
    versionAsOf semantics SURVEY.md §3.2)."""
    base = _orders_df(spark, sf_dir)
    t = MoonlinkTable.create(
        spark,
        _tmp_table_dir("lsn"),
        ORDERS_FIELDS,
        IdentityProp.single("o_orderkey"),
    )
    t.append_df(base.filter(F.col("o_orderkey") % 3 == 0))
    t.commit(lsn=100)
    t.append_df(base.filter(F.col("o_orderkey") % 3 == 1))
    t.commit(lsn=200)
    t.append_df(base.filter(F.col("o_orderkey") % 3 == 2))
    t.commit(lsn=300)
    return t.scan(lsn=200).withColumn(
        "o_totalprice", F.col("o_totalprice").cast("double")
    )


@register(
    "ingest_fullrow_delete_one",
    oracle="""
SELECT doc_id, source FROM documents
UNION ALL
SELECT doc_id, source FROM documents WHERE doc_id % 10 = 0
""",
    category="ingest",
)
def ingest_fullrow_delete_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FullRow identity: load every %10 doc three times, delete exactly ONE
    occurrence each -> two copies remain (delete-first-match semantics,
    mem_index.rs FullRow multimap; SURVEY.md §1.3)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    dup = docs.filter(F.col("doc_id") % 10 == 0)
    t = MoonlinkTable.create(
        spark,
        _tmp_table_dir("fullrow"),
        [
            {"name": "doc_id", "data_type": "int64", "nullable": False},
            {"name": "source", "data_type": "string"},
        ],
        IdentityProp.full_row(),
    )
    t.append_df(docs.unionByName(dup).unionByName(dup))
    t.commit(lsn=1)
    # distributed full-row delete: no driver collect (the delete set stays
    # a DataFrame end to end)
    t.delete_rows_df(dup)
    t.commit(lsn=2)
    return t.scan()


@register(
    "ingest_streaming_xact_commit_abort",
    oracle="""
SELECT event_id, user_id, event_type FROM events
WHERE user_id % 2 = 0 OR event_type = 'purchase'
""",
    category="ingest",
)
def ingest_streaming_xact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming transactions: xact A (purchase events) commits, xact B
    (error events) aborts — only A's rows are visible
    (transaction_stream.rs semantics; abort parity table_handler.rs:907)."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    t = MoonlinkTable.create(
        spark,
        _tmp_table_dir("xact"),
        [
            {"name": "event_id", "data_type": "int64", "nullable": False},
            {"name": "user_id", "data_type": "int64"},
            {"name": "event_type", "data_type": "string"},
        ],
        IdentityProp.single("event_id"),
    )
    t.append_df(ev.filter(F.col("user_id") % 2 == 0))
    t.commit(lsn=1)
    xa = t.begin_transaction(xact_id=1)
    xa.append_df(
        ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") % 2 != 0))
    )
    xb = t.begin_transaction(xact_id=2)
    xb.append_df(
        ev.filter((F.col("event_type") == "error") & (F.col("user_id") % 2 != 0))
    )
    xa.commit(lsn=5)
    xb.abort()
    return t.scan()


@register(
    "incremental_view_maintenance",
    oracle="""
WITH merged AS (
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 100 <> 0
  UNION ALL
  SELECT o_orderkey, o_totalprice + 1000.0, '1-URGENT'
  FROM orders WHERE o_orderkey % 100 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
FROM merged WHERE o_orderkey % 55 <> 0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    category="ingest",
)
def incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a materialized rollup across table
    commits: the consumer-side counterpart of the reference's LSN-pinned
    reads (SURVEY.md §3.2) — a downstream aggregate kept current by
    applying only the delta between two snapshots, never rescanning the
    base table.

    Builds orders at lsn=1 and materializes
    ``V1 = rollup(priority -> count, sum(price))`` from scan(lsn=1). Then
    three commits mutate the table (updates move rows ACROSS groups:
    %100 keys get price+1000 and priority '1-URGENT'; %97 inserted under
    new keys; %55 deleted). The maintained view is computed as
    ``V1 (+) delta``, where the delta comes from the lsn1-vs-lsn3
    snapshot diff: each changed row contributes (-1, -price_old) to its
    OLD group and (+1, +price_new) to its NEW group, so group migration
    falls out of the algebra. The oracle recomputes the rollup from the
    final state directly — matching proves the maintenance lossless.

    Scale: this is the plan that makes a 100 TB rollup refreshable. The
    base is scanned once, ever (here: V1); each sync shuffles only the
    changed keys (diff join on the primary key, pruned further by
    manifest stats/LSN lineage to just the files that differ between the
    snapshots), and the final merge joins on the GROUP key — a few-row
    broadcast. Cost per refresh is O(|delta|), not O(|table|). Sums run
    over DECIMAL(15,4) so merge order cannot perturb the result.
    """
    base = _orders_df(spark, sf_dir)
    t = MoonlinkTable.create(
        spark,
        _tmp_table_dir("ivm"),
        ORDERS_FIELDS,
        IdentityProp.single("o_orderkey"),
    )
    t.append_df(base)
    t.commit(lsn=1)
    updates = base.filter(F.col("o_orderkey") % 100 == 0).withColumns(
        {
            "o_totalprice": F.col("o_totalprice") + 1000.0,
            "o_orderpriority": F.lit("1-URGENT"),
        }
    )
    inserts = base.filter(F.col("o_orderkey") % 97 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10000000
    )
    t.upsert_df(updates.unionByName(inserts))
    t.commit(lsn=2)
    t.delete_keys_df(
        t.scan().filter(F.col("o_orderkey") % 55 == 0).select("o_orderkey")
    )
    t.commit(lsn=3)

    DEC = "decimal(15,4)"
    # explicit per-side existence markers: row presence must not be
    # inferred from nullable payload columns (a NULL priority on a
    # present row would otherwise drop its delta contribution)
    old = t.scan(lsn=1).select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio_old"),
        F.col("o_totalprice").alias("price_old"),
        F.lit(True).alias("in_old"),
    )
    new = t.scan(lsn=3).select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio_new"),
        F.col("o_totalprice").alias("price_new"),
        F.lit(True).alias("in_new"),
    )
    # the materialized view as of lsn=1 (in production: persisted once)
    v1 = old.drop("in_old").groupBy(F.col("prio_old").alias("o_orderpriority")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("price_old").cast(DEC)).alias("sum_price"),
    )
    # snapshot diff -> per-group delta: -old for vanished/changed rows,
    # +new for appeared/changed rows (group migration handled by algebra)
    d = old.join(new, "o_orderkey", "full_outer").filter(
        F.col("in_old").isNull()
        | F.col("in_new").isNull()
        | ~F.col("prio_old").eqNullSafe(F.col("prio_new"))
        | ~F.col("price_old").eqNullSafe(F.col("price_new"))
    )
    neg = d.filter(F.col("in_old").isNotNull()).select(
        F.col("prio_old").alias("o_orderpriority"),
        F.lit(-1).cast("bigint").alias("dn"),
        (-F.col("price_old")).cast(DEC).alias("dsum"),
    )
    pos = d.filter(F.col("in_new").isNotNull()).select(
        F.col("prio_new").alias("o_orderpriority"),
        F.lit(1).cast("bigint").alias("dn"),
        F.col("price_new").cast(DEC).alias("dsum"),
    )
    delta = (
        neg.unionByName(pos)
        .groupBy("o_orderpriority")
        .agg(F.sum("dn").alias("dn"), F.sum("dsum").alias("dsum"))
    )
    zero_dec = F.lit(0).cast(DEC)
    return (
        v1.join(delta, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            (
                F.coalesce(F.col("n_rows"), F.lit(0))
                + F.coalesce(F.col("dn"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_rows"),
            (
                F.coalesce(F.col("sum_price"), zero_dec)
                + F.coalesce(F.col("dsum"), zero_dec)
            )
            .cast("double")
            .alias("sum_price"),
        )
        .filter(F.col("n_rows") > 0)
        .orderBy("o_orderpriority")
    )


@register(
    "ingest_snapshot_diff",
    oracle="""
WITH changed AS (
  SELECT o_orderkey FROM orders WHERE o_orderkey % 100 = 0
),
inserted AS (
  SELECT o_orderkey + 10000000 AS o_orderkey FROM orders WHERE o_orderkey % 97 = 0
),
deleted AS (
  SELECT o_orderkey FROM orders WHERE o_orderkey % 55 = 0
)
SELECT 'updated' AS change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) * 1000.0 AS DOUBLE) AS price_delta
FROM changed WHERE o_orderkey % 55 <> 0
HAVING COUNT(*) > 0
UNION ALL
SELECT 'inserted', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(15,4))) AS DOUBLE)
FROM inserted i JOIN orders o ON i.o_orderkey = o.o_orderkey + 10000000
HAVING COUNT(*) > 0
UNION ALL
SELECT 'deleted', CAST(COUNT(*) AS BIGINT),
       CAST(-SUM(CAST(o.o_totalprice AS DECIMAL(15,4))) AS DOUBLE)
FROM deleted d JOIN orders o USING (o_orderkey)
HAVING COUNT(*) > 0
ORDER BY change_type
""",
    category="ingest",
)
def ingest_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two LSNs of the same table: the CDC-consumer
    primitive ("what changed between my last sync and now") that the
    reference's LSN-pinned union read exists to answer (SURVEY.md §3.2,
    mooncake_table.rs read-state-at-LSN). Builds orders at lsn=1, applies
    one mixed batch (updates %100 +1000.0, inserts %97 under new keys,
    deletes %55) at lsn=2, then full-outer-joins scan(lsn=1) with
    scan(lsn=2) on the identity key and classifies each key as
    inserted / deleted / updated, reporting row counts and the net
    o_totalprice delta per class.

    Scale: the diff is one full-outer equi-join shuffled on the primary
    key (uniform, no skew) followed by a 3-group aggregate — the standard
    snapshot-reconciliation plan. At 100 TB the manifest makes this
    cheaper still: files whose (min,max) key stats and LSN lineage are
    identical across the two snapshots can be skipped entirely; the join
    only needs files that differ between manifests. Price deltas sum over
    DECIMAL(15,4) for order-independent exactness.

    Updates are detected value-wise (any non-key column differs), so a
    re-upsert of an identical row is NOT an update — matching the
    semantic diff a CDC consumer wants, and making the result independent
    of how many no-op upserts happened between the snapshots. Empty
    change classes are omitted on BOTH sides (the oracle HAVING-filters
    its branches), so the shapes agree at any fixture, not just ones
    where every class is populated.
    """
    base = _orders_df(spark, sf_dir)
    t = MoonlinkTable.create(
        spark,
        _tmp_table_dir("snapdiff"),
        ORDERS_FIELDS,
        IdentityProp.single("o_orderkey"),
    )
    t.append_df(base)
    t.commit(lsn=1)
    updates = base.filter(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    inserts = base.filter(F.col("o_orderkey") % 97 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10000000
    )
    t.upsert_df(updates.unionByName(inserts))
    deletes = base.filter(F.col("o_orderkey") % 55 == 0).select("o_orderkey")
    t.delete_keys_df(deletes)
    t.commit(lsn=2)

    # existence markers, not payload nullness: o_totalprice is nullable,
    # so a present row with NULL price must still classify correctly
    old = t.scan(lsn=1).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price_old"),
        F.lit(True).alias("in_old"),
    )
    new = t.scan(lsn=2).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price_new"),
        F.lit(True).alias("in_new"),
    )
    DEC = "decimal(15,4)"
    diff = old.join(new, "o_orderkey", "full_outer").withColumn(
        "change_type",
        F.when(F.col("in_old").isNull(), "inserted")
        .when(F.col("in_new").isNull(), "deleted")
        .when(~F.col("price_old").eqNullSafe(F.col("price_new")), "updated"),
    ).filter(F.col("change_type").isNotNull())
    return (
        diff.groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                F.coalesce(F.col("price_new").cast(DEC), F.lit(0).cast(DEC))
                - F.coalesce(F.col("price_old").cast(DEC), F.lit(0).cast(DEC))
            )
            .cast("double")
            .alias("price_delta"),
        )
        .orderBy("change_type")
    )


@register(
    "ingest_bulk_load_scan",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
FROM orders WHERE o_orderkey % 7 = 0
""",
    category="ingest",
)
def ingest_bulk_load_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk file load: parquet files registered by FOOTER METADATA only —
    no row-level processing, no rewrite (parity TableEvent::LoadFiles,
    batch_ingestion.rs; SURVEY.md §2a #10). The files are produced
    outside the table, adopted via load_files(copy=True), and the scan
    must return exactly their contents.

    Scale: adoption cost is O(files) footer reads, never O(rows) — how a
    100 TB backfill enters the table without passing through the write
    path."""
    import glob as _glob

    base = _orders_df(spark, sf_dir).filter(F.col("o_orderkey") % 7 == 0)
    src_dir = _tmp_table_dir("bulk-src")
    base.coalesce(2).write.mode("overwrite").parquet(src_dir)
    files = sorted(_glob.glob(os.path.join(src_dir, "*.parquet")))
    t = MoonlinkTable.create(
        spark,
        _tmp_table_dir("bulkload"),
        ORDERS_FIELDS,
        IdentityProp.single("o_orderkey"),
    )
    t.load_files(files, copy=True)
    t.commit(lsn=1)
    return t.scan().withColumn(
        "o_totalprice", F.col("o_totalprice").cast("double")
    )


@register(
    "ingest_alter_add_column_scan",
    oracle="""
SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(NULL AS VARCHAR) AS priority_flag
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CASE WHEN o_orderpriority < '3' THEN 'hot' ELSE 'cold' END
         AS priority_flag
FROM orders WHERE o_orderkey % 2 = 1
""",
    category="ingest",
)
def ingest_alter_add_column_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution mid-stream: append half the rows, ALTER TABLE ADD
    COLUMN, append the other half with the new column populated — the
    scan merges old files (new column as NULL) and new files seamlessly
    (parity AlterTable, mooncake_table.rs:100-127; SURVEY.md §2a #20).

    Scale: alter is a metadata-only commit; no file is rewritten — old
    parquet is read through the widened schema with null backfill."""
    base = _orders_df(spark, sf_dir)
    t = MoonlinkTable.create(
        spark,
        _tmp_table_dir("alter"),
        [
            {"name": "o_orderkey", "data_type": "int64", "nullable": False},
            {"name": "o_totalprice", "data_type": "float64"},
        ],
        IdentityProp.single("o_orderkey"),
    )
    t.append_df(base.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ))
    t.commit(lsn=1)
    # alter is itself a (metadata-only) commit at lsn=2
    t.alter(add_columns=[{"name": "priority_flag", "data_type": "string"}])
    t.append_df(
        base.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            "o_totalprice",
            F.when(F.col("o_orderpriority") < "3", "hot")
            .otherwise("cold")
            .alias("priority_flag"),
        )
    )
    t.commit(lsn=3)
    return t.scan().withColumn(
        "o_totalprice", F.col("o_totalprice").cast("double")
    )


@register(
    "ingest_optimize_invariance",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
),
upserted AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice + 1000.0 AS o_totalprice, o_orderpriority
  FROM base WHERE o_orderkey % 100 = 0
),
merged AS (
  SELECT * FROM base WHERE o_orderkey % 100 <> 0
  UNION ALL SELECT * FROM upserted
)
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
FROM merged WHERE o_orderkey % 55 <> 0
""",
    category="ingest",
)
def ingest_optimize_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction is content-invariant: the MERGE lifecycle (append, 10%
    upsert, delete) followed by OPTIMIZE — rewriting deletion-heavy files
    with DVs applied inline — must scan to EXACTLY the pre-compaction
    result (parity CompactionBuilder, compactor.rs:31-90; SURVEY.md §2a
    #15). The oracle states the post-lifecycle content; compaction adds
    nothing and loses nothing.

    Scale: optimize rewrites only files past the deletion-ratio/file-size
    triggers, in one distributed job; the invariant here is what makes
    background compaction safe to run under live readers."""
    from moonlink_spark.table.maintenance import optimize

    base = _orders_df(spark, sf_dir)
    t = MoonlinkTable.create(
        spark,
        _tmp_table_dir("optinv"),
        ORDERS_FIELDS,
        IdentityProp.single("o_orderkey"),
    )
    t.append_df(base)
    t.commit(lsn=1)
    t.upsert_df(
        base.filter(F.col("o_orderkey") % 100 == 0).withColumns(
            {
                "o_orderstatus": F.lit("U"),
                "o_totalprice": F.col("o_totalprice") + 1000.0,
            }
        )
    )
    t.commit(lsn=2)
    t.delete_keys_df(
        t.scan().filter(F.col("o_orderkey") % 55 == 0).select("o_orderkey")
    )
    t.commit(lsn=3)
    optimize(t)
    return t.scan().withColumn(
        "o_totalprice", F.col("o_totalprice").cast("double")
    )


@register(
    "ingest_initial_copy_cdc_scan",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 30 <> 0
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
FROM orders WHERE o_orderkey % 3 = 2
""",
    category="ingest",
)
def ingest_initial_copy_cdc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial copy then CDC takeover: snapshot-seed the table at a cursor
    LSN, then apply a CDC batch containing events from BEFORE the snapshot
    cursor (must be skipped — replaying them would double-apply) mixed
    with post-cursor inserts and deletes (parity: initial-copy + buffered
    replay with LSN floor, initial_copy.rs + table_handler.rs:940-951;
    SURVEY.md §2a #11).

    The %3==1 events carry lsn=500 < snapshot_lsn=1000: their ABSENCE from
    the result proves the floor; the oracle states snapshot minus deletes
    plus post-cursor inserts."""
    from moonlink_spark.streaming.pipeline import apply_cdc_batch, initial_copy

    base = _orders_df(spark, sf_dir)
    t = MoonlinkTable.create(
        spark,
        _tmp_table_dir("initcopy"),
        ORDERS_FIELDS,
        IdentityProp.single("o_orderkey"),
    )
    initial_copy(t, base.filter(F.col("o_orderkey") % 3 == 0), snapshot_lsn=1000)

    def ev(df, lsn, op, as_old=False):
        return _cdc_events(df, ORDERS_FIELDS, lsn, op, as_old)

    pre_cursor = ev(base.filter(F.col("o_orderkey") % 3 == 1), 500, "insert")
    inserts = ev(base.filter(F.col("o_orderkey") % 3 == 2), 1500, "insert")
    deletes = ev(
        base.filter(F.col("o_orderkey") % 30 == 0), 2000, "delete", as_old=True
    )
    apply_cdc_batch(t, pre_cursor.unionByName(inserts).unionByName(deletes), 0)
    return t.scan().withColumn(
        "o_totalprice", F.col("o_totalprice").cast("double")
    )


@register(
    "ingest_export_iceberg_dv_scan",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
FROM orders WHERE o_orderkey % 7 <> 0
""",
    category="ingest",
)
def ingest_export_iceberg_dv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-export round trip with Puffin deletion vectors: ingest,
    delete (creating DVs), export — the deletes ship as deletion-vector-v1
    blobs, data files untouched — then read the result back THROUGH the
    exported metadata only (manifest-list -> manifests -> parquet + DV
    blobs) and return the reconstructed live rows. This is the full write
    + read cycle of the reference's Iceberg sync
    (iceberg_table_syncer.rs:723 writes the DV puffin; the DataFusion read
    side consumes it, moonlink_datafusion/table_provider.rs:119-126).

    Scale shape: the export copies data files driver-free (no rewrite);
    the DV anti-join uses a broadcast of (file, position) pairs — the
    deletes, not the data — so the read plan is scan + broadcast-anti,
    same as the engine's own DV application."""
    from moonlink_spark.table.iceberg_export import (
        export_iceberg,
        read_iceberg_deletion_vectors,
        read_iceberg_live_files,
    )

    base = _orders_df(spark, sf_dir)
    t = MoonlinkTable.create(
        spark,
        _tmp_table_dir("iceexp"),
        ORDERS_FIELDS,
        IdentityProp.single("o_orderkey"),
    )
    t.append_df(base)
    t.commit(lsn=1)
    t.delete_keys_df(
        base.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    )
    t.commit(lsn=2)

    dest = _tmp_table_dir("iceexp-dest")
    summary = export_iceberg(t, dest)
    assert summary["deletion_vectors"] >= 1, "export produced no DV blobs"

    files = read_iceberg_live_files(dest)
    dvs = read_iceberg_deletion_vectors(dest)
    df = _mask_dv_rows(spark.read.parquet(*files), files, dvs)
    return df.withColumn(
        "o_totalprice", F.col("o_totalprice").cast("double")
    )


@register(
    "ingest_export_keyindex_lookup",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
FROM orders
WHERE o_orderkey % 3 = 1 AND o_orderkey % 97 = 31 AND o_orderkey % 7 <> 0
""",
    category="ingest",
)
def ingest_export_keyindex_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-accelerated point lookup on an EXPORTED Iceberg table: the
    key hash index ships as ``mooncake-hash-index-v1`` Puffin blobs at
    export (parity FileIndexBlob, storage/table/iceberg/index.rs:20-22 +
    iceberg_table_syncer.rs import_one_file_index :118-160), and the
    lookup consumes those blobs to prune the file set BEFORE any data
    file is opened (persisted_bucket_hash_map.rs search_values parity on
    the exported side). Deleted rows are masked by the snapshot's Puffin
    deletion vectors.

    The three appends interleave keys mod 3, so every file's min/max
    spans the whole key domain and stats pruning is useless — but all
    probe keys are ≡1 mod 3, so the hash index narrows the scan to the
    second append's files only; the query ASSERTS the plan reads a
    strict subset of the live files.

    Scale shape: the index probe is O(index blocks touched) driver-side
    metadata work (hash-range-partitioned blocks skip on parquet stats);
    the data read is a parquet scan of only the pruned files with an
    IN-list filter pushed down; DV masking is a broadcast anti-join of
    the deleted positions for those files only."""
    from moonlink_spark.table.iceberg_export import (
        export_iceberg,
        iceberg_index_lookup,
        read_iceberg_deletion_vectors,
        read_iceberg_live_files,
    )

    base = _orders_df(spark, sf_dir)
    t = MoonlinkTable.create(
        spark,
        _tmp_table_dir("kixexp"),
        ORDERS_FIELDS,
        IdentityProp.single("o_orderkey"),
        key_index=True,
    )
    for rem in range(3):
        t.append_df(base.filter(F.col("o_orderkey") % 3 == rem))
        t.commit(lsn=rem + 1)
    t.delete_keys_df(
        base.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    )
    t.commit(lsn=4)

    dest = _tmp_table_dir("kixexp-dest")
    summary = export_iceberg(t, dest)
    assert summary["file_index_puffin"], "export shipped no index blobs"

    # probe keys: include keys the DVs deleted — the lookup must drop them
    probe = base.filter(
        (F.col("o_orderkey") % 3 == 1) & (F.col("o_orderkey") % 97 == 31)
    ).select("o_orderkey", F.xxhash64("o_orderkey").alias("h"))
    probes = probe.collect()
    keys = [int(r.o_orderkey) for r in probes]
    assert keys, "probe key set is empty at this SF"

    lookup = iceberg_index_lookup(dest, [int(r.h) for r in probes])
    # the distributed leg (index blocks scanned THROUGH Spark, probes
    # broadcast — the large-probe-batch path) must agree with the
    # driver-side pyarrow leg on the same probe set
    dist = iceberg_index_lookup(
        dest, [int(r.h) for r in probes], spark=spark, distributed_threshold=1
    )
    assert dist["files"] == lookup["files"]
    assert sorted(dist["positions"]) == sorted(lookup["positions"])
    all_files = read_iceberg_live_files(dest)
    assert lookup["files"], "index lookup found no covering files"
    assert len(lookup["files"]) < len(all_files), (
        "index pruning read every file: "
        f"{len(lookup['files'])}/{len(all_files)}"
    )

    df = spark.read.parquet(*lookup["files"]).filter(
        F.col("o_orderkey").isin(keys)
    )
    dvs = read_iceberg_deletion_vectors(dest)
    df = _mask_dv_rows(df, lookup["files"], dvs)
    return df.withColumn(
        "o_totalprice", F.col("o_totalprice").cast("double")
    )


_EVENTS_AVRO_SCHEMA = {
    "type": "record",
    "name": "event",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": ["null", "string"]},
        {"name": "value", "type": "double"},
        {"name": "props", "type": ["null", "string"]},
    ],
}

EVENTS_FIELDS = [
    {"name": "event_id", "data_type": "int64", "nullable": False},
    {"name": "ts", "data_type": "timestamp"},
    {"name": "user_id", "data_type": "int64"},
    {"name": "event_type", "data_type": "string"},
    {"name": "value", "data_type": "float64"},
    {"name": "props", "data_type": "string"},
]


@register(
    "ingest_avro_events_scan",
    oracle="""
SELECT event_id, ts, user_id, event_type, value, props
FROM events WHERE event_id % 5 = 0
""",
    category="ingest",
)
def ingest_avro_events_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-shaped Avro ingestion e2e, jar-free: events are encoded as
    Avro binary datums (pure-Python codec, sources/avro_binary.py),
    produced onto a file-backed queue (the broker stand-in,
    sources/queue.py), drained by AvroQueueIngestor into a key-identity
    table with offset-monotone LSNs, and scanned back. Parity: the
    reference's Kafka/Avro path (rest_ingest/avro_converter.rs:28-190)
    feeding the REST sink.

    The encode+produce side runs ON THE EXECUTORS (produce_df_avro via
    foreachPartition, partition-disjoint offsets) — no rows pass through
    the driver at any scale; the table-side apply is the normal
    distributed append."""
    from moonlink_spark.sources.queue import (
        AvroQueueIngestor,
        FileQueueConsumer,
        produce_df_avro,
    )

    subset = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 5 == 0)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    qdir = _tmp_table_dir("avroq")
    produce_df_avro(subset, qdir, _EVENTS_AVRO_SCHEMA, key_col="event_id")

    t = MoonlinkTable.create(
        spark,
        _tmp_table_dir("avrotbl"),
        EVENTS_FIELDS,
        IdentityProp.single("event_id"),
    )
    ingestor = AvroQueueIngestor(
        t, FileQueueConsumer(qdir), _EVENTS_AVRO_SCHEMA
    )
    stats = ingestor.drain_once()
    assert stats["messages"] > 0, "queue drain ingested nothing"
    # a second drain must be a clean no-op (offset committed)
    assert ingestor.drain_once()["messages"] == 0
    return t.scan()


@register(
    "ingest_kafka_wire_scan",
    oracle="""
SELECT event_id, ts, user_id, event_type, value, props
FROM events WHERE event_id % 7 = 0
""",
    category="ingest",
)
def ingest_kafka_wire_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka ingestion over the BROKER SOCKET: events are Avro-encoded
    and Produced over the real Kafka wire protocol (RecordBatch v2 +
    CRC-32C, sources/kafka_wire.py) by a producer PER EXECUTOR TASK —
    the distributed Kafka-producer shape — then drained by
    AvroQueueIngestor through a committed wire consumer group
    (Fetch/OffsetCommit round trips) into a key-identity table, and
    scanned back. Parity: the reference's Kafka/Avro feed
    (rest_api.rs:418-419, rest_source.rs:371), now with the broker leg
    spoken on the wire instead of a shared file.

    Scale shape: each task holds one socket and streams its partition
    (no rows through the driver); the ingestor's offset-monotone LSN
    floor keeps replays idempotent — the same contract the file-queue
    and REST-journal paths prove."""
    from moonlink_spark.sources.kafka_wire import (
        KafkaWireBroker,
        KafkaWireConsumer,
    )
    from moonlink_spark.sources.queue import AvroQueueIngestor

    subset = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 7 == 0)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    broker = KafkaWireBroker(_tmp_table_dir("kafkalogs")).start()
    try:
        host, port, schema = broker.host, broker.port, _EVENTS_AVRO_SCHEMA
        subset.foreachPartition(_wire_producer_fn(host, port, schema))

        t = MoonlinkTable.create(
            spark,
            _tmp_table_dir("kafkatbl"),
            EVENTS_FIELDS,
            IdentityProp.single("event_id"),
        )
        consumer = KafkaWireConsumer(host, port, "events", group="ingest")
        try:
            ingestor = AvroQueueIngestor(t, consumer, schema)
            stats = ingestor.drain_once(max_messages=1_000_000)
            assert stats["messages"] > 0, "wire drain ingested nothing"
            # a second drain must be a clean no-op (offset committed)
            assert ingestor.drain_once()["messages"] == 0
        finally:
            consumer.close()
        return t.scan()
    finally:
        broker.stop()


@register(
    "ingest_kafka_stream_feed",
    oracle="""
SELECT event_id, ts, user_id, event_type, value, props
FROM events WHERE event_id % 11 = 0
""",
    category="ingest",
)
def ingest_kafka_stream_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka broker as a Structured Streaming SOURCE
    (readStream.format("moonlink-kafka"), integrations/
    spark_datasource.py): events are Produced over the wire protocol
    from executor tasks, then a streaming query drains the topic with
    availableNow — Spark's checkpoint as the offset manager, no broker
    group state — decoding Avro values to columns via valueAvroSchema.
    Parity: the reference's Kafka feed (rest_api.rs:418-419) consumed
    as a stream rather than a drain loop.

    Scale shape: each micro-batch reads one bounded offset range; the
    source holds no state besides the checkpointed next offset."""
    import json as _json
    import uuid as _uuid

    from moonlink_spark.integrations.spark_datasource import (
        register_moonlink_source,
    )
    from moonlink_spark.sources.kafka_wire import KafkaWireBroker

    register_moonlink_source(spark)
    subset = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 11 == 0)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    broker = KafkaWireBroker(_tmp_table_dir("kafkastream")).start()
    try:
        host, port, schema = broker.host, broker.port, _EVENTS_AVRO_SCHEMA
        subset.foreachPartition(_wire_producer_fn(host, port, schema))

        name = f"kafka_feed_{_uuid.uuid4().hex[:8]}"
        q = (
            spark.readStream.format("moonlink-kafka")
            .option("host", host)
            .option("port", port)
            .option("topic", "events")
            .option("valueAvroSchema", _json.dumps(schema))
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(180), "kafka stream did not drain"
        finally:
            if q.isActive:  # failed/timed out: don't leak a live query
                q.stop()
        # offsets are broker-assigned in task-arrival order (not
        # deterministic across runs): return the decoded payload columns
        return spark.table(name).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    finally:
        broker.stop()


@register(
    "ingest_keyindex_delete_scan",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
FROM orders WHERE o_orderkey % 31 <> 0 AND o_orderkey % 47 <> 0
""",
    category="ingest",
)
def ingest_keyindex_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted key hash index drives delete targeting (parity
    persisted_bucket_hash_map.rs: build on flush :486-523, search_values
    :276-302, build_from_merge :525-574).

    The three appends interleave key ranges mod 3, so every file's
    min/max spans the whole key domain — stats pruning cannot narrow the
    delete scan; only the hash index can. First delete runs off the
    per-commit indexes, then optimize(mode="index") merges them, and a
    second delete runs off the merged run."""
    from moonlink_spark.table.maintenance import optimize

    base = _orders_df(spark, sf_dir)
    t = MoonlinkTable.create(
        spark,
        _tmp_table_dir("kix"),
        ORDERS_FIELDS,
        IdentityProp.single("o_orderkey"),
        key_index=True,
    )
    for rem in range(3):
        t.append_df(base.filter(F.col("o_orderkey") % 3 == rem))
        t.commit(lsn=rem + 1)
    t.delete_keys_df(
        base.filter(F.col("o_orderkey") % 31 == 0).select("o_orderkey")
    )
    t.commit(lsn=10)
    optimize(t, mode="index")
    t.delete_keys_df(
        base.filter(F.col("o_orderkey") % 47 == 0).select("o_orderkey")
    )
    t.commit(lsn=11)
    return t.scan().withColumn(
        "o_totalprice", F.col("o_totalprice").cast("double")
    )


_CDC_FEED_FIELDS = [
    {"name": "o_orderkey", "data_type": "int64", "nullable": False},
    {"name": "o_custkey", "data_type": "int64"},
    {"name": "o_totalprice", "data_type": "float64"},
]


@register(
    "ingest_cdc_stream_feed",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT 'insert' AS change_type, CAST(10 AS BIGINT) AS commit_lsn,
       o_orderkey, o_custkey, o_totalprice FROM base
UNION ALL
SELECT 'delete', CAST(20 AS BIGINT), o_orderkey, o_custkey, o_totalprice
FROM base WHERE o_orderkey % 15 = 0
UNION ALL
SELECT 'insert', CAST(20 AS BIGINT), o_orderkey, o_custkey, o_totalprice + 1.0
FROM base WHERE o_orderkey % 15 = 0
UNION ALL
SELECT 'delete', CAST(30 AS BIGINT), o_orderkey, o_custkey, o_totalprice + 1.0
FROM base WHERE o_orderkey % 30 = 0
""",
    category="ingest",
)
def ingest_cdc_stream_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A moonlink table as a Structured Streaming CDC SOURCE
    (readStream.format("moonlink-cdc"), integrations/spark_datasource.py):
    ingest + upsert + delete, then drain the stream with availableNow and
    return every change event — ("insert"|"delete", commit_lsn, *row),
    upserts appearing as delete(old)+insert(new). This is the reference's
    sync-consumer contract (read state at LSN, consume the delta —
    SURVEY.md §3.2, the pattern moonlink_datafusion serves) carried end
    to end by Spark's streaming offset machinery.

    Scale shape: each micro-batch reads only the manifests' DELTA (files
    and DVs added since the last LSN offset), never the table."""
    import uuid as _uuid

    from moonlink_spark.integrations.spark_datasource import (
        register_moonlink_source,
    )

    register_moonlink_source(spark)
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    sub = base.filter(F.col("o_orderkey") % 3 == 0)
    t = MoonlinkTable.create(
        spark,
        _tmp_table_dir("cdcfeed"),
        _CDC_FEED_FIELDS,
        IdentityProp.single("o_orderkey"),
    )
    t.append_df(sub)
    t.commit(lsn=10)
    t.upsert_df(
        sub.filter(F.col("o_orderkey") % 15 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1.0
        )
    )
    t.commit(lsn=20)
    t.delete_keys_df(
        sub.filter(F.col("o_orderkey") % 30 == 0).select("o_orderkey")
    )
    t.commit(lsn=30)

    name = f"cdc_feed_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("moonlink-cdc")
        .option("path", t.path)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180), "CDC stream did not drain"
    finally:
        if q.isActive:  # failed/timed out: don't leak a live query
            q.stop()
    return spark.table(name)


@register(
    "ingest_copy_wire_scan",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders WHERE o_orderkey % 4 = 0 AND o_orderkey % 40 <> 0
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders WHERE o_orderkey % 4 = 1
""",
    category="ingest",
)
def ingest_copy_wire_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial copy over the PostgreSQL COPY PROTOCOL, end to end (parity
    pg_replicate/initial_copy.rs copy_table_stream): executors seed an
    in-process protocol-v3 source database over the wire, the table is
    then seeded by SHARDED COPY READERS — each executor task pins the
    exported snapshot with SET TRANSACTION SNAPSHOT and streams its rowid
    range via COPY OUT on its own socket — committing at the captured
    boundary LSN; finally a CDC batch replays pre-boundary events (poison
    updates that must be dropped by the LSN floor) mixed with post-boundary
    inserts and deletes. Result = snapshot minus deletes plus new inserts;
    the poison status never surfacing proves the switchover floor.

    Scale shape: rows never cross the driver (seeding is
    foreachPartition, the copy is mapInPandas over the shard plan); reader
    parallelism = shard_count, the reference's parallel-CTID-reader dial."""
    from moonlink_spark.ingest.initial_copy import wire_initial_copy
    from moonlink_spark.pg_protocol import PgMockServer, PgWireClient
    from moonlink_spark.streaming.pipeline import apply_cdc_batch

    fields = [
        {"name": "o_orderkey", "data_type": "int64", "nullable": False},
        {"name": "o_custkey", "data_type": "int64"},
        {"name": "o_orderstatus", "data_type": "string"},
    ]
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    srv = PgMockServer(
        os.path.join(_tmp_table_dir("copywire"), "src.db")
    ).start()
    host, port = srv.host, srv.port
    try:
        ctl = PgWireClient(host, port)
        ctl.query(
            "CREATE TABLE src (o_orderkey INTEGER, o_custkey INTEGER, "
            "o_orderstatus TEXT)"
        )
        ctl.close()

        def _seed_partition(rows) -> None:
            from moonlink_spark.pg_protocol import PgWireClient as C

            it = iter(rows)
            try:
                first = next(it)
            except StopIteration:
                return  # empty partition: no connection, no COPY
            c = C(host, port)
            try:
                # bulk load over COPY FROM STDIN (one statement for the
                # whole partition), the protocol's bulk path — not
                # per-batch INSERT statements
                import itertools

                c.copy_in(
                    "COPY src FROM STDIN",
                    (
                        (r["o_orderkey"], r["o_custkey"], r["o_orderstatus"])
                        for r in itertools.chain([first], it)
                    ),
                )
            finally:
                c.close()

        base.filter(F.col("o_orderkey") % 4 == 0).foreachPartition(
            _seed_partition
        )

        t = MoonlinkTable.create(
            spark,
            _tmp_table_dir("copywire-t"),
            fields,
            IdentityProp.single("o_orderkey"),
        )
        # 4 shards: the dial's sweet spot on one host (SCALE.md §7 —
        # the mock source serializes on SQLite past ~4 local readers;
        # on a real cluster the dial scales with executor count)
        stats = wire_initial_copy(t, host, port, "src", shard_count=4)
    finally:
        srv.stop()

    boundary = stats["boundary_lsn"]

    def ev(df, lsn, op, as_old=False):
        return _cdc_events(df, fields, lsn, op, as_old)

    poison = ev(  # pre-boundary replay: floor MUST drop it
        base.filter(F.col("o_orderkey") % 4 == 0).withColumn(
            "o_orderstatus", F.lit("XX")
        ),
        boundary,
        "update",
    )
    inserts = ev(base.filter(F.col("o_orderkey") % 4 == 1), boundary + 1000, "insert")
    deletes = ev(
        base.filter(F.col("o_orderkey") % 40 == 0),
        boundary + 2000,
        "delete",
        as_old=True,
    )
    apply_cdc_batch(t, poison.unionByName(inserts).unionByName(deletes), 0)
    return t.scan()


@register(
    "ingest_replication_auth_scan",
    oracle="""
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 25 = 2 THEN 'XX' ELSE o_orderstatus END
           AS o_orderstatus
FROM orders
WHERE o_orderkey % 5 = 2 AND o_orderkey % 35 <> 2
""",
    category="ingest",
)
def ingest_replication_auth_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logical replication over the AUTHENTICATED copy-both wire, end to
    end (parity pg_replicate/postgres_source.rs:532+, which connects its
    replication stream through tokio-postgres auth): a walsender-shaped
    server requires SCRAM-SHA-256 + the replication=database startup
    parameter; the client runs the full PG startup (pg_protocol's SCRAM
    exchange with mutual server-signature verification), then streams
    XLogData frames into the crash-safe relay/tailer and acknowledges
    progress with standby status updates. A wrong-password client is
    refused first, proving enforcement. The pgoutput trace carries three
    transactions — inserts, updates (status -> 'XX'), deletes — so the
    scan exercises the whole decode -> CDC merge path behind auth.

    Scale shape: trace authoring is the SOURCE side (a real deployment's
    WAL already exists); the relay appends bytes and the tailer's
    micro-batch merge is the same executor-parallel CDC apply as every
    other ingest path."""
    from moonlink_spark.ingest import pgoutput as enc
    from moonlink_spark.ingest.pgwire import (
        ReplicationWireClient,
        ReplicationWireServer,
    )

    base = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .filter(F.col("o_orderkey") % 5 == 2)
        .orderBy("o_orderkey")
    )
    fields = [
        {"name": "o_orderkey", "data_type": "int64", "nullable": False},
        {"name": "o_custkey", "data_type": "int64"},
        {"name": "o_orderstatus", "data_type": "string"},
    ]
    rel_id = 16385
    rel = enc.encode_relation(
        rel_id,
        "orders",
        [(1, "o_orderkey", 20), (0, "o_custkey", 20), (0, "o_orderstatus", 25)],
    )
    rows = base.collect()  # source-side WAL authoring (fixture, not a scan)
    payloads = [enc.encode_begin(100), rel]
    payloads += [
        enc.encode_insert(
            rel_id, [r["o_orderkey"], r["o_custkey"], r["o_orderstatus"]]
        )
        for r in rows
    ]
    payloads.append(enc.encode_commit(100))
    payloads.append(enc.encode_begin(200, xid=2))
    payloads += [
        enc.encode_update(rel_id, [r["o_orderkey"], r["o_custkey"], "XX"])
        for r in rows
        if r["o_orderkey"] % 25 == 2
    ]
    payloads.append(enc.encode_commit(200))
    payloads.append(enc.encode_begin(300, xid=3))
    payloads += [
        enc.encode_delete(rel_id, [r["o_orderkey"], None, None])
        for r in rows
        if r["o_orderkey"] % 35 == 2
    ]
    payloads.append(enc.encode_commit(300))

    d = _tmp_table_dir("replauth")
    trace = os.path.join(d, "wal.bin")
    enc.write_trace(trace, payloads)

    srv = ReplicationWireServer(
        trace, password="s3cret", auth="scram-sha-256"
    ).start()
    try:
        t = MoonlinkTable.create(
            spark,
            os.path.join(d, "table"),
            fields,
            IdentityProp.single("o_orderkey"),
        )
        # enforcement probe: bad credentials never reach
        # START_REPLICATION — and the refusal must be the SPECIFIC
        # 28P01 auth error, not just "something failed" (an unrelated
        # socket/TLS failure must not vacuously 'prove' enforcement)
        from moonlink_spark.pg_protocol import PgServerError

        intruder = ReplicationWireClient(
            t, srv.host, srv.port, os.path.join(d, "spool-bad.bin"),
            password="wrong",
        )
        try:
            intruder.stream_once()
            raise AssertionError("wrong password was accepted")
        except PgServerError as e:
            assert e.fields.get("C") == "28P01", e.fields
        client = ReplicationWireClient(
            t, srv.host, srv.port, os.path.join(d, "spool.bin"),
            password="s3cret",
        )
        stats = client.stream_once()
        assert stats["commits"] == 3, stats
    finally:
        srv.stop()
    return t.scan()


@register(
    "ingest_pg_metadata_recovery_scan",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders WHERE o_orderkey % 4 = 1
""",
    category="ingest",
)
def ingest_pg_metadata_recovery_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backend lifecycle with the control plane in POSTGRES: table
    metadata is stored and recovered over the PG wire protocol (simple
    query flow against an in-process protocol-v3 server, cleartext auth
    enforced) — the reference's primary metadata-store deployment
    (src/moonlink_metadata_store/src/postgres.rs; recovery_utils.rs
    rebuilds every table from get_all_table_metadata_entries). A FRESH
    backend instance recovers the table purely through the PG store —
    identity, schema, and manifest pointer all round-trip the wire —
    then serves the scan.

    Scale shape: the PG store holds one row per table (control plane
    only); recovery is O(tables) metadata reads, and the data path is
    untouched — same parquet scan as every other ingest query."""
    from moonlink_spark.backend import MoonlinkBackend
    from moonlink_spark.pg_protocol import PgMockServer

    base = _orders_df(spark, sf_dir).filter(F.col("o_orderkey") % 4 == 1)
    srv = PgMockServer(
        os.path.join(_tmp_table_dir("pgmeta-db"), "pg.db"), password="pw"
    ).start()
    try:
        opts = {"host": srv.host, "port": srv.port, "password": "pw"}
        wh = _tmp_table_dir("pgmeta-wh")
        be = MoonlinkBackend(
            spark, wh, metadata_store="postgres", metadata_store_options=opts
        )
        t = be.create_table(
            "db", "orders", ORDERS_FIELDS, IdentityProp.single("o_orderkey")
        )
        t.append_df(base)
        t.commit(lsn=1)
        # a fresh backend resolves the table THROUGH the PG control plane
        be2 = MoonlinkBackend(
            spark, wh, metadata_store="postgres", metadata_store_options=opts
        )
        assert be2.list_tables() == ["db.orders"]
        t2 = be2.get_table("db", "orders")
        assert t2.identity == IdentityProp.single("o_orderkey")
        return t2.scan()
    finally:
        srv.stop()


@register(
    "ingest_kafka_group_rebalance_scan",
    oracle="""
SELECT event_id, ts, user_id, event_type, value, props
FROM events WHERE event_id % 5 = 2
""",
    category="ingest",
)
def ingest_kafka_group_rebalance_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-GROUP ingestion across a mid-stream rebalance: events are
    produced over the Kafka wire into a 2-partition topic (distributed,
    one producer socket per executor task, partitioned by event_id), a
    group member starts draining into the table, a SECOND member joins
    mid-stream — JoinGroup/SyncGroup rebalance, range assignment — and
    both members drain to dry. Because offsets live in the group and
    each fetch is committed before the partition can move, the union of
    both members' messages is exactly the produced set: the table scans
    back loss-free and duplicate-free through the rebalance. Parity:
    the reference's Kafka feed consumed in Kafka's production
    subscribe() mode (multi-consumer), vs ingest_kafka_wire_scan's
    explicit assign() mode.

    Scale shape: partitions are the parallelism unit; adding members
    re-ranges partitions without re-reading history (committed offsets
    are the group's, not the member's). NOTE — the drain below is a
    PROTOCOL DEMO, deliberately through the driver: a group member IS a
    single client process in Kafka's model, and this gate exists to
    prove the rebalance protocol (join/sync/heartbeat/offset-commit
    across a membership change). Do NOT copy it as the ingest pattern
    at volume — the distributed consumption path is the moonlink-kafka
    STREAM SOURCE (per-task offset-range fetches, Arrow batches; see
    MoonlinkKafkaStreamReader), with
    spark_datasource.kafka_jvm_reader_options as the JVM swap-in."""
    from moonlink_spark.sources.avro_binary import decode_datum
    from moonlink_spark.sources.kafka_wire import (
        KafkaGroupConsumer,
        KafkaWireBroker,
    )

    subset = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 5 == 2)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    n_expected = subset.count()
    broker = KafkaWireBroker(
        _tmp_table_dir("kgrouplogs"), rebalance_timeout_s=0.5
    ).start()
    try:
        host, port, schema = broker.host, broker.port, _EVENTS_AVRO_SCHEMA
        subset.foreachPartition(
            _wire_producer_fn(
                host, port, schema,
                partitioner=lambda d: int(d["event_id"]) % 2,
            )
        )

        t = MoonlinkTable.create(
            spark,
            _tmp_table_dir("kgrouptbl"),
            EVENTS_FIELDS,
            IdentityProp.single("event_id"),
        )

        rows: list[dict] = []
        lsn = [0]

        def _ingest(member, max_messages: int = 500) -> int:
            got = member.poll(max_messages=max_messages)
            for _p, _o, _k, v in got:
                rows.append(decode_datum(schema, v)[0])
            member.commit_polled()
            if rows:
                t.append_rows(list(rows))
                rows.clear()
                lsn[0] += 1
                t.commit(lsn=lsn[0])
            return len(got)

        import threading as _t

        a = KafkaGroupConsumer(host, port, "events", group="grp")
        b = None
        try:
            a.ensure_active()
            assert a.assigned == [0, 1]  # sole member holds both partitions
            _ingest(a)  # drain a prefix alone

            b = KafkaGroupConsumer(host, port, "events", group="grp")
            joiner = _t.Thread(target=b.ensure_active)
            joiner.start()
            # keep A polling through the rebalance barrier (commit-then-move)
            deadline = 30.0
            import time as _time

            t0 = _time.time()
            while (len(a.assigned) != 1 or joiner.is_alive()) and (
                _time.time() - t0 < deadline
            ):
                _ingest(a)
            joiner.join(timeout=10)
            assert not joiner.is_alive(), "rebalance did not converge"
            assert sorted(a.assigned + b.assigned) == [0, 1]

            # converged: the small polls above exist to exercise
            # commit-then-move repeatedly through the barrier; the bulk
            # drain uses full-size polls (one table commit per ~10k
            # messages)
            idle = 0
            while idle < 2:
                n = _ingest(a, 10_000) + _ingest(b, 10_000)
                idle = idle + 1 if n == 0 else 0
        finally:
            # close on failure too: a live member's heartbeat thread
            # would otherwise keep running and mask the real failure
            a.close()
            if b is not None:
                b.close()
        assert t.scan().count() == n_expected, "loss or dup through rebalance"
        return t.scan()
    finally:
        broker.stop()


@register(
    "ingest_cached_scan",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
FROM orders WHERE o_orderkey % 4 <> 0
""",
    category="ingest",
)
def ingest_cached_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-storage cache on the read path (parity: the reference's
    per-node cache, object_storage_cache.rs:266-283 + base_cache.rs:33-73):
    the table's control plane lives on an object store reached through a
    read-through CachedFS, so immutable artifacts (versioned manifests)
    are fetched once and re-served from pinned local copies. The query
    commits, scans, deletes, commits, scans again — and asserts in-flight
    that (a) re-reads hit the cache (hits > 0) and (b) invalidation-on-
    publish means the post-delete scan is NOT the stale pre-delete one.
    A wrong cache (stale manifest served after commit) changes the row
    set and fails the value-hash oracle, so correctness rides the gate,
    not just the assertions.

    Scale shape: the cache is executor/process-local and byte-budgeted
    (LRU over unpinned entries); at 1000 nodes each holds only what it
    re-reads, and a 100 TB table's manifest+index hot set is MBs/node."""
    from moonlink_spark.table.fs import (
        InMemoryObjectStore,
        ObjectStoreFS,
        register_fs_scheme,
    )
    from moonlink_spark.table.objcache import (
        CACHEABLE_SUFFIXES,
        CachedFS,
        ObjectStorageCache,
    )

    cache = ObjectStorageCache(
        max_bytes=64 << 20, cache_directory=_tmp_table_dir("objcache")
    )
    cfs = CachedFS(
        ObjectStoreFS(InMemoryObjectStore()),
        cache,
        # versioned manifests are publish-once-immutable: cacheable
        cacheable=lambda p: "/_manifests/" in p
        or p.endswith(CACHEABLE_SUFFIXES),
    )
    # FIXED scheme name: the registry is process-global with no
    # unregister, so a per-run uuid scheme would pin every past run's
    # object store + cache in memory for the session's lifetime;
    # re-registering replaces the factory and the old store becomes
    # collectable (review finding r9)
    scheme = "cachememgate"
    register_fs_scheme(scheme, lambda path: cfs)

    base = _orders_df(spark, sf_dir)
    t = MoonlinkTable.create(
        spark,
        f"{scheme}://wh/db/orders",
        ORDERS_FIELDS,
        IdentityProp.single("o_orderkey"),
        data_path=_tmp_table_dir("cachedata"),
    )
    t.append_df(base)
    t.commit(lsn=1)
    n_full = t.scan().count()
    # re-open drops in-process manifest state; the re-scan's manifest
    # reads come back through the cache
    t2 = MoonlinkTable(spark, f"{scheme}://wh/db/orders", t.data_path)
    assert t2.scan().count() == n_full
    assert cache.stats()["hits"] > 0, "re-read did not hit the cache"
    t2.delete_keys_df(base.filter(F.col("o_orderkey") % 4 == 0).select("o_orderkey"))
    t2.commit(lsn=2)
    out = t2.scan()
    assert out.count() < n_full, "stale cached manifest after commit"
    return out.withColumn("o_totalprice", F.col("o_totalprice").cast("double"))


@register(
    "ingest_cached_data_scan",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
FROM orders WHERE o_orderkey % 6 <> 0
""",
    category="ingest",
)
def ingest_cached_data_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data plane in object storage, scanned through per-executor caches
    (parity: the reference's cache consumption model —
    object_storage_cache.rs read through snapshot_cache_utils.rs): the
    table's parquet + DV files are PUSHED into an S3-protocol store
    (SigV4-signed) and scanned back with mapInArrow tasks that localize
    their files through process-local read-through caches; deletion
    vectors apply via the standard (file,row) anti-join over the pushed
    DV parquet. A localization or DV-mapping bug changes the row set and
    fails the value-hash oracle.

    Scale shape: the driver ships only (store_path, rel) pairs; file
    bytes move store->executor, localization parallelism == file count,
    each executor's cache is byte-budgeted LRU (no-fit degrades to a
    streamed remote read)."""
    from moonlink_spark.table.cached_plane import CachedDataPlane
    from moonlink_spark.table.s3 import S3HttpFS, S3MemServer

    base = _orders_df(spark, sf_dir)
    t = MoonlinkTable.create(
        spark,
        _tmp_table_dir("cachedplane"),
        ORDERS_FIELDS,
        IdentityProp.single("o_orderkey"),
    )
    t.append_df(base)
    t.commit(lsn=1)
    t.delete_keys_df(
        base.filter(F.col("o_orderkey") % 6 == 0).select("o_orderkey")
    )
    t.commit(lsn=2)

    srv = S3MemServer(credentials={"AK": "SK"}).start()
    try:
        endpoint = srv.endpoint
        plane = CachedDataPlane(
            lambda: S3HttpFS(endpoint, access_key="AK", secret_key="SK"),
            "s3mem://wh/orders",
            cache_dir=_tmp_table_dir("cachedplane-x"),
            max_bytes=1 << 30,
        )
        plane.push(t)
        out = plane.scan(spark, t).withColumn(
            "o_totalprice", F.col("o_totalprice").cast("double")
        )
        # materialize before the server stops: executor tasks fetch over
        # live sockets during the action, not at plan time. Checkpoint
        # FIRST so the store read happens exactly once — the old
        # count-then-checkpoint order executed the whole cached read
        # twice (r12; the divergence assert now reads checkpointed
        # partitions instead of re-fetching)
        out = out.localCheckpoint()
        # divergence reference: the manifest's exact live-row count
        # (cardinality() is stats-maintained by the same commits, no
        # scan) — re-counting the local parquet+DV view here was one
        # more full scan job per query run for the same number (r13)
        assert out.count() == t.cardinality(), (
            "cached scan diverged from local"
        )
        return out
    finally:
        srv.stop()
