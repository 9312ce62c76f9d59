"""MoonlinkBackend: the orchestration facade over many tables.

Parity with the reference backend API surface
(``src/moonlink_backend/src/lib.rs`` + RPC verbs
``src/moonlink_rpc/src/lib.rs:28-39``): create_table, drop_table,
list_tables, scan_table(db, table, lsn), optimize_table, create_snapshot,
plus table metadata persistence (``src/moonlink_metadata_store``) as a JSON
catalog file under the warehouse root.
"""

from __future__ import annotations

import json
import os
import threading
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from moonlink_spark.errors import TableConfigError
from moonlink_spark.table.identity import IdentityProp
from moonlink_spark.table.maintenance import optimize
from moonlink_spark.table.table import MoonlinkTable

CATALOG_FILE = "_catalog.json"


class MoonlinkBackend:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        metadata_store: str = "json",
        metadata_store_options: dict[str, Any] | None = None,
        data_staging_dir: str | None = None,
    ):
        """``metadata_store``: ``"json"`` (single-file catalog, default),
        ``"sqlite"`` (parity ``src/moonlink_metadata_store`` — durable
        SQLite store under the warehouse root), or ``"postgres"`` (parity
        ``postgres/pg_metadata_store.rs`` — the store lives in a Postgres
        control plane reached over the wire protocol;
        ``metadata_store_options`` carries ``host``/``port`` and optional
        ``user``/``database``/``password``). A restarted backend recovers
        every table from ``get_all_table_metadata_entries`` the way the
        reference's recovery does (``recovery_utils.rs``).

        ``warehouse`` may be an object-store URI whose scheme was
        registered via ``table.fs.register_fs_scheme`` (the reference's
        accessor seam): the catalog and every table's control plane
        (manifests, WAL) then live in the object store, while parquet
        data stages under ``data_staging_dir`` — required in that mode,
        since Spark's reader cannot address the control-plane scheme.
        An unregistered scheme fails loudly here instead of silently
        materializing a LOCAL directory named after the URI."""
        self.spark = spark
        self._remote = "://" in warehouse and not warehouse.startswith("file://")
        if self._remote:
            from moonlink_spark.table.fs import fs_for

            self.warehouse = warehouse.rstrip("/")
            self._fs = fs_for(self.warehouse)  # loud on unknown scheme
            if data_staging_dir is None:
                raise TableConfigError(
                    f"object-store warehouse {warehouse!r} needs "
                    "data_staging_dir=... : Spark cannot read parquet "
                    "through the control-plane store; give a local "
                    "staging dir (the per-table data plane lives there)"
                )
            self._staging = os.path.abspath(data_staging_dir)
            os.makedirs(self._staging, exist_ok=True)
        else:
            self.warehouse = os.path.abspath(warehouse)
            os.makedirs(self.warehouse, exist_ok=True)
            self._fs = None
            self._staging = (
                os.path.abspath(data_staging_dir) if data_staging_dir else None
            )
        self._lock = threading.RLock()
        self._tables: dict[tuple[str, str], MoonlinkTable] = {}
        opts = dict(metadata_store_options or {})
        if metadata_store == "sqlite":
            from moonlink_spark.metadata_store import SqliteMetadataStore

            if self._remote:
                raise TableConfigError(
                    "metadata_store='sqlite' needs a local warehouse (the "
                    "store is a file under the warehouse root); use 'json' "
                    "or 'postgres' with an object-store warehouse"
                )
            self._meta_store = SqliteMetadataStore(self.warehouse)
        elif metadata_store == "postgres":
            from moonlink_spark.metadata_store import PgMetadataStore

            self._meta_store = PgMetadataStore(
                opts["host"],
                int(opts["port"]),
                user=opts.get("user", "moonlink"),
                database=opts.get("database", "postgres"),
                password=opts.get("password"),
                # forward TLS options: dropping them silently downgraded
                # a verify-full deployment to cleartext (review r10)
                sslmode=opts.get("sslmode"),
                ssl_ca_file=opts.get("ssl_ca_file"),
            )
        elif metadata_store == "json":
            self._meta_store = None
        else:
            raise TableConfigError(
                f"unknown metadata_store {metadata_store!r} "
                "(json|sqlite|postgres)"
            )

    # -- catalog persistence ------------------------------------------------

    def _catalog_path(self) -> str:
        return self.warehouse + "/" + CATALOG_FILE

    def _load_catalog(self) -> dict[str, Any]:
        p = self._catalog_path()
        if self._fs is not None:
            if not self._fs.exists(p):
                return {"tables": {}}
            return json.load(self._fs.open_read(p))
        if os.path.exists(p):
            with open(p) as fh:
                return json.load(fh)
        return {"tables": {}}

    def _save_catalog(self, cat: dict[str, Any]) -> None:
        if self._fs is not None:
            # durable single-object write; last-wins like the local
            # os.replace (per-backend races are serialized by self._lock)
            self._fs.write_text_durable(self._catalog_path(), json.dumps(cat, indent=1))
            return
        tmp = self._catalog_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cat, fh, indent=1)
        os.replace(tmp, self._catalog_path())

    def _data_path_for(self, database: str, table: str) -> str | None:
        """Local data-plane staging for a table; None for an all-local
        table (control and data planes coincide)."""
        if self._staging is None:
            return None
        p = os.path.join(self._staging, database, table)
        os.makedirs(p, exist_ok=True)
        return p

    @staticmethod
    def _key(database: str, table: str) -> str:
        return f"{database}.{table}"

    # -- table lifecycle ------------------------------------------------------

    def create_table(
        self,
        database: str,
        table: str,
        schema: T.StructType | list[dict[str, Any]],
        identity: IdentityProp,
        append_only: bool | None = None,
        properties: dict[str, Any] | None = None,
    ) -> MoonlinkTable:
        with self._lock:
            key = self._key(database, table)
            path = os.path.join(self.warehouse, database, table)
            if self._meta_store is not None:
                from moonlink_spark.metadata_store import (
                    MetadataStoreError,
                    serialize_table_config,
                )

                if self._meta_store.get_table_metadata_entry(database, table):
                    raise TableConfigError(f"table {key} already exists")
                t = MoonlinkTable.create(
                    self.spark,
                    path,
                    schema,
                    identity,
                    append_only,
                    properties,
                    data_path=self._data_path_for(database, table),
                )
                try:
                    self._meta_store.store_table_metadata(
                        database,
                        table,
                        src_table_name=key,
                        src_table_uri=path,
                        config=serialize_table_config(
                            t.identity.to_json(),
                            t.identity.is_append_only,
                            t.manifest.properties,
                            table_uri=path,
                        ),
                    )
                except Exception as e:
                    # losing the PK race (another backend inserted between
                    # the check and now) or any store failure must not leave
                    # the just-created table directory orphaned — a name with
                    # files but no metadata row can never be created again
                    t.drop()
                    if isinstance(e, MetadataStoreError):
                        raise TableConfigError(
                            f"table {key} was concurrently created"
                        ) from e
                    raise
            else:
                cat = self._load_catalog()
                if key in cat["tables"]:
                    raise TableConfigError(f"table {key} already exists")
                t = MoonlinkTable.create(
                    self.spark,
                    path,
                    schema,
                    identity,
                    append_only,
                    properties,
                    data_path=self._data_path_for(database, table),
                )
                cat["tables"][key] = {"path": path}
                self._save_catalog(cat)
            self._tables[(database, table)] = t
            return t

    def get_table(self, database: str, table: str) -> MoonlinkTable:
        with self._lock:
            cached = self._tables.get((database, table))
            if cached is not None:
                return cached
            path = self._lookup_path(database, table)
            if path is None:
                raise TableConfigError(f"unknown table {database}.{table}")
            t = MoonlinkTable.open(
                self.spark, path, data_path=self._data_path_for(database, table)
            )
            self._tables[(database, table)] = t
            return t

    def _lookup_path(self, database: str, table: str) -> str | None:
        if self._meta_store is not None:
            e = self._meta_store.get_table_metadata_entry(database, table)
            if e is None:
                return None
            return e.config["iceberg_table_config"]["table_uri"] or e.src_table_uri
        entry = self._load_catalog()["tables"].get(self._key(database, table))
        return entry["path"] if entry else None

    def drop_table(self, database: str, table: str) -> None:
        with self._lock:
            if self._meta_store is not None:
                from moonlink_spark.metadata_store import MetadataStoreError

                try:
                    path = self._lookup_path(database, table)
                except MetadataStoreError:
                    path = None  # corrupt row: still delete it below
                try:
                    self._meta_store.delete_table_metadata(database, table)
                except MetadataStoreError:
                    path = None  # not recorded: nothing to drop
                self._tables.pop((database, table), None)
                if path:
                    MoonlinkTable(
                        self.spark,
                        path,
                        data_path=self._data_path_for(database, table),
                    ).drop()
                return
            cat = self._load_catalog()
            entry = cat["tables"].pop(self._key(database, table), None)
            self._save_catalog(cat)
            self._tables.pop((database, table), None)
            if entry:
                MoonlinkTable(
                    self.spark,
                    entry["path"],
                    data_path=self._data_path_for(database, table),
                ).drop()

    def list_tables(self) -> list[str]:
        if self._meta_store is not None:
            return sorted(
                f"{e.database}.{e.table}"
                for e in self._meta_store.get_all_table_metadata_entries()
            )
        return sorted(self._load_catalog()["tables"].keys())

    def list_table_status(self) -> list[dict[str, Any]]:
        """Per-table status, one dict per table — parity ``list_tables``
        (lib.rs:324-341) returning ``TableStatus`` (table_status.rs:5-18):
        database, table, commit_lsn, flush_lsn (last Iceberg sync, None if
        never synced), cardinality (manifest row counts, no scan), and
        iceberg_warehouse_location ("" if never synced)."""
        from moonlink_spark.errors import TableConfigError
        from moonlink_spark.table.iceberg_export import read_iceberg_sync

        statuses = []
        for key in self.list_tables():
            db, table = key.split(".", 1)
            try:
                t = self.get_table(db, table)
                m = t.manifest
                sync = read_iceberg_sync(t)
                status = {
                    "database": db,
                    "table": table,
                    "commit_lsn": m.lsn,
                    "flush_lsn": sync["flush_lsn"] if sync else None,
                    "cardinality": t.cardinality(),
                    "iceberg_warehouse_location": sync["location"] if sync else "",
                }
            except (TableConfigError, FileNotFoundError, KeyError):
                # the list is point-in-time: a table mid-create (listed in
                # the catalog before its manifest lands) or mid-drop
                # (files going away under us) is skipped, not a 4xx/5xx
                # for the caller — it appears in the next poll
                continue
            statuses.append(status)
        return statuses

    # -- reads ----------------------------------------------------------------

    def scan_table(
        self,
        database: str,
        table: str,
        lsn: int | None = None,
        blocking: bool = False,
        timeout_s: float = 30.0,
    ) -> DataFrame:
        t = self.get_table(database, table)
        if lsn is not None and blocking:
            return t.scan_blocking(lsn, timeout_s)
        return t.scan(lsn=lsn)

    def sql(
        self,
        query: str,
        database: str | None = None,
        lsns: dict[str, int] | None = None,
    ) -> DataFrame:
        """Run Spark SQL over the catalog's tables, optionally pinning
        per-table read LSNs (time travel).

        Parity: the reference's read path is SQL handed to an attached
        engine that scans each moonlink table at an LSN (SURVEY §3.2;
        DataFusion ``table_provider.rs:74-172`` + REPL ``main.rs:22-26``).
        Here the attached engine IS Spark: every catalog table is
        registered as a temp view — its bare name when ``database`` is
        given (that database only), and ``<db>_<table>`` always — backed
        by the union-read scan at ``lsns.get(name)``. Registration is
        metadata-only (``scan`` is lazy), so the cost is Catalyst planning,
        not data movement; pushdown/pruning apply as with any DataFrame.

        ``lsns`` keys may be ``"table"`` or ``"db.table"``.
        """
        lsns = lsns or {}
        # the engine's ml_* primitives (tokenize/shingle/minhash/cosine/…)
        # ride along on every SQL entry point, so ad-hoc queries compose
        # with the curated operators' exact arithmetic
        from moonlink_spark.functions.sql_macros import register_sql_functions

        register_sql_functions(self.spark)
        for key in self.list_tables():
            db, table = key.split(".", 1)
            lsn = lsns.get(key, lsns.get(table))
            df = self.scan_table(db, table, lsn=lsn)
            df.createOrReplaceTempView(f"{db}_{table}")
            if database == db:
                df.createOrReplaceTempView(table)
        return self.spark.sql(query)

    # -- maintenance ------------------------------------------------------------

    def optimize_table(self, database: str, table: str, mode: str = "full") -> int:
        """mode: data | index | full (parity optimize_table,
        src/moonlink_backend/src/lib.rs:360-384; 'index' merges the
        persisted key-index runs — keyindex.merge_index — and is a no-op
        for tables created without key_index=True)."""
        t = self.get_table(database, table)
        return optimize(t, mode)

    # -- table-owned vector indexes --------------------------------------------

    def _vecindex_dir(self, t: MoonlinkTable, column: str) -> str:
        return os.path.join(t.data_path, "vecindex", column)

    @staticmethod
    def _index_key(t: MoonlinkTable) -> str:
        """The single integer identity column both persisted indexes
        derive vec_id/doc_id from. Enforced here, not just documented:
        a non-numeric key cast to bigint yields NULL for every row
        (ANSI off), silently building an index of null ids — the same
        precondition StreamingIngestor validates for its sync paths
        (streaming/pipeline.py)."""
        if t.identity.mode != "single":
            raise TableConfigError(
                "persisted indexes need a SINGLE-column identity "
                f"(vec_id/doc_id come from it); table has identity "
                f"{t.identity.mode}"
            )
        key = t.identity.columns[0]
        ktype = t.schema[key].dataType
        if not isinstance(
            ktype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            raise TableConfigError(
                "persisted indexes need an integer identity column; "
                f"{key} is {ktype.simpleString()} (a non-integer key "
                "would cast to NULL ids)"
            )
        return key

    def build_vector_index(
        self,
        database: str,
        table: str,
        column: str,
        k: int = 8,
        iters: int = 3,
        pq: dict[str, int] | None = None,
    ) -> dict[str, Any]:
        """Build (or rebuild from scratch) the persisted IVF index over an
        ``array<float>`` column of this table, stored inside the table's
        own directory — the reference's indexes are table-owned artifacts
        maintained by the engine, not external sidecars. Requires a
        single numeric identity key (it becomes ``vec_id``).

        ``pq`` (e.g. ``{"m": 8, "ksub": 256, "iters": 2}``) builds
        IVF-PQ segments (table/vecindex.py). A REBUILD of an existing PQ
        index inherits the old PQ config when ``pq`` is not given — a
        drift-triggered retrain must not silently downgrade the serving
        format to flat."""
        from moonlink_spark.table import vecindex

        from moonlink_spark.table import segments as segstore

        t = self.get_table(database, table)
        key = self._index_key(t)
        dest = self._vecindex_dir(t, column)
        # The WHOLE rebuild — scan capture, watermark capture, train,
        # publish — runs under the index write lock, so a concurrent CDC
        # update_index can't publish a segment the rebuild's meta would
        # clobber: incremental updates queue behind the lock and land on
        # the NEW centroids afterwards.
        with segstore.index_write_lock(dest, timeout_s=3600.0):
            m = t.manifest  # pin: the scan and the watermark agree
            # Scan AT the pinned version: a bare scan() re-resolves
            # store.latest(), so a CDC commit landing between the two reads
            # would put a batch newer than the stored indexed_batch_id into
            # the rebuild — its replay in _maintain_indexes would then
            # re-append rows the rebuild already contains (dup vec_ids).
            emb = t.scan(version=m.version).select(
                F.col(key).cast("bigint").alias("vec_id"),
                F.col(column).alias("embedding"),
            )
            carry: dict[str, Any] = {}
            old_wm = -1
            if t.data_fs.isdir(dest):
                try:
                    old = vecindex.read_meta(dest)
                    old_wm = int(old.get("indexed_batch_id", -1))
                    if pq is None and old.get("pq") is not None:
                        # inherit the serving format across rebuilds:
                        # retrain codebooks at the old shape rather than
                        # silently dropping PQ
                        old_pq = old["pq"]
                        pq = {
                            "m": int(old_pq["m"]),
                            "ksub": int(old_pq["ksub"]),
                            "iters": int(old_pq.get("iters", 2)),
                        }
                except FileNotFoundError:
                    pass
            # The CDC watermark survives AND advances: the rebuild scans
            # the manifest we just pinned, so every micro-batch committed
            # to the TABLE by now is inside the rebuilt index — advance
            # to the table's last applied batch id so a queued/replayed
            # update for those batches is a no-op instead of
            # double-indexing rows the rebuild already contains.
            from moonlink_spark.streaming.pipeline import LAST_BATCH_PROP

            table_wm = int(m.properties.get(LAST_BATCH_PROP, -1))
            wm = max(old_wm, table_wm)
            if wm >= 0:
                carry["indexed_batch_id"] = wm
            # the rebuild scans exactly the pinned manifest, so the
            # index state covers the table up to that manifest's LSN
            carry["as_of_lsn"] = int(m.lsn)
            # REBUILD IN PLACE, never a wipe: build_index writes the new
            # segment invisibly, atomically replaces the meta, and
            # reclaims the superseded segments after the publish (the
            # segment-store compaction order — the cleanup lives in
            # vecindex.build_index since r12 so direct module callers
            # get it too).
            meta = vecindex.build_index(
                self.spark,
                emb,
                dest,
                k=k,
                iters=iters,
                meta_update=carry,
                pq=pq,
                _locked=True,
            )
        return meta

    def update_vector_index(
        self, database: str, table: str, column: str, since_lsn: int
    ) -> dict[str, Any]:
        """Incrementally index the rows INSERTED after ``since_lsn``
        (from the change feed); updates/deletes in the range mark the
        index stale instead of patching inverted lists."""
        from moonlink_spark.table import vecindex

        t = self.get_table(database, table)
        key = self._index_key(t)
        upto = int(t.last_lsn)
        changes = t.changes(since_lsn, upto)
        dest = self._vecindex_dir(t, column)
        pin = {"as_of_lsn": upto}  # index state now covers rows <= upto
        n_other = changes.filter(F.col("_change_type") != "insert").count()
        if n_other:
            vecindex.mark_stale(dest, n_other, meta_update=pin)
        inserts = changes.filter(F.col("_change_type") == "insert")
        if inserts.limit(1).count():
            vecindex.update_index(
                self.spark,
                inserts.select(
                    F.col(key).cast("bigint").alias("vec_id"),
                    F.col(f"after.{column}").alias("embedding"),
                ),
                dest,
                meta_update=pin,
            )
        return vecindex.read_meta(dest)

    def vector_index_status(
        self,
        database: str,
        table: str,
        column: str,
        meta: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """``meta``: report THIS already-read meta instead of re-reading
        from disk — mutators return their freshly published meta, and a
        route reporting a mutation it just applied must not race a
        concurrent writer's publish."""
        from moonlink_spark.table import vecindex

        if meta is None:
            t = self.get_table(database, table)
            meta = vecindex.read_meta(self._vecindex_dir(t, column))
        return {
            "k": meta["k"],
            "generation": meta["generation"],
            "segments": len(meta.get("segments") or []),
            "trained_rows": meta["trained_rows"],
            "appended_rows": meta["appended_rows"],
            "stale_rows": meta.get("stale_rows", 0),
            "pq": (
                {"m": meta["pq"]["m"], "ksub": meta["pq"]["ksub"]}
                if meta.get("pq")
                else None
            ),
            "retrain_recommended": vecindex.retrain_recommended(meta),
        }

    def maintain_vector_index(
        self,
        database: str,
        table: str,
        column: str,
        min_segments_to_compact: int = 4,
    ) -> dict[str, Any]:
        """One maintenance tick for the table-owned IVF index — the
        reference's threshold-triggered index maintenance
        (``storage/index/index_merge_config.rs:9-21`` fires a merge when
        small index blocks accumulate, driven off the handler timers,
        ``table_handler_timer.rs``), plus the retrain trigger our drift
        signal adds:

        - ``retrain_recommended`` (stale rows or appended-vector
          distortion drift) → full rebuild from the live table, keeping
          k/iters and the CDC watermark;
        - else ≥ ``min_segments_to_compact`` small segments (the
          ``min_file_indices_to_merge`` analog) → crash-safe compaction.

        Returns the action taken, so callers (tickers, ops endpoints) can
        log it."""
        from moonlink_spark.table import vecindex

        t = self.get_table(database, table)
        dest = self._vecindex_dir(t, column)
        meta = vecindex.read_meta(dest)
        if vecindex.retrain_recommended(meta):
            rebuilt = self.build_vector_index(
                database,
                table,
                column,
                k=meta["k"],
                iters=meta.get("iters", 3),
            )
            return {"action": "retrained", "generation": rebuilt["generation"]}
        if len(meta.get("segments") or []) >= min_segments_to_compact:
            replaced = vecindex.compact_index(self.spark, dest)
            return {"action": "compacted", "replaced": replaced}
        return {"action": "none"}

    def start_vector_index_maintenance(
        self,
        database: str,
        table: str,
        column: str,
        interval_s: float = 30.0,
        min_segments_to_compact: int = 4,
    ):
        """Run :meth:`maintain_vector_index` on a periodic ticker (the
        reference's timer-driven index-merge loop at the table handler).
        Returns the started Ticker; call ``.stop()`` to shut down."""
        from moonlink_spark.table.timers import Ticker

        def tick():
            self.maintain_vector_index(
                database,
                table,
                column,
                min_segments_to_compact=min_segments_to_compact,
            )

        return Ticker(
            interval_s, tick, f"vecindex-{database}.{table}.{column}"
        ).start()

    # -- table-owned MinHash signature index (the dedup twin of the ----
    # -- vector-index surface above; same lifecycle, same watermark ----
    # -- rules, same maintenance shape) --------------------------------

    def _sigindex_dir(self, t: MoonlinkTable, column: str) -> str:
        return os.path.join(t.data_path, "sigindex", column)

    def build_signature_index(
        self, database: str, table: str, column: str
    ) -> dict[str, Any]:
        """Build (or rebuild from scratch) the persisted MinHash
        signature index over a text column of this table, stored inside
        the table's own directory — symmetric with
        :meth:`build_vector_index` (r12: before this, the stale->rebuild
        response the sigindex sync contract documents had no owner; every
        caller hand-rolled it, which is where the segment-leak bug
        lived). Requires a single numeric identity key (-> ``doc_id``).

        The whole rebuild runs under the index write lock; the CDC
        watermark survives AND advances to the table's last applied
        batch id (the rebuild scans the pinned manifest, so every batch
        committed by now is inside it); superseded segments are
        reclaimed after the atomic publish; ``stale_rows`` resets (the
        rebuild covers the live corpus by construction)."""
        from moonlink_spark.table import segments as segstore
        from moonlink_spark.table import sigindex

        t = self.get_table(database, table)
        key = self._index_key(t)
        dest = self._sigindex_dir(t, column)
        with segstore.index_write_lock(dest, timeout_s=3600.0):
            m = t.manifest  # pin: the scan and the watermark agree
            docs = t.scan(version=m.version).select(
                F.col(key).cast("bigint").alias("doc_id"),
                F.col(column).alias("text"),
            )
            carry: dict[str, Any] = {}
            old_wm = -1
            try:
                old_wm = int(
                    sigindex.read_meta(dest).get("indexed_batch_id", -1)
                )
            except FileNotFoundError:
                pass
            from moonlink_spark.streaming.pipeline import LAST_BATCH_PROP

            wm = max(old_wm, int(m.properties.get(LAST_BATCH_PROP, -1)))
            if wm >= 0:
                carry["indexed_batch_id"] = wm
            carry["as_of_lsn"] = int(m.lsn)
            return sigindex.build_index(
                docs, dest, meta_update=carry, _locked=True
            )

    def update_signature_index(
        self, database: str, table: str, column: str, since_lsn: int
    ) -> dict[str, Any]:
        """Incrementally index the documents INSERTED after
        ``since_lsn`` (from the change feed); updates/deletes in the
        range mark the index stale instead of patching signatures
        (symmetric with :meth:`update_vector_index`)."""
        from moonlink_spark.table import sigindex

        t = self.get_table(database, table)
        key = self._index_key(t)
        upto = int(t.last_lsn)
        changes = t.changes(since_lsn, upto)
        dest = self._sigindex_dir(t, column)
        pin = {"as_of_lsn": upto}
        # return the meta OUR mutators published (a disk re-read could
        # report a concurrent rebuild's state as this update's result —
        # the race signature_index_status's meta= parameter avoids)
        meta = None
        n_other = changes.filter(F.col("_change_type") != "insert").count()
        if n_other:
            meta = sigindex.mark_stale(dest, n_other, meta_update=pin)
        inserts = changes.filter(F.col("_change_type") == "insert")
        if inserts.limit(1).count():
            meta = sigindex.update_index(
                inserts.select(
                    F.col(key).cast("bigint").alias("doc_id"),
                    F.col(f"after.{column}").alias("text"),
                ),
                dest,
                meta_update=pin,
            )
        return meta if meta is not None else sigindex.read_meta(dest)

    def signature_index_status(
        self,
        database: str,
        table: str,
        column: str,
        meta: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """``meta``: report THIS already-read meta instead of re-reading
        (mutators return their freshly published meta)."""
        from moonlink_spark.table import sigindex

        if meta is None:
            t = self.get_table(database, table)
            meta = sigindex.read_meta(self._sigindex_dir(t, column))
        return {
            "generation": meta["generation"],
            "segments": len(meta.get("segments") or []),
            "n_hashes": meta["n_hashes"],
            "n_bands": meta["n_bands"],
            "stale_rows": meta.get("stale_rows", 0),
            "rebuild_recommended": sigindex.rebuild_recommended(meta),
        }

    def signature_index_candidates(
        self,
        database: str,
        table: str,
        column: str,
        limit: int = 1000,
    ) -> list[dict[str, Any]]:
        """Banded-LSH candidate pairs served from the table-owned index,
        deterministic order, bounded by ``limit`` — the lookup verb of
        this surface (the sigindex twin of :meth:`query_vector_index`).

        Retries once on FileNotFoundError: a lazy plan that resolved the
        OLD meta can race a concurrent rebuild/compaction unlinking the
        superseded segments (the documented re-resolve contract on
        sigindex.build_index) — the second resolve sees the new meta."""
        from moonlink_spark.table import sigindex

        t = self.get_table(database, table)
        dest = self._sigindex_dir(t, column)
        for attempt in (0, 1):
            try:
                return [
                    r.asDict()
                    for r in sigindex.candidate_pairs(self.spark, dest)
                    .orderBy("doc_a", "doc_b")
                    .limit(int(limit))
                    .collect()
                ]
            except Exception as e:
                if attempt == 0 and "FileNotFoundException" in str(e):
                    continue  # racing rebuild reclaimed our segments
                raise
        raise AssertionError("unreachable")

    def maintain_signature_index(
        self,
        database: str,
        table: str,
        column: str,
        min_segments_to_compact: int = 4,
    ) -> dict[str, Any]:
        """One maintenance tick for the table-owned signature index —
        the dedup twin of :meth:`maintain_vector_index`:
        ``rebuild_recommended`` (stale documents) -> full rebuild from
        the live table; else enough small segments -> crash-safe
        compaction."""
        from moonlink_spark.table import sigindex

        t = self.get_table(database, table)
        dest = self._sigindex_dir(t, column)
        meta = sigindex.read_meta(dest)
        if sigindex.rebuild_recommended(meta):
            rebuilt = self.build_signature_index(database, table, column)
            return {"action": "rebuilt", "generation": rebuilt["generation"]}
        if len(meta.get("segments") or []) >= min_segments_to_compact:
            replaced = sigindex.compact_index(self.spark, dest)
            return {"action": "compacted", "replaced": replaced}
        return {"action": "none"}

    def start_signature_index_maintenance(
        self,
        database: str,
        table: str,
        column: str,
        interval_s: float = 30.0,
        min_segments_to_compact: int = 4,
    ):
        """Run :meth:`maintain_signature_index` on a periodic ticker.
        Returns the started Ticker; call ``.stop()`` to shut down."""
        from moonlink_spark.table.timers import Ticker

        def tick():
            self.maintain_signature_index(
                database,
                table,
                column,
                min_segments_to_compact=min_segments_to_compact,
            )

        return Ticker(
            interval_s, tick, f"sigindex-{database}.{table}.{column}"
        ).start()

    def start_kafka_ingest(
        self,
        database: str,
        table: str,
        host: str,
        port: int,
        topic: str,
        value_schema: dict | str,
        partition: int = 0,
        group: str | None = None,
        interval_s: float = 1.0,
        lsn_base: int = 1_000_000,
        sasl_plain: tuple[str, str] | None = None,
    ):
        """Own a Kafka feed for a table: a ticker drains the
        topic-partition through a committed wire consumer group into the
        table (parity: the reference's per-table source-connection
        ownership, ``replication_manager.rs`` /
        ``replication_connection.rs``, applied to its Kafka ingest
        surface, ``rest_api.rs:418-419``). Replays are exactly-once via
        the drain loop's per-message LSN floor
        (``sources/queue.py drain_once``); the consumer reconnects
        across broker restarts. Returns the started Ticker — call
        ``.stop()`` to disconnect."""
        from moonlink_spark.sources.kafka_wire import KafkaWireConsumer
        from moonlink_spark.sources.queue import AvroQueueIngestor
        from moonlink_spark.table.timers import Ticker

        t = self.get_table(database, table)
        consumer = KafkaWireConsumer(
            host,
            port,
            topic,
            partition,
            group=group or f"moonlink-{database}.{table}",
            sasl_plain=sasl_plain,
        )
        ingestor = AvroQueueIngestor(t, consumer, value_schema, lsn_base=lsn_base)

        def tick():
            ingestor.drain_once()

        return Ticker(
            interval_s, tick, f"kafka-{database}.{table}.{topic}"
        ).start()

    def query_vector_index(
        self,
        database: str,
        table: str,
        column: str,
        query_ids: list[int],
        topk: int = 3,
        nprobe: int = 1,
        rerank: int | None = None,
    ) -> DataFrame:
        """ANN top-k over the table's persisted index: probes resolve on
        the meta's centroid matrix (driver math), candidates come from the
        inverted-list segments, embeddings re-attach from the table scan.
        On a PQ index ``rerank`` sizes the ADC shortlist (default
        4*topk); flat indexes ignore it."""
        from moonlink_spark.table import vecindex

        t = self.get_table(database, table)
        key = self._index_key(t)
        emb = t.scan().select(
            F.col(key).cast("bigint").alias("vec_id"),
            F.col(column).alias("embedding"),
        )
        return vecindex.query_topk(
            self.spark,
            emb,
            self._vecindex_dir(t, column),
            query_ids=query_ids,
            topk=topk,
            nprobe=nprobe,
            rerank=rerank,
        )

    def export_table(
        self, database: str, table: str, dest: str, lsn: int | None = None
    ) -> dict[str, Any]:
        """Materialize the live view as plain parquet + sidecar for
        external engines (table/export.py)."""
        from moonlink_spark.table.export import export_snapshot

        return export_snapshot(self.get_table(database, table), dest, lsn=lsn)

    def export_table_delta(
        self, database: str, table: str, dest: str, lsn: int | None = None
    ) -> dict[str, Any]:
        """Publish the snapshot at ``lsn`` as a new version of a Delta-format
        table at ``dest`` — open-format interop with version history, no
        Delta jars needed (table/delta_export.py)."""
        from moonlink_spark.table.delta_export import export_delta

        return export_delta(self.get_table(database, table), dest, lsn=lsn)

    def export_table_iceberg(
        self, database: str, table: str, dest: str, lsn: int | None = None
    ) -> dict[str, Any]:
        """Publish the snapshot at ``lsn`` as a new Iceberg v2 snapshot at
        ``dest`` — the reference's flagship persistence format
        (iceberg_table_syncer.rs), emitted jar-free (table/iceberg_export.py)."""
        from moonlink_spark.table.iceberg_export import export_iceberg

        return export_iceberg(self.get_table(database, table), dest, lsn=lsn)

    def create_materialized_view(
        self,
        database: str,
        table: str,
        dest: str,
        group_by: list[str],
        sums: list[str] | None = None,
        mins: list[str] | None = None,
        maxs: list[str] | None = None,
    ):
        """Create an incrementally-maintained GROUP BY view over a table;
        ``.refresh()`` applies only the LSN-to-LSN delta (table/matview.py).
        min/max maintenance degrades to a flagged per-group recompute for
        groups that lose rows — see the matview module docstring for the
        algebra's boundary."""
        from moonlink_spark.table.matview import MaterializedView

        return MaterializedView.create(
            self.get_table(database, table), dest, group_by, sums, mins, maxs
        )

    def create_snapshot(self, database: str, table: str, lsn: int | None = None) -> int:
        """Force a commit of any pending ops (parity ForceSnapshot)."""
        t = self.get_table(database, table)
        if t.has_pending():
            return t.commit(lsn=lsn, operation="snapshot")
        return t.manifest.version

    # -- thin API-parity delegators (src/moonlink_backend/src/lib.rs verbs) --

    def get_base_path(self) -> str:
        """Parity ``get_base_path`` (lib.rs:284)."""
        return self.warehouse

    def get_table_schema(self, database: str, table: str) -> T.StructType:
        """Parity ``get_table_schema`` (lib.rs:310); the RPC server serializes
        this to the wire format, callers here get the StructType."""
        return self.get_table(database, table).schema

    def set_avro_schema(
        self, database: str, table: str, avro_schema: dict | str
    ) -> int:
        """Register the Avro value schema for queue/Kafka-path ingestion into
        an existing table (parity ``set_avro_schema``, lib.rs:249). Persisted
        as a table property so it survives restart; returns the new version."""
        import json as _json

        schema = (
            _json.loads(avro_schema) if isinstance(avro_schema, str) else avro_schema
        )
        t = self.get_table(database, table)
        return t.commit(
            operation="set-avro-schema", properties_update={"avro_schema": schema}
        )

    def wait_for_wal_flush(
        self, database: str, table: str, lsn: int, timeout_s: float = 30.0
    ) -> None:
        """Block until durable state covers ``lsn`` (parity
        ``wait_for_wal_flush``, lib.rs:407-429). Here a committed manifest IS
        the durable WAL-flushed state, so this waits on the manifest LSN."""
        self.get_table(database, table).store.wait_for_lsn(lsn, timeout_s)
