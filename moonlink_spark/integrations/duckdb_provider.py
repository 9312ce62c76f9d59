"""DuckDB read integration: a moonlink table as a DuckDB view at an LSN.

Parity with ``src/moonlink_datafusion`` — the reference's embedded external
read engine. Its ``MooncakeTableProvider`` opens an RPC connection, calls
``get_table_schema`` then ``scan_table_begin(db, table, lsn)``, builds a
parquet scan whose per-file row selections skip deletion-vector rows, and
fires ``scan_table_end`` when the scan drops
(``src/moonlink_datafusion/src/table_provider.rs:41-57,74-172,244-256``).

This module does the same with DuckDB as the engine:

- the scan-result wire blob (``rpc.TableMetadataBlob``) lists data files and
  file-ordered ``(file_number, row_number)`` position deletes;
- :func:`live_rows_relation` is the one DV relation, for the RPC blob and
  for exported Iceberg tables alike: ``read_parquet([...], filename=true,
  file_row_number=true)`` anti-joined against ``{file: deleted
  positions}`` — DV application expressed in the engine's own algebra
  rather than a row-run decoder (``table_provider.rs:106-167``'s
  RowSelection);
- an empty table registers an empty Arrow relation built from the wire
  schema, so the view is always well-typed.

No Spark required on the reading side: this is the "attach an external
engine to a moonlink backend" path (README.md:88-91 names DuckDB/Spark/
Postgres as read engines).
"""

from __future__ import annotations

import json
import os
import re
from typing import Any, Callable

from moonlink_spark.rpc import MoonlinkRpcClient, TableMetadataBlob

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _quote_path(p: str) -> str:
    return "'" + p.replace("'", "''") + "'"


def live_rows_relation(
    con: Any, files: list[str], dead: dict[str, list[int]], tag: str
) -> str:
    """A DuckDB SQL relation producing the live rows of the parquet
    ``files``: ``dead`` maps a file to its deleted row positions
    (entries for other files are ignored). The positions of ``files``
    are registered as an Arrow table ``__mls_dv_{tag}`` on the
    connection; with none, the relation is a plain parquet scan."""
    from moonlink_spark.table.table import DV_ARROW_SCHEMA

    # union_by_name: schema evolution writes files with differing columns;
    # added columns must surface as NULL for pre-alter files (matching the
    # Spark scan), not silently vanish behind the first file's schema
    paths = ", ".join(_quote_path(p) for p in files)
    dead = {f: dead[f] for f in files if dead.get(f)}
    if not dead:
        return f"SELECT * FROM read_parquet([{paths}], union_by_name=true)"
    import pyarrow as pa

    dv = pa.table(
        {
            "file_path": [f for f, pos in dead.items() for _ in pos],
            "row_index": [p for pos in dead.values() for p in pos],
        },
        schema=DV_ARROW_SCHEMA,
    )
    dv_name = f"__mls_dv_{tag}"
    con.register(dv_name, dv)
    return (
        "SELECT * EXCLUDE (filename, file_row_number) "
        f"FROM read_parquet([{paths}], filename=true, file_row_number=true, "
        "union_by_name=true) t "
        f"WHERE NOT EXISTS (SELECT 1 FROM {dv_name} d "
        "WHERE d.file_path = t.filename "
        "AND d.row_index = t.file_row_number)"
    )


def attach_moonlink_table(
    con: Any,
    host: str,
    port: int,
    database: str,
    table: str,
    lsn: int = 0,
    view_name: str | None = None,
    materialize: bool = False,
    hold_pin: bool = False,
) -> str | tuple[str, Callable[[], None]]:
    """Register ``database.table`` at ``lsn`` (0 = latest) as a DuckDB view
    and return the view name. The RPC conversation matches the reference
    provider: schema fetch, scan begin, build scan, scan end.

    Lifetime (same trade-off surface as the reference provider, which
    holds its scan pin for the provider's lifetime):

    - the default view references the snapshot's parquet files by path; a
      later ``optimize_table``/vacuum that rewrites those files invalidates
      the view — re-attach after maintenance, pass ``materialize=True``
      to copy the snapshot's rows into a DuckDB TABLE, or pass
      ``hold_pin=True`` to keep the scan pin open: vacuum then preserves
      the snapshot's files until the returned ``detach()`` is called
      (``(view, detach)`` is returned in that mode);
    - an empty snapshot is typed from the table's CURRENT schema (the RPC
      ``get_table_schema`` verb has no LSN parameter, mirroring
      ``lib.rs:310``), so a time-travel attach of an empty pre-alter
      snapshot shows post-alter columns.
    """
    view = view_name or f"{database}_{table}"
    if not _IDENT.match(view):
        raise ValueError(f"invalid view name {view!r}")
    client = MoonlinkRpcClient(host, port)
    try:
        blob = client.scan_table_begin(database, table, lsn)
        if blob.data_files:
            dead: dict[str, list[int]] = {}
            for i, row in blob.position_deletes:
                dead.setdefault(blob.data_files[i], []).append(row)
            rel = live_rows_relation(con, blob.data_files, dead, view)
        else:
            # empty snapshot: a typed empty relation from the wire schema
            schema = client.get_table_schema(database, table)
            con.register(f"__mls_empty_{view}", schema.empty_table())
            rel = f"SELECT * FROM __mls_empty_{view}"
        kind = "TABLE" if materialize else "VIEW"
        con.execute(f"CREATE OR REPLACE {kind} {view} AS {rel}")
    except BaseException:
        try:
            client.scan_table_end(database, table)
        finally:
            client.close()
        raise
    if hold_pin:
        # the pin stays until detach(): vacuum keeps this snapshot's
        # files, so the view survives optimize/vacuum cycles (the
        # reference provider's Drop-scoped pin, surfaced as a callable)
        done = {"released": False}

        def detach() -> None:
            if done["released"]:
                return
            done["released"] = True
            try:
                client.scan_table_end(database, table)
            finally:
                client.close()

        return view, detach
    # parity scan_table_end (provider Drop, table_provider.rs:244-256);
    # with materialize=True the rows were copied while the pin was held
    try:
        client.scan_table_end(database, table)
    finally:
        client.close()
    return view


def attach_iceberg_point_lookup(
    con: Any,
    dest: str,
    key_hashes: list[int],
    view_name: str,
) -> dict[str, Any]:
    """Register a DuckDB view over an EXPORTED Iceberg table that serves a
    point lookup through the table's ``mooncake-hash-index-v1`` blobs:
    only the index-pruned data files are opened (never the full file
    list), and the snapshot's Puffin deletion vectors are applied. The
    caller still filters the view by the actual key values — hash hits
    are a superset on collision.

    This is the exported-table analog of the reference's index-served
    point lookup (``persisted_bucket_hash_map.rs search_values`` over
    FileIndexBlobs loaded from Iceberg), expressed in DuckDB's algebra
    like the rest of this provider. Returns
    ``{"view": ..., "pruned_files": n, "total_files": n}`` so callers can
    assert the pruning actually happened."""
    from moonlink_spark.table.iceberg_export import (
        iceberg_index_lookup,
        read_iceberg_deletion_vectors,
        read_iceberg_live_files,
    )

    if not _IDENT.match(view_name):
        raise ValueError(f"invalid view name {view_name!r}")
    lookup = iceberg_index_lookup(dest, key_hashes)
    all_files = read_iceberg_live_files(dest)
    if not lookup["files"]:
        if all_files:
            # no hash hit: a well-typed empty view bound from ONE live
            # file's footer (binding the whole list would open every
            # footer just to type an always-empty relation)
            rel = (
                f"SELECT * FROM read_parquet([{_quote_path(all_files[0])}]) "
                "WHERE 1=0"
            )
        else:
            # fully-deleted export: type the empty view from the Iceberg
            # schema in the metadata (no parquet exists to bind against)
            meta_dir = os.path.join(dest, "metadata")
            with open(os.path.join(meta_dir, "version-hint.text")) as fh:
                v = int(fh.read().strip())
            with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
                meta = json.load(fh)
            schema = next(
                s for s in meta["schemas"]
                if s["schema-id"] == meta["current-schema-id"]
            )
            duck_types = {
                "long": "BIGINT", "int": "INTEGER", "string": "VARCHAR",
                "double": "DOUBLE", "float": "FLOAT", "boolean": "BOOLEAN",
                "date": "DATE", "timestamp": "TIMESTAMP", "binary": "BLOB",
            }
            cols = ", ".join(
                f"CAST(NULL AS {duck_types.get(f['type'], 'VARCHAR')}) "
                f'AS "{f["name"]}"'
                for f in schema["fields"]
                if isinstance(f["type"], str)
            ) or "CAST(NULL AS VARCHAR) AS __empty"
            rel = f"SELECT {cols} WHERE 1=0"
        con.execute(f"CREATE OR REPLACE VIEW {view_name} AS {rel}")
        return {"view": view_name, "pruned_files": 0, "total_files": len(all_files)}
    rel = live_rows_relation(
        con,
        lookup["files"],
        read_iceberg_deletion_vectors(dest),
        f"ix_{view_name}",
    )
    con.execute(f"CREATE OR REPLACE VIEW {view_name} AS {rel}")
    return {
        "view": view_name,
        "pruned_files": len(lookup["files"]),
        "total_files": len(all_files),
    }


def attach_iceberg_ann_topk(
    con: Any,
    dest: str,
    column: str,
    query_ids: list[int],
    topk: int = 3,
    nprobe: int = 2,
    view_name: str = "ann_topk",
    key_col: str = "vec_id",
) -> dict[str, Any]:
    """Register a DuckDB view serving an ANN top-k over an EXPORTED
    Iceberg table through its ``mooncake-ivf-index-v1`` blobs — no
    native warehouse, no Spark: the centroid matrix comes from the blob,
    probes resolve relationally against it, candidates come from the
    copied assignment blocks (only the probed clusters are read), and
    exact cosine runs on the exported data files with the snapshot's
    deletion vectors applied (a deleted vector can never be returned as
    a neighbor).

    This extends the reference's FileIndexBlob consumption pattern
    (``iceberg_table_syncer.rs:118`` persists, the readers load) to the
    similarity index. The computation is expression-for-expression the
    engine's own ``vecindex.query_topk`` (quantize at 1e6, integer d2
    probe ranking, ``list_cosine_similarity`` verify, self excluded), so
    results match the native path bit for bit."""
    from moonlink_spark.table.iceberg_export import (
        read_iceberg_deletion_vectors,
        read_iceberg_live_files,
        read_iceberg_vector_index,
    )

    if not _IDENT.match(view_name):
        raise ValueError(f"invalid view name {view_name!r}")
    blobs = read_iceberg_vector_index(dest, column)
    if not blobs:
        raise FileNotFoundError(
            f"no mooncake-ivf-index-v1 blob for column {column!r} in {dest}"
        )
    blob = blobs[0]
    dim = len(blob["centroids"][0])
    cent_rows = ", ".join(
        f"({cid}, {list(map(int, cent))})"
        for cid, cent in enumerate(blob["centroids"])
    )
    blocks = ", ".join(_quote_path(p) for p in blob["index_block_files"])
    all_files = read_iceberg_live_files(dest)
    live = live_rows_relation(
        con, all_files, read_iceberg_deletion_vectors(dest), f"ann_{view_name}"
    )
    ids = ", ".join(str(int(i)) for i in query_ids)
    sql = f"""
CREATE OR REPLACE VIEW {view_name} AS
WITH live AS ({live}),
cents(cluster_id, cent) AS (VALUES {cent_rows}),
q AS (
  SELECT {key_col} AS query_id,
         list_transform({column}, x ->
           CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v,
         {column} AS qe
  FROM live WHERE {key_col} IN ({ids})
),
probes AS (
  SELECT query_id, cluster_id AS probe_cluster
  FROM (
    SELECT q.query_id, c.cluster_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             CAST(list_sum(list_transform(range(1, {dim} + 1),
               j -> (q.v[CAST(j AS INTEGER)] - c.cent[CAST(j AS INTEGER)])
                  * (q.v[CAST(j AS INTEGER)] - c.cent[CAST(j AS INTEGER)])))
               AS BIGINT), c.cluster_id) AS rn
    FROM q CROSS JOIN cents c
  ) t WHERE rn <= {int(nprobe)}
),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probes p
  JOIN read_parquet([{blocks}]) a
    ON a.cluster_id = p.probe_cluster AND a.vec_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
                                CAST(n.{column} AS DOUBLE[])) AS cos
  FROM cand c
  JOIN q ON q.query_id = c.query_id
  JOIN live n ON n.{key_col} = c.neighbor_id
)
SELECT query_id, neighbor_id, CAST(round(cos, 6) AS DOUBLE) AS cosine,
       CAST(rn AS BIGINT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, neighbor_id) AS rn FROM scored) t
WHERE rn <= {int(topk)}
"""
    con.execute(sql)
    return {
        "view": view_name,
        "clusters": len(blob["centroids"]),
        "blocks": len(blob["index_block_files"]),
        "total_files": len(all_files),
    }


def attach_iceberg_lsh_pairs(
    con: Any,
    dest: str,
    column: str,
    view_name: str = "lsh_pairs",
    key_col: str = "doc_id",
) -> dict[str, Any]:
    """Register a DuckDB view of the banded-LSH near-dup CANDIDATE PAIRS
    of an exported Iceberg table, served from its
    ``mooncake-minhash-index-v1`` blobs: signatures come from the copied
    blocks (no text read, no md5 computed — the persisted-index
    contract, table/sigindex.py), banding follows the blob's config, and
    both sides of every pair join to the DV-masked live rows so a
    deleted document can never appear in a pair."""
    from moonlink_spark.operators.dedup import _MINHASH_P
    from moonlink_spark.table.iceberg_export import (
        read_iceberg_deletion_vectors,
        read_iceberg_live_files,
        read_iceberg_signature_index,
    )

    if not _IDENT.match(view_name):
        raise ValueError(f"invalid view name {view_name!r}")
    blobs = read_iceberg_signature_index(dest, column)
    if not blobs:
        raise FileNotFoundError(
            f"no mooncake-minhash-index-v1 blob for column {column!r} in {dest}"
        )
    blob = blobs[0]
    n_bands = int(blob["n_bands"])
    blocks = ", ".join(_quote_path(p) for p in blob["index_block_files"])
    all_files = read_iceberg_live_files(dest)
    live = live_rows_relation(
        con, all_files, read_iceberg_deletion_vectors(dest), f"lsh_{view_name}"
    )
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"h{2 * b} * {_MINHASH_P} + h{2 * b + 1} AS band_val FROM sigs"
        for b in range(n_bands)
    )
    sql = f"""
CREATE OR REPLACE VIEW {view_name} AS
WITH live AS ({live}),
sigs AS (
  SELECT * FROM read_parquet([{blocks}])
  WHERE doc_id IN (SELECT {key_col} FROM live)
),
bands AS ({bands_union})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
 AND a.doc_id < b.doc_id
"""
    con.execute(sql)
    return {
        "view": view_name,
        "bands": n_bands,
        "blocks": len(blob["index_block_files"]),
        "total_files": len(all_files),
    }
