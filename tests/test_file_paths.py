"""Data-file paths that Spark percent-encodes.

Spark reports ``_metadata.file_path`` as a percent-encoded URI
(``/a b%c/f.parquet`` reads back as ``file:/a%20b%25c/f.parquet``), while
manifests, DV files and key-index rows store plain manifest paths. Every
table here lives under directories whose names hold a space, ``%`` (next
to hex digits, so a double decode would also show), ``#`` and a
non-ASCII letter: each delete, lookup, export and time-travel read must
still find its rows.
"""

import os
import shutil
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from moonlink_spark.errors import IdentityError
from moonlink_spark.table.identity import IdentityProp
from moonlink_spark.table.table import MoonlinkTable

ODD = "sp ace %41x #é"
SCHEMA = [
    {"name": "id", "data_type": "int64", "nullable": False},
    {"name": "v", "data_type": "string"},
]


def ids(df):
    return sorted(r.id for r in df.select("id").collect())


def live_ids(files, dead):
    """Ids of ``files`` minus the ``dead`` positions, read with pyarrow:
    an independent read-back of an export."""
    out = []
    for f in files:
        gone = set(dead.get(f, ()))
        col = pq.read_table(f, columns=["id"]).column("id").to_pylist()
        out += [v for i, v in enumerate(col) if i not in gone]
    return sorted(out)


def build_table(spark, root, key_index):
    t = MoonlinkTable.create(
        spark,
        str(root / ODD / "t"),
        SCHEMA,
        IdentityProp.single("id"),
        key_index=key_index,
    )
    for c in range(3):
        t.append_rows([{"id": i, "v": f"v{i}"} for i in range(c * 100, c * 100 + 100)])
        t.commit(lsn=c + 1)
    return t


@pytest.mark.parametrize("key_index", [True, False], ids=["indexed", "plain"])
def test_deletes_lookups_and_exports_under_encoded_paths(spark, tmp_path, key_index):
    from moonlink_spark.rpc import MoonlinkRpcServer, TableMetadataBlob
    from moonlink_spark.table.delta_export import (
        export_delta,
        read_delta_deletion_vectors,
        read_delta_live_files,
    )
    from moonlink_spark.table.iceberg_export import (
        export_iceberg,
        read_iceberg_deletion_vectors,
        read_iceberg_live_files,
    )

    t = build_table(spark, tmp_path, key_index)
    want = set(range(300))

    t.delete_rows([{"id": 5}, {"id": 250}])
    t.commit(lsn=4)
    want -= {5, 250}
    assert ids(t.scan()) == sorted(want)

    t.delete_keys_df(spark.createDataFrame([(7,), (8,)], "id long"))
    t.commit(lsn=5)
    want -= {7, 8}
    t.delete_where("id >= 290")
    t.commit(lsn=6)
    want -= set(range(290, 300))
    assert ids(t.scan()) == sorted(want)

    # strict deletes see the live rows too
    t.delete_rows([{"id": 9}], if_exists=False)
    t.commit(lsn=7)
    want -= {9}

    # time travel applies exactly the DVs of each version
    assert t.scan(lsn=3).count() == 300
    assert ids(t.scan(lsn=4)) == sorted(set(range(300)) - {5, 250})
    assert ids(t.scan()) == sorted(want)

    # point lookups: the driver leg (below 512 keys) and the Spark leg
    probe = spark.createDataFrame([(7,), (5,), (6,), (150,)], "id long")
    assert ids(t.scan_keys(probe)) == [6, 150]
    wide = spark.createDataFrame([(k,) for k in range(512)], "id long")
    assert ids(t.scan_keys(wide)) == sorted(want)

    # an external file loaded in place, in a second encoded directory
    ext_dir = tmp_path / "ext %20dir #ß"
    ext_dir.mkdir()
    ext = str(ext_dir / "x y.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array(range(1000, 1010), pa.int64()),
                "v": [f"e{i}" for i in range(10)],
            }
        ),
        ext,
    )
    t.load_files([ext])
    t.commit(lsn=8)
    assert any(f.path == ext for f in t.manifest.data_files)
    t.delete_rows([{"id": 1003}])
    t.commit(lsn=9)
    want |= set(range(1000, 1010)) - {1003}
    assert ids(t.scan()) == sorted(want)
    assert ids(t.scan_keys(spark.createDataFrame([(1003,), (1004,)], "id long"))) == [1004]

    # Iceberg export: one DV per data file that lost a row, and the
    # masked export reads back the table
    dead_files = set()
    for f in t.manifest.delete_files:
        dv = pq.read_table(t._resolve(f.path), columns=["file_path"])
        dead_files.update(dv.column("file_path").to_pylist())
    ice = str(tmp_path / ODD / "ice")
    summary = export_iceberg(t, ice)
    assert summary["deletion_vectors"] == len(dead_files)
    ice_files = read_iceberg_live_files(ice)
    ice_dvs = read_iceberg_deletion_vectors(ice)
    assert live_ids(ice_files, ice_dvs) == sorted(want)

    # the exported snapshot's DVs masked through Spark
    from moonlink_spark.operators.ingest_parity import _mask_dv_rows

    masked = _mask_dv_rows(spark.read.parquet(*ice_files), ice_files, ice_dvs)
    assert ids(masked) == sorted(want)

    delta = str(tmp_path / ODD / "delta")
    export_delta(t, delta)
    assert live_ids(
        read_delta_live_files(delta), read_delta_deletion_vectors(delta)
    ) == sorted(want)

    # RPC scan blob: positions key the blob's own data file list
    srv = MoonlinkRpcServer(types.SimpleNamespace(get_table=lambda db, name: t))
    try:
        raw, version = srv._scan_blob("db", "t", 0)
        t.unpin_version(version)
    finally:
        srv.server.server_close()
    blob = TableMetadataBlob.decode(raw)
    dead = {}
    for i, pos in blob.position_deletes:
        dead.setdefault(blob.data_files[i], []).append(pos)
    assert len(blob.position_deletes) == t.manifest.deleted_rows
    assert live_ids(blob.data_files, dead) == sorted(want)

    # DuckDB's DV relation over the RPC blob
    import duckdb

    from moonlink_spark.integrations.duckdb_provider import live_rows_relation

    con = duckdb.connect()
    rel = live_rows_relation(con, blob.data_files, dead, "t")
    rows = con.execute(f"SELECT id FROM ({rel}) ORDER BY id").fetchall()
    assert [r[0] for r in rows] == sorted(want)

    # the server-less data source applies the same DVs
    from moonlink_spark.integrations.spark_datasource import register_moonlink_source

    register_moonlink_source(spark)
    df = spark.read.format("moonlink").option("path", t.path).load()
    assert ids(df) == sorted(want)

    # the change feed's before-images are the deleted rows, in order
    from pyspark.sql.pandas.types import to_arrow_schema

    from moonlink_spark.integrations.spark_datasource import _cdc_events

    events = list(_cdc_events(t.path, t.data_path, 3, 9, to_arrow_schema(t.schema)))
    deleted = [(lsn, i, v) for kind, lsn, i, v in events if kind == "delete"]
    assert sorted(deleted) == sorted(
        [(4, 5, "v5"), (4, 250, "v250"), (5, 7, "v7"), (5, 8, "v8")]
        + [(6, i, f"v{i}") for i in range(290, 300)]
        + [(7, 9, "v9"), (9, 1003, "e3")]
    )
    assert [i for kind, _, i, _ in events if kind == "insert"] == list(range(1000, 1010))

    # a copy of the table directory keeps applying its old DVs
    moved = tmp_path / "moved é%25"
    shutil.copytree(t.path, str(moved))
    t2 = MoonlinkTable.open(spark, str(moved))
    assert ids(t2.scan()) == sorted(want)
    assert ids(t2.scan(lsn=4)) == sorted(set(range(300)) - {5, 250})
    assert ids(t2.scan_keys(probe)) == [6, 150]


def test_full_row_deletes_under_encoded_paths(spark, tmp_path):
    t = MoonlinkTable.create(
        spark, str(tmp_path / ODD / "fr"), SCHEMA, IdentityProp.full_row()
    )
    dup = {"id": 1, "v": "a"}
    t.append_rows([dup, dup, dup, {"id": 2, "v": "b"}])
    t.commit(lsn=1)
    t.append_rows([dup])
    t.commit(lsn=2)
    t.delete_rows([dup])
    t.commit(lsn=3)
    assert t.scan().filter("id = 1").count() == 3
    # the first matching row by (manifest path, position) goes: the
    # earliest position of one file
    (dv,) = t.manifest.delete_files
    (fp, ri), = [
        tuple(r.values())
        for r in pq.read_table(t._resolve(dv.path)).to_pylist()
    ]
    assert ri == 0 and fp in {f.path for f in t.manifest.data_files}
    t.delete_rows_df(spark.createDataFrame([(1, "a"), (1, "a")], "id long, v string"))
    t.commit(lsn=4)
    assert t.scan().filter("id = 1").count() == 1
    assert t.scan(lsn=2).filter("id = 1").count() == 4
    t.delete_rows([dup, dup], if_exists=False)
    with pytest.raises(IdentityError):
        t.commit(lsn=5)


def test_every_spark_file_path_is_a_key_of_file_uris(spark, tmp_path):
    """The spelling contract: the distinct ``_metadata.file_path`` values
    of a read are exactly the URIs the path helper maps to manifest
    paths. A Spark version that spells paths differently fails here
    instead of bringing deleted rows back."""
    from moonlink_spark.table.table import file_uris

    t = build_table(spark, tmp_path, key_index=False)
    paths = {t._resolve(f.path): f.path for f in t.manifest.data_files}
    df = spark.read.schema(t.schema).parquet(*paths)
    uris = file_uris(df, paths)
    seen = {r[0] for r in df.select("_metadata.file_path").distinct().collect()}
    assert seen == set(uris)
    assert sorted(uris.values()) == sorted(paths.values())
    assert all(not os.path.isabs(fp) for fp in uris.values())


@pytest.mark.parametrize("n", [0, 1, 5, 300])
def test_path_lookup_matches_the_mapping(spark, n):
    """``path_lookup`` returns each key's value and NULL for a key it
    does not hold, at every map size."""
    from pyspark.sql import functions as F

    from moonlink_spark.table.table import path_lookup

    mapping = {f"file:/{ODD}/{i} %25.parquet": f"data/{i}.parquet" for i in range(n)}
    keys = [*mapping, "file:/absent.parquet"]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = dict(df.select("k", path_lookup(mapping, F.col("k"))).collect())
    assert got == {k: mapping.get(k) for k in keys}
