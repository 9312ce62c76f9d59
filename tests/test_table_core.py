"""Core MoonlinkTable semantics: identity modes, LSN reads, DV deletes.

Mirrors the reference's table-state test strategy
(src/moonlink/src/storage/mooncake_table/tests.rs): build table, apply event
sequence, assert snapshot state.
"""

import pytest

from moonlink_spark.errors import IdentityError, LsnError, TableConfigError
from moonlink_spark.table.identity import IdentityProp
from moonlink_spark.table.maintenance import (
    CompactionConfig,
    optimize,
    should_compact,
    vacuum,
)
from moonlink_spark.table.table import MoonlinkTable

USERS_SCHEMA = [
    {"name": "id", "data_type": "int32", "nullable": False},
    {"name": "name", "data_type": "string", "nullable": False},
    {"name": "email", "data_type": "string"},
    {"name": "age", "data_type": "int32"},
]


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def make_users(spark, tmp_path, identity=None, **kw):
    return MoonlinkTable.create(
        spark,
        str(tmp_path / "users"),
        USERS_SCHEMA,
        identity or IdentityProp.single("id"),
        **kw,
    )


def test_create_open_roundtrip(spark, tmp_path):
    t = make_users(spark, tmp_path)
    t2 = MoonlinkTable.open(spark, t.path)
    assert t2.schema.fieldNames() == ["id", "name", "email", "age"]
    assert t2.identity == IdentityProp.single("id")
    assert t2.cardinality() == 0
    assert t2.scan().count() == 0


def test_append_commit_scan(spark, tmp_path):
    t = make_users(spark, tmp_path)
    t.append_rows(
        [
            {"id": 1, "name": "a", "email": None, "age": 30},
            {"id": 2, "name": "b", "email": "b@x.io", "age": 25},
        ]
    )
    assert t.scan().count() == 0  # not visible before commit
    v = t.commit(lsn=10)
    assert v == 1
    assert t.cardinality() == 2
    assert rows_set(t.scan()) == {
        (1, "a", None, 30),
        (2, "b", "b@x.io", 25),
    }


def test_delete_by_key_and_upsert(spark, tmp_path):
    t = make_users(spark, tmp_path)
    t.append_rows(
        [{"id": i, "name": f"u{i}", "email": None, "age": 20 + i} for i in range(5)]
    )
    t.commit(lsn=1)
    # upsert: replace id=2, insert id=9
    t.upsert_rows(
        [
            {"id": 2, "name": "u2x", "email": "x", "age": 99},
            {"id": 9, "name": "u9", "email": None, "age": 9},
        ]
    )
    t.commit(lsn=2)
    got = {r["id"]: (r["name"], r["age"]) for r in t.scan().collect()}
    assert got[2] == ("u2x", 99)
    assert got[9] == ("u9", 9)
    assert len(got) == 6
    # delete
    t.delete_rows([{"id": 0}, {"id": 4}])
    t.commit(lsn=3)
    assert sorted(r["id"] for r in t.scan().collect()) == [1, 2, 3, 9]
    # strict delete on a missing key errors
    t.delete_rows([{"id": 12345}], if_exists=False)
    with pytest.raises(IdentityError):
        t.commit(lsn=4)
    t._pending.clear()


def test_read_at_lsn(spark, tmp_path):
    t = make_users(spark, tmp_path)
    t.append_rows([{"id": 1, "name": "a", "email": None, "age": 1}])
    t.commit(lsn=100)
    t.append_rows([{"id": 2, "name": "b", "email": None, "age": 2}])
    t.commit(lsn=200)
    t.delete_rows([{"id": 1}])
    t.commit(lsn=300)
    # consistency rule: read at X sees commits <= X (mooncake_table.rs:440)
    assert t.scan(lsn=99).count() == 0
    assert t.scan(lsn=100).count() == 1
    assert t.scan(lsn=250).count() == 2
    assert t.scan(lsn=300).count() == 1
    assert t.scan(lsn=10**9).count() == 1
    with pytest.raises(LsnError):
        t.scan(lsn=-1)
    # non-monotonic commit rejected
    t.append_rows([{"id": 3, "name": "c", "email": None, "age": 3}])
    with pytest.raises(LsnError):
        t.commit(lsn=300)
    t._pending.clear()


def test_append_only_rejects_deletes(spark, tmp_path):
    t = make_users(spark, tmp_path, identity=IdentityProp.none())
    t.append_rows([{"id": 1, "name": "a", "email": None, "age": 1}])
    t.commit(lsn=1)
    with pytest.raises(IdentityError):
        t.delete_rows([{"id": 1}])
    with pytest.raises(IdentityError):
        t.upsert_rows([{"id": 1, "name": "x", "email": None, "age": 2}])
    # invariant append_only <=> identity none (table_config.rs:31-45)
    with pytest.raises(TableConfigError):
        MoonlinkTable.create(
            spark,
            str(tmp_path / "bad"),
            USERS_SCHEMA,
            IdentityProp.single("id"),
            append_only=True,
        )


def test_full_row_deletes_exactly_one_duplicate(spark, tmp_path):
    t = make_users(spark, tmp_path, identity=IdentityProp.full_row())
    dup = {"id": 7, "name": "d", "email": None, "age": 7}
    t.append_rows([dup, dup, dup, {"id": 8, "name": "e", "email": None, "age": 8}])
    t.commit(lsn=1)
    assert t.scan().count() == 4
    # one delete event removes exactly ONE of the three duplicates
    t.delete_rows([dup])
    t.commit(lsn=2)
    assert t.scan().filter("id = 7").count() == 2
    # two delete occurrences in one batch remove two rows
    t.delete_rows([dup, dup])
    t.commit(lsn=3)
    assert t.scan().filter("id = 7").count() == 0
    assert t.scan().filter("id = 8").count() == 1


def test_composite_key_and_update(spark, tmp_path):
    schema = [
        {"name": "ok", "data_type": "int64", "nullable": False},
        {"name": "ln", "data_type": "int32", "nullable": False},
        {"name": "v", "data_type": "float64"},
    ]
    t = MoonlinkTable.create(
        spark, str(tmp_path / "li"), schema, IdentityProp.keys(["ok", "ln"])
    )
    t.append_rows([{"ok": 1, "ln": 1, "v": 1.0}, {"ok": 1, "ln": 2, "v": 2.0}])
    t.commit(lsn=1)
    # CDC update = delete(old) + append(new) at one LSN
    t.update_rows(
        [{"ok": 1, "ln": 2, "v": 2.0}], [{"ok": 1, "ln": 2, "v": 22.0}]
    )
    t.commit(lsn=2)
    assert rows_set(t.scan()) == {(1, 1, 1.0), (1, 2, 22.0)}


def test_delete_sees_same_commit_appends(spark, tmp_path):
    """A delete targets a row appended earlier in the SAME commit (parity:
    streaming-xact 4-way delete routing, transaction_stream.rs)."""
    t = make_users(spark, tmp_path)
    t.append_rows([{"id": 1, "name": "a", "email": None, "age": 1}])
    t.delete_rows([{"id": 1}])
    t.append_rows([{"id": 2, "name": "b", "email": None, "age": 2}])
    t.commit(lsn=1)
    assert [r["id"] for r in t.scan().collect()] == [2]


def test_streaming_transaction_commit_abort(spark, tmp_path):
    t = make_users(spark, tmp_path)
    t.append_rows([{"id": 1, "name": "a", "email": None, "age": 1}])
    t.commit(lsn=1)
    x1 = t.begin_transaction(xact_id=71)
    x1.append_rows([{"id": 2, "name": "b", "email": None, "age": 2}])
    x1.delete_rows([{"id": 1}])
    assert t.scan().count() == 1  # staged ops invisible
    x1.commit(lsn=5)
    assert sorted(r["id"] for r in t.scan().collect()) == [2]
    x2 = t.begin_transaction(xact_id=72)
    x2.append_rows([{"id": 3, "name": "c", "email": None, "age": 3}])
    x2.abort()
    assert sorted(r["id"] for r in t.scan().collect()) == [2]
    assert t.scan(lsn=1).count() == 1  # time travel unaffected


def test_optimize_and_vacuum(spark, tmp_path):
    t = make_users(spark, tmp_path)
    for i in range(5):
        t.append_rows(
            [{"id": 10 * i + j, "name": "n", "email": None, "age": j} for j in range(10)]
        )
        t.commit(lsn=i + 1)
    t.delete_rows([{"id": i} for i in range(0, 50, 2)][:20])
    t.commit(lsn=99)
    before = t.scan()
    expect = rows_set(before)
    m = t.manifest
    assert should_compact(m)  # many small files + high deletion ratio
    v = optimize(t)
    m2 = t.manifest
    assert m2.version == v and not m2.delete_files
    assert m2.lsn == m.lsn  # maintenance keeps LSN
    assert rows_set(t.scan()) == expect
    removed = vacuum(t, keep_versions=1)
    assert removed > 0
    assert rows_set(t.scan()) == expect


def test_optimize_skips_already_optimal(spark, tmp_path):
    """r13: optimize(force=False) on a table already in its post-state
    (file count at the byte-derived target, no DVs) must be a NO-OP — no
    rewrite job, no new manifest version — while a subsequent mutation
    makes the next optimize rewrite again. The config makes should_compact
    always fire, so the post-state check is what decides."""
    t = make_users(spark, tmp_path)
    t.append_rows(
        [{"id": i, "name": "n", "email": None, "age": i % 90} for i in range(100)]
    )
    t.commit(lsn=1)
    t.delete_rows([{"id": i} for i in range(0, 10)])
    t.commit(lsn=2)
    cfg = CompactionConfig(max_deletion_ratio=0.0)
    v = optimize(t, cfg=cfg, force=False)  # real rewrite: folds the DV
    m = t.manifest
    assert m.version == v and not m.delete_files and len(m.data_files) == 1
    expect = rows_set(t.scan())
    # already optimal: same version back, manifest untouched
    assert optimize(t, cfg=cfg, force=False) == v
    assert t.manifest.version == v
    assert rows_set(t.scan()) == expect
    # a new DV re-arms the rewrite
    t.delete_rows([{"id": 42}])
    t.commit(lsn=3)
    v2 = optimize(t, cfg=cfg, force=False)
    assert v2 > v and not t.manifest.delete_files
    assert rows_set(t.scan()) == expect - {(42, "n", None, 42)}


def test_optimize_force_always_rewrites(spark, tmp_path):
    """force=True is the explicit rewrite: an already-compacted table gets
    a new version (and new files) under force=True, and keeps its version
    under force=False."""
    t = make_users(spark, tmp_path)
    t.append_rows(
        [{"id": i, "name": "n", "email": None, "age": i % 90} for i in range(50)]
    )
    t.commit(lsn=1)
    v = optimize(t)
    m = t.manifest
    assert m.version == v and len(m.data_files) == 1 and not m.delete_files
    expect = rows_set(t.scan())
    assert optimize(t, force=False) == v
    assert t.manifest.version == v
    v2 = optimize(t, force=True)
    assert v2 == v + 1 == t.manifest.version
    assert t.manifest.data_files[0].path != m.data_files[0].path
    assert rows_set(t.scan()) == expect


def test_alter_add_drop_columns(spark, tmp_path):
    t = make_users(spark, tmp_path)
    t.append_rows([{"id": 1, "name": "a", "email": "e", "age": 1}])
    t.commit(lsn=1)
    t.alter(add_columns=[{"name": "score", "data_type": "float64"}], lsn=2)
    t.append_rows([{"id": 2, "name": "b", "email": None, "age": 2, "score": 9.5}])
    t.commit(lsn=3)
    got = {r["id"]: r["score"] for r in t.scan().collect()}
    assert got == {1: None, 2: 9.5}  # old files read new column as null
    t.alter(drop_columns=["email"], lsn=4)
    assert t.schema.fieldNames() == ["id", "name", "age", "score"]
    assert t.scan().count() == 2
    with pytest.raises(TableConfigError):
        t.alter(drop_columns=["id"])  # identity column protected


def test_load_files_bulk(spark, tmp_path, sf_dir):
    schema = [
        {"name": "o_orderkey", "data_type": "int64"},
        {"name": "o_custkey", "data_type": "int64"},
        {"name": "o_orderstatus", "data_type": "string"},
        {"name": "o_totalprice", "data_type": "float64"},
        {"name": "o_orderdate", "data_type": "timestamp_ntz"},
        {"name": "o_orderpriority", "data_type": "string"},
    ]
    t = MoonlinkTable.create(
        spark, str(tmp_path / "bulk"), schema, IdentityProp.none()
    )
    src = f"{sf_dir}/orders.parquet"
    t.load_files([src])
    t.commit(lsn=1)
    expected = spark.read.parquet(src).count()
    assert t.scan().count() == expected
    assert t.cardinality() == expected


def test_vacuum_keeps_pending_staged_files(spark, tmp_path):
    """A flushed-but-uncommitted parquet (mem-slice overflow / load_files
    copy) must survive vacuum, else the next commit publishes a manifest
    pointing at a missing file (round-1 ADVICE finding)."""
    t = make_users(spark, tmp_path)
    t.append_rows([{"id": 1, "name": "a", "email": None, "age": 1}])
    t.commit(lsn=1)
    # force the overflow path: tiny mem-slice turns buffered rows into a
    # staged append_files op referencing a real parquet under data/
    t.mem_slice_rows = 2
    t.append_rows(
        [{"id": 10 + i, "name": "p", "email": None, "age": i} for i in range(3)]
    )
    assert t.has_pending()
    staged = [
        e.path for op in t._pending if op[0] == "append_files" for e in op[1]
    ]
    assert staged, "overflow should have staged an append_files op"
    vacuum(t, keep_versions=1)
    import os

    for rel in staged:
        assert os.path.exists(os.path.join(t.path, rel))
    t.commit(lsn=2)
    assert t.scan().count() == 4


def test_xact_commit_retry_after_conflict(spark, tmp_path):
    """A failed xact commit leaves the stream open with ops intact so the
    caller can retry at a new LSN (round-1 ADVICE finding)."""
    t = make_users(spark, tmp_path)
    t.append_rows([{"id": 1, "name": "a", "email": None, "age": 1}])
    t.commit(lsn=100)
    x = t.begin_transaction(7)
    x.append_rows([{"id": 2, "name": "b", "email": None, "age": 2}])
    with pytest.raises(LsnError):
        x.commit(lsn=5)  # conflicts: behind the table's LSN
    # stream still open, staged ops intact -> retry succeeds
    x.commit(lsn=101)
    assert rows_set(t.scan().select("id")) == {(1,), (2,)}
    assert not t.has_pending()


def test_table_relocation_preserves_deletes(spark, tmp_path):
    """DV refs are table-root-relative: moving the table directory must not
    resurrect deleted rows (round-1 ADVICE finding)."""
    import shutil

    t = make_users(spark, tmp_path)
    t.append_rows(
        [{"id": i, "name": "n", "email": None, "age": i} for i in range(10)]
    )
    t.commit(lsn=1)
    t.delete_rows([{"id": i} for i in range(0, 10, 2)])
    t.commit(lsn=2)
    assert t.scan().count() == 5
    new_path = str(tmp_path / "users_moved")
    shutil.move(t.path, new_path)
    t2 = MoonlinkTable.open(spark, new_path)
    assert t2.scan().count() == 5
    assert {r["id"] for r in t2.scan().collect()} == {1, 3, 5, 7, 9}


def test_object_store_uri_fails_loudly(spark, tmp_path):
    """An unregistered object-store warehouse URI must fail at the FS seam
    with a pointer to the registry, not corrupt state via POSIX calls."""
    with pytest.raises(TableConfigError, match="register_fs_scheme"):
        MoonlinkTable.create(
            spark, "s3://bucket/tbl", USERS_SCHEMA, IdentityProp.single("id")
        )


def test_export_snapshot_readable_by_duckdb(spark, tmp_path):
    """Exported snapshots are plain parquet + sidecar: an external engine
    (DuckDB) reads them with no knowledge of the manifest format, and the
    export reflects deletes + the requested LSN."""
    import duckdb

    from moonlink_spark.table.export import export_snapshot, read_export_meta

    t = make_users(spark, tmp_path)
    t.append_rows(
        [{"id": i, "name": f"u{i}", "email": None, "age": i} for i in range(10)]
    )
    t.commit(lsn=1)
    t.delete_rows([{"id": i} for i in (0, 2, 4)])
    t.commit(lsn=2)

    dest = str(tmp_path / "exp")
    meta = export_snapshot(t, dest)
    assert meta["rows"] == 7 and meta["source_lsn"] == 2
    con = duckdb.connect()
    got = con.execute(
        f"SELECT id, name FROM '{dest}/*.parquet' ORDER BY id"
    ).fetchall()
    assert [r[0] for r in got] == [1, 3, 5, 6, 7, 8, 9]
    assert read_export_meta(dest)["schema_fields"][0]["name"] == "id"

    # time travel: export at lsn=1 has all 10 rows
    dest1 = str(tmp_path / "exp1")
    meta1 = export_snapshot(t, dest1, lsn=1)
    assert meta1["rows"] == 10
    n = con.execute(f"SELECT COUNT(*) FROM '{dest1}/*.parquet'").fetchone()[0]
    assert n == 10

    # re-import loop: load_files on the exported parquet
    t2 = MoonlinkTable.create(
        spark, str(tmp_path / "reimp"), USERS_SCHEMA, IdentityProp.single("id")
    )
    import glob

    t2.load_files(sorted(glob.glob(f"{dest}/*.parquet")))
    t2.commit(lsn=1)
    assert t2.scan().count() == 7


def test_append_after_upsert_does_not_grow_staged_delete(spark, tmp_path):
    """Review finding (r9): upsert_rows staged the SAME list object in its
    delete and append ops, so a later append_rows (which coalesces into
    the last op's list in place — the REST event-loop shape of upsert
    followed by insert) silently added the appended keys to the pending
    delete and destroyed the pre-existing row."""
    t = make_users(spark, tmp_path)
    t.append_rows([{"id": 2, "name": "old", "email": None, "age": 20}])
    t.commit(lsn=1)
    t.upsert_rows([{"id": 1, "name": "new", "email": None, "age": 30}])
    t.append_rows([{"id": 2, "name": "dup", "email": None, "age": 40}])
    t.commit(lsn=2)
    names = sorted(r.name for r in t.scan().collect())
    assert names == ["dup", "new", "old"], names  # old row survived


def test_fullrow_strict_delete_raises_on_missing(spark, tmp_path):
    """Review finding (r9): the full_row branch ignored if_exists, so
    strict deletes (update_rows' delete leg) silently no-opped on missing
    rows instead of raising like the key-identity branch."""
    t = make_users(spark, tmp_path, identity=IdentityProp.full_row())
    row = {"id": 1, "name": "a", "email": None, "age": 10}
    ghost = {"id": 9, "name": "ghost", "email": None, "age": 99}
    t.append_rows([row])
    t.commit(lsn=1)
    t.delete_rows([ghost])  # if_exists=True: fine, no-op
    t.commit(lsn=2)
    assert t.scan().count() == 1
    t.delete_rows([ghost], if_exists=False)
    with pytest.raises(IdentityError, match="matched no live row"):
        t.commit(lsn=3)
    t._pending.clear()  # drop the failed strict delete before moving on
    # strict delete of a PRESENT row still works
    t.delete_rows([row], if_exists=False)
    t.commit(lsn=4)
    assert t.scan().count() == 0


def test_fullrow_delete_of_a_wrong_typed_value_raises(spark, tmp_path):
    """The full-row delete batch is an Arrow-built local relation, type
    checked as ``createDataFrame(list)`` checks it: a string, or a float
    with a fraction, for an int column raises at commit and deletes
    nothing, while a matching row still deletes one occurrence."""
    t = make_users(spark, tmp_path, identity=IdentityProp.full_row())
    row = {"id": 1, "name": "a", "email": None, "age": 10}
    t.append_rows([row, row])
    t.commit(lsn=1)
    for lsn, bad in enumerate(({"age": "ten"}, {"age": 10.5}), 2):
        t.delete_rows([{**row, **bad}])
        with pytest.raises(TypeError, match="age"):
            t.commit(lsn=lsn)
        t._pending.clear()
        assert t.scan().count() == 2
    t.delete_rows([row])
    t.commit(lsn=4)
    assert t.scan().count() == 1


def test_fraction_into_an_int_column_raises_on_append_and_key_delete(
    spark, tmp_path
):
    """The row buffer and the key-identity delete batch are converted
    with pyarrow, which alone reads 7.9 into an int column as 7: both
    run ``createDataFrame(list)``'s type check, so the commit raises and
    writes or deletes nothing."""
    t = make_users(spark, tmp_path)
    t.append_rows([{"id": i, "name": "a", "email": None, "age": 1} for i in range(3)])
    t.commit(lsn=1)
    files = len(t.manifest.data_files)
    t.append_rows([{"id": 7.9, "name": "b", "email": None, "age": 1}])
    with pytest.raises(TypeError, match="id"):
        t.commit(lsn=2)
    t._pending.clear()
    t.delete_rows([{"id": 1.5}])
    with pytest.raises(TypeError, match="id"):
        t.commit(lsn=2)
    t._pending.clear()
    assert len(t.manifest.data_files) == files
    assert t.manifest.delete_files == []
    assert sorted(r.id for r in t.scan().collect()) == [0, 1, 2]
    t.delete_rows([{"id": 1}])
    t.commit(lsn=2)
    assert sorted(r.id for r in t.scan().collect()) == [0, 2]


def test_manifest_memo_honours_vacuum_mutation_and_other_writers(
    spark, tmp_path
):
    """``ManifestStore`` serves the last version it parsed again: a
    version vacuumed after a reader parsed it still raises, a caller
    mutating the manifest it got does not change the next one, and a
    commit by a second table object on the same path is seen."""
    t = make_users(spark, tmp_path)
    for lsn in (1, 2, 3):
        t.append_rows([{"id": lsn, "name": "a", "email": None, "age": 1}])
        t.commit(lsn=lsn)
    reader = MoonlinkTable.open(spark, t.path)
    assert reader.store.read(1).lsn == 1  # the reader's last parse
    vacuum(t, keep_versions=1)
    with pytest.raises(LsnError, match="not found"):
        reader.store.read(1)
    with pytest.raises(LsnError):
        reader.scan(lsn=1)

    m = reader.manifest
    m.data_files.clear()
    m.delete_files.append(m.data_files)
    m.properties["x"] = 1
    m.schema_fields.clear()
    m.identity.clear()
    again = reader.manifest
    assert len(again.data_files) == 3
    assert again.delete_files == []
    assert "x" not in again.properties
    assert [f["name"] for f in again.schema_fields] == [
        f["name"] for f in USERS_SCHEMA
    ]
    assert again.identity == t.manifest.identity != {}

    t.append_rows([{"id": 4, "name": "b", "email": None, "age": 1}])
    t.commit(lsn=4)
    assert reader.manifest.version == t.manifest.version
    assert reader.last_lsn == 4
    assert sorted(r.id for r in reader.scan().collect()) == [1, 2, 3, 4]


def test_file_uri_table_path_resolves_locally(spark, tmp_path):
    """Review finding (r9): file:// paths classified as local but never
    stripped — abspath mangled them into a cwd-relative 'file:' dir."""
    t = MoonlinkTable.create(
        spark,
        f"file://{tmp_path}/furi",
        USERS_SCHEMA,
        IdentityProp.single("id"),
    )
    assert t.path == str(tmp_path / "furi")
    t.append_rows([{"id": 1, "name": "a", "email": None, "age": 1}])
    t.commit(lsn=1)
    # plain-path open sees the same table
    t2 = MoonlinkTable.open(spark, str(tmp_path / "furi"))
    assert t2.scan().count() == 1


def test_alter_accepts_current_lsn(spark, tmp_path):
    """Review finding (r9): alter is a maintenance commit (adds no data),
    so stamping it with the CURRENT source LSN must be legal — optimize
    and index builds already pass allow_equal_lsn."""
    t = make_users(spark, tmp_path)
    t.append_rows([{"id": 1, "name": "a", "email": None, "age": 1}])
    t.commit(lsn=7)
    t.alter(add_columns=[{"name": "extra", "data_type": "string"}], lsn=7)
    assert "extra" in t.schema.fieldNames()
    assert t.last_lsn == 7


def test_load_files_carry_footer_stats_for_pruning(spark, tmp_path):
    """Review finding (r9): bulk-loaded files got stats=None, permanently
    exempting them from min/max file pruning."""
    src = tmp_path / "ext"
    spark.createDataFrame(
        [(i, f"n{i}", None, i) for i in range(100)],
        "id INT, name STRING, email STRING, age INT",
    ).coalesce(1).write.parquet(str(src))
    parts = [str(p) for p in src.glob("*.parquet")]
    t = make_users(spark, tmp_path)
    t.load_files(parts)
    t.commit(lsn=1)
    entry = t.manifest.data_files[0]
    assert entry.stats, "bulk-loaded file has no footer stats"
    assert entry.stats["id"] == [0, 99]


def test_dv_normalization_is_prefix_anchored(spark, tmp_path):
    """Review finding (r9): __fp normalization used unanchored substring
    replace, so an external file whose path CONTAINS the data root as an
    interior substring collapsed onto another file's __fp and one file's
    DV killed the other's rows."""
    t = MoonlinkTable.create(
        spark, str(tmp_path / "t1"), USERS_SCHEMA, IdentityProp.single("id")
    )
    # external file at <tmp>/backup/<data_root>/f.parquet: contains the
    # data root as an interior substring
    inner = tmp_path / "backup" / str(tmp_path / "t1").lstrip("/")
    inner.mkdir(parents=True)
    spark.createDataFrame(
        [(1, "ext", None, 1)], "id INT, name STRING, email STRING, age INT"
    ).coalesce(1).write.parquet(str(inner / "ext"))
    parts = [str(p) for p in (inner / "ext").glob("*.parquet")]
    t.load_files(parts)
    t.append_rows([{"id": 2, "name": "int", "email": None, "age": 2}])
    t.commit(lsn=1)
    assert t.scan().count() == 2
    # delete ONLY the internal row; the external row must survive
    t.delete_rows([{"id": 2}])
    t.commit(lsn=2)
    names = [r.name for r in t.scan().collect()]
    assert names == ["ext"], names


# -- r10 storage-core review findings ------------------------------------


def _user_rows(n, start=0):
    return [
        {"id": start + i, "name": f"n{i}", "email": None, "age": 30}
        for i in range(n)
    ]


def test_vacuum_declines_while_maintenance_writes(spark, tmp_path):
    """Review r10 #1: optimize() writes compaction output that no manifest
    or pending op references until its commit; a vacuum landing in that
    window must decline instead of GC'ing the rewrite's files."""
    t = make_users(spark, tmp_path)
    t.append_rows(_user_rows(50)); t.commit(lsn=1)
    t.append_rows(_user_rows(50, 100)); t.commit(lsn=2)
    with t._lock:
        t._maintenance_writes += 1
    try:
        assert vacuum(t, keep_versions=1) == 0  # declined, nothing removed
    finally:
        with t._lock:
            t._maintenance_writes -= 1
    assert vacuum(t, keep_versions=1) >= 0  # normal vacuum works again
    assert t.scan().count() == 100


def test_optimize_concurrent_vacuum_never_corrupts(spark, tmp_path):
    """Drive the real interleaving: a vacuum fired DURING optimize's write
    window (hooked via _write_df_files) must not delete the compaction
    output; the optimized table stays fully readable."""
    from unittest.mock import patch

    t = make_users(spark, tmp_path)
    for i in range(3):
        t.append_rows(_user_rows(40, i * 1000)); t.commit(lsn=i + 1)
    real_write = MoonlinkTable._write_df_files

    def write_then_vacuum(self, df, cluster_files=None):
        out = real_write(self, df, cluster_files)
        # the adopted-but-uncommitted window: vacuum must decline
        assert vacuum(self, keep_versions=1) == 0
        return out

    with patch.object(MoonlinkTable, "_write_df_files", write_then_vacuum):
        optimize(t)
    assert t.scan().count() == 120
    assert vacuum(t, keep_versions=1) >= 0
    assert t.scan().count() == 120


def test_xact_flush_files_survive_concurrent_vacuum(spark, tmp_path):
    """Review r10 #2: TransactionStream.flush's staged file is referenced
    by the xact's ops; vacuum between flush and commit must keep it."""
    t = make_users(spark, tmp_path)
    t.append_rows(_user_rows(10)); t.commit(lsn=1)
    x = t.begin_transaction(77)
    x.append_rows(_user_rows(20, 500))
    x.flush()
    vacuum(t, keep_versions=1)  # must treat the staged file as referenced
    x.commit(lsn=2)
    assert t.scan().count() == 30


def test_commit_restores_pending_on_keyboard_interrupt(spark, tmp_path):
    """Review r10 #3: a Ctrl-C during the Spark job inside commit() must
    restore the buffered ops for retry, same as any other failure."""
    from unittest.mock import patch

    t = make_users(spark, tmp_path)
    t.append_rows(_user_rows(5))
    with patch.object(
        MoonlinkTable, "_apply_ops", side_effect=KeyboardInterrupt
    ):
        with pytest.raises(KeyboardInterrupt):
            t.commit(lsn=1)
    assert t.has_pending()  # buffered ingest NOT silently dropped
    t.commit(lsn=1)
    assert t.scan().count() == 5


def test_load_files_rejects_wrong_schema(spark, tmp_path):
    """Review r10 #4: a bulk-loaded file whose footer schema cannot serve
    the table schema fails at load time, not mid-scan later."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = make_users(spark, tmp_path)
    bad_type = str(tmp_path / "bad_type.parquet")
    pq.write_table(
        pa.table({"id": pa.array(["1", "2"], pa.string()),
                  "name": pa.array(["a", "b"]),
                  "email": pa.array([None, None], pa.string()),
                  "age": pa.array([1, 2], pa.int32())}),
        bad_type,
    )
    with pytest.raises(TableConfigError, match="id"):
        t.load_files([bad_type])
    missing_col = str(tmp_path / "missing.parquet")
    pq.write_table(pa.table({"id": pa.array([1], pa.int32())}), missing_col)
    with pytest.raises(TableConfigError, match="name"):
        t.load_files([missing_col])
    assert not t.has_pending()  # nothing staged by the failed loads


def test_wait_for_lsn_pruned_history_raises_clean(spark, tmp_path):
    """Review r10 #8: when vacuum pruned every version with lsn <= X,
    wait_for_lsn(X) must raise LsnError, not return None."""
    t = make_users(spark, tmp_path)
    t.append_rows(_user_rows(5)); t.commit(lsn=10)
    t.append_rows(_user_rows(5, 50)); t.commit(lsn=20)
    vacuum(t, keep_versions=1)  # only the lsn=20 manifest remains
    with pytest.raises(LsnError, match="predates|no commit"):
        t.store.wait_for_lsn(5, timeout_s=0.5)


def test_vacuum_sweeps_stale_tmp_dirs(spark, tmp_path):
    """Review r10 #5: a hard-killed writer leaves a `_tmp-*` dir behind;
    vacuum reclaims it (the in-process path cleans up via finally)."""
    import os

    t = make_users(spark, tmp_path)
    t.append_rows(_user_rows(5)); t.commit(lsn=1)
    stale = os.path.join(t.data_path, "_tmp-deadbeef")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-0.parquet"), "wb") as fh:
        fh.write(b"garbage")
    assert vacuum(t, keep_versions=1) >= 1
    assert not os.path.exists(stale)
    assert t.scan().count() == 5


def test_chaos_fail_every_counts_mutating_ops_only():
    """Review r10 #9: fail_every's docstring promises one failure every N
    MUTATING calls; reads must neither advance the schedule nor fail when
    the counter happens to sit at a multiple."""
    from moonlink_spark.table.fs import ChaosPolicy, TransientStoreError

    pol = ChaosPolicy(fail_every=3)
    for _ in range(10):  # reads never advance or trip the schedule
        pol.check("get"); pol.check("list"); pol.check("head")
    pol.check("put"); pol.check("put")
    with pytest.raises(TransientStoreError):
        pol.check("put")  # the 3rd mutating op
    for _ in range(5):
        pol.check("get")  # counter at a multiple: reads still pass
    pol.check("delete"); pol.check("copy")
    with pytest.raises(TransientStoreError):
        pol.check("put")  # the 6th mutating op


def test_pending_mark_blocks_coalescing_across_it(spark, tmp_path):
    """Review r11: append/delete batching merges rows into the LAST
    pending op — but never into an op staged before a pending_mark(),
    or discard_pending_since(mark) would silently keep the post-mark
    rows (the REST/queue sync-commit failure path would then apply a
    change the client was told failed, twice after retry)."""
    t = make_users(spark, tmp_path)
    t.append_rows([{"id": i, "name": "n", "email": None, "age": 1}
                   for i in range(10)])
    t.commit(lsn=1)

    # deletes: one staged before the mark, one after — the post-mark
    # delete must NOT coalesce into the pre-mark op
    t.delete_rows([{"id": 1}])
    mark = t.pending_mark()
    t.delete_rows([{"id": 2}])
    assert t.discard_pending_since(mark) == 1  # B's delete dropped
    t.commit(lsn=2)
    ids = {r.id for r in t.scan().collect()}
    assert 1 not in ids and 2 in ids  # A deleted, B survived the abort

    # appends: same invariant (the coalescing there predates r11)
    t.append_rows([{"id": 100, "name": "a", "email": None, "age": 1}])
    mark = t.pending_mark()
    t.append_rows([{"id": 101, "name": "b", "email": None, "age": 1}])
    assert t.discard_pending_since(mark) == 1
    t.commit(lsn=3)
    ids = {r.id for r in t.scan().collect()}
    assert 100 in ids and 101 not in ids

    # after a commit the floor resets: adjacent ops coalesce again
    t.delete_rows([{"id": 3}])
    t.delete_rows([{"id": 4}])
    assert len(t._pending) == 1  # coalesced into one DV job
    t.commit(lsn=4)
    ids = {r.id for r in t.scan().collect()}
    assert 3 not in ids and 4 not in ids


def test_renew_leases_scoped_to_file(spark, tmp_path):
    """Review r11: lease renewal must extend only versions containing
    the file the renewing task reads — unscoped renewal under
    continuous query load would slide a crashed reader's lease on an
    unrelated version forever (the unbounded vacuum delay pin_lease_s
    exists to prevent)."""
    import os as _os

    t = make_users(spark, tmp_path)
    t.append_rows([{"id": 1, "name": "a", "email": None, "age": 1}])
    t.commit(lsn=1)
    v1 = t.manifest.version
    v1_file = t.manifest.data_files[0].path
    optimize(t)  # v2 rewrites the data: v1's file is not in v2
    t.append_rows([{"id": 2, "name": "b", "email": None, "age": 1}])
    t.commit(lsn=3)
    v3 = t.manifest.version
    v3_file = [
        f.path for f in t.manifest.data_files if f.path != v1_file
    ][-1]

    t.lease_version(v1, 5.0)   # orphaned lease (crashed reader)
    t.lease_version(v3, 5.0)   # the live scan's lease
    # scoped renewal extends ONLY the version containing the file
    assert t.renew_leases(60.0, file=_os.path.basename(v3_file)) == 1
    import time as _time

    now = _time.monotonic()
    assert t._version_leases[v3] > now + 30
    assert t._version_leases[v1] < now + 10  # orphan NOT extended
    # unscoped renewal (admin) extends everything still active
    assert t.renew_leases(60.0) == 2


def test_dv_positions_groups_filters_and_dedups(tmp_path):
    """``dv_positions`` reads every DV file at once: positions are grouped
    by manifest path, sorted, each once (a row deleted by two DVs),
    ``only`` keeps just the named files, and no DV files read nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from moonlink_spark.table.manifest import FileEntry
    from moonlink_spark.table.table import DV_ARROW_SCHEMA, dv_positions

    ext = str(tmp_path / "ext.parquet")
    dvs = {
        "deletes/a.parquet": [
            ("data/1.parquet", 7),
            ("data/2.parquet", 3),
            ("data/1.parquet", 2),
        ],
        "deletes/b.parquet": [("data/1.parquet", 7), (ext, 0)],
    }
    (tmp_path / "deletes").mkdir()
    for rel, rows in dvs.items():
        fps, ris = zip(*rows)
        tbl = pa.table({"file_path": fps, "row_index": ris}, schema=DV_ARROW_SCHEMA)
        pq.write_table(tbl, str(tmp_path / rel))
    files = [FileEntry(path=rel, rows=len(rows)) for rel, rows in dvs.items()]
    root = str(tmp_path)

    assert dv_positions(root, files) == {
        "data/1.parquet": [2, 7],
        "data/2.parquet": [3],
        ext: [0],
    }
    assert dv_positions(root, files, only={"data/1.parquet", ext}) == {
        "data/1.parquet": [2, 7],
        ext: [0],
    }
    assert dv_positions(root, files, only=["data/9.parquet"]) == {}
    assert dv_positions(root, files, only=[]) == {}
    assert dv_positions(root, []) == {}
