"""Persisted key hash index: build on flush, exact-file delete targeting,
index merge, compaction rebuild, vacuum GC, Iceberg index-blob export.

Parity model: the reference's persisted bucketed hash index
(persisted_bucket_hash_map.rs — build_from_flush :486-523, search_values
:276-302, build_from_merge :525-574) and its Iceberg persistence as
mooncake-hash-index-v1 Puffin blobs (storage/table/iceberg/index.rs:20-22).
"""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from moonlink_spark.errors import IdentityError, TableConfigError
from moonlink_spark.table import keyindex
from moonlink_spark.table.identity import IdentityProp
from moonlink_spark.table.maintenance import optimize, vacuum
from moonlink_spark.table.table import MoonlinkTable

FIELDS = [
    {"name": "id", "data_type": "int64", "nullable": False},
    {"name": "v", "data_type": "string"},
]


def _mk(spark, tmp_path, name="t", ident=None, **kw):
    return MoonlinkTable.create(
        spark,
        str(tmp_path / name),
        FIELDS,
        ident or IdentityProp.single("id"),
        key_index=True,
        **kw,
    )


def test_build_on_flush_covers_every_commit(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append_rows([{"id": i, "v": f"a{i}"} for i in range(100)])
    t.commit(lsn=1)
    t.append_rows([{"id": i, "v": f"b{i}"} for i in range(100, 200)])
    t.commit(lsn=2)
    m = t.manifest
    entries, covered = keyindex.live_entries(m)
    assert len(entries) == 2
    assert covered == {f.path for f in m.data_files}
    # every entry's index parquet has one row per data row
    total = sum(e["rows"] for e in entries)
    assert total == 200


def test_lookup_returns_exactly_the_containing_file(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append_rows([{"id": i, "v": "x"} for i in range(100)])
    t.commit(lsn=1)
    t.append_rows([{"id": i, "v": "x"} for i in range(100, 200)])
    t.commit(lsn=2)
    m = t.manifest
    keys = spark.createDataFrame([(150,)], "id: long")
    matching, uncovered = keyindex.candidate_files(t, m, keys, ["id"])
    assert uncovered == []
    assert len(matching) == 1
    # the second commit's file contains id=150
    assert matching[0] == m.data_files[1].path
    # a key in neither file matches nothing
    none_keys = spark.createDataFrame([(10_000,)], "id: long")
    matching2, _ = keyindex.candidate_files(t, m, none_keys, ["id"])
    assert matching2 == []


def test_delete_via_index_is_exact(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append_rows([{"id": i, "v": f"a{i}"} for i in range(300)])
    t.commit(lsn=1)
    t.delete_rows([{"id": 5}, {"id": 250}])
    t.commit(lsn=2)
    assert t.scan().count() == 298
    assert t.scan().filter("id in (5, 250)").count() == 0
    # upsert goes through the same targeting
    t.upsert_rows([{"id": 7, "v": "upd"}])
    t.commit(lsn=3)
    assert [r.v for r in t.scan().filter("id = 7").collect()] == ["upd"]


def test_strict_delete_missing_key_still_raises(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append_rows([{"id": 1, "v": "a"}])
    t.commit(lsn=1)
    t.delete_rows([{"id": 99}], if_exists=False)
    with pytest.raises(IdentityError):
        t.commit(lsn=2)


def test_same_commit_flush_is_scanned_uncovered(spark, tmp_path):
    """A delete in the same commit as its append targets files the index
    does not yet cover — correctness never depends on coverage."""
    t = _mk(spark, tmp_path)
    t.append_rows([{"id": i, "v": "x"} for i in range(50)])
    t.delete_rows([{"id": 7}])
    t.commit(lsn=1)
    assert t.scan().count() == 49
    assert t.scan().filter("id = 7").count() == 0


def test_composite_key_index(spark, tmp_path):
    fields = [
        {"name": "a", "data_type": "int64", "nullable": False},
        {"name": "b", "data_type": "string", "nullable": False},
        {"name": "v", "data_type": "int32"},
    ]
    t = MoonlinkTable.create(
        spark,
        str(tmp_path / "ck"),
        fields,
        IdentityProp.keys(["a", "b"]),
        key_index=True,
    )
    t.append_rows([{"a": i, "b": f"k{i % 7}", "v": i} for i in range(100)])
    t.commit(lsn=1)
    t.delete_rows([{"a": 3, "b": "k3"}])
    t.commit(lsn=2)
    assert t.scan().count() == 99
    assert t.scan().filter("a = 3").count() == 0


def test_key_index_requires_key_identity(spark, tmp_path):
    with pytest.raises(TableConfigError):
        MoonlinkTable.create(
            spark,
            str(tmp_path / "bad"),
            FIELDS,
            IdentityProp.full_row(),
            key_index=True,
        )


def test_index_merge_compacts_entries(spark, tmp_path):
    t = _mk(spark, tmp_path)
    for c in range(4):
        t.append_rows([{"id": 100 * c + i, "v": "x"} for i in range(100)])
        t.commit(lsn=c + 1)
    assert len(keyindex.index_entries(t.manifest)) == 4
    optimize(t, mode="index")
    m = t.manifest
    entries, covered = keyindex.live_entries(m)
    assert len(entries) == 1
    assert covered == {f.path for f in m.data_files}
    keys = spark.createDataFrame([(305,)], "id: long")
    matching, uncovered = keyindex.candidate_files(t, m, keys, ["id"])
    assert uncovered == []
    assert matching == [m.data_files[3].path]


def test_compaction_rebuilds_index(spark, tmp_path):
    t = _mk(spark, tmp_path)
    for c in range(3):
        t.append_rows([{"id": 100 * c + i, "v": "x"} for i in range(100)])
        t.commit(lsn=c + 1)
    t.delete_rows([{"id": 42}])
    t.commit(lsn=4)
    optimize(t, mode="full")
    m = t.manifest
    entries, covered = keyindex.live_entries(m)
    assert covered == {f.path for f in m.data_files}
    # deleted row is gone from the rebuilt index
    keys = spark.createDataFrame([(42,)], "id: long")
    matching, uncovered = keyindex.candidate_files(t, m, keys, ["id"])
    assert matching == [] and uncovered == []
    # live keys still resolve, and deletes still work post-compaction
    t.delete_rows([{"id": 123}])
    t.commit(lsn=5)
    assert t.scan().count() == 298


def test_vacuum_gcs_dead_index_runs(spark, tmp_path):
    t = _mk(spark, tmp_path)
    for c in range(3):
        t.append_rows([{"id": 10 * c + i, "v": "x"} for i in range(10)])
        t.commit(lsn=c + 1)
    optimize(t, mode="index")
    kid = os.path.join(t.data_path, keyindex.KEYINDEX_DIR)
    assert len(os.listdir(kid)) == 4  # 3 per-commit runs + 1 merged
    removed = vacuum(t)
    assert removed >= 3
    assert len(os.listdir(kid)) == 1  # only the merged run survives
    # table still scans and deletes correctly
    t.delete_rows([{"id": 21}])
    t.commit(lsn=10)
    assert t.scan().count() == 29


def test_iceberg_export_writes_index_blobs(spark, tmp_path):
    from moonlink_spark.table.iceberg_export import (
        export_iceberg,
        read_iceberg_key_index,
    )

    t = _mk(spark, tmp_path)
    t.append_rows([{"id": i, "v": f"a{i}"} for i in range(200)])
    t.commit(lsn=1)
    t.delete_rows([{"id": 3}])
    t.commit(lsn=2)
    dest = str(tmp_path / "ice")
    summary = export_iceberg(t, dest)
    assert summary["file_index_puffin"]
    blobs = read_iceberg_key_index(dest)
    assert len(blobs) == 1
    e = blobs[0]
    assert e["algo"] == keyindex.XXHASH64_ALGO
    assert e["cardinality"] == 200
    assert len(e["data_files"]) == len(e["source_paths"]) == 1
    assert all(os.path.exists(p) for p in e["index_block_files"])
    assert all(os.path.exists(p) for p in e["data_files"])
    # point lookup THROUGH the exported blob: hash -> (file, row) -> value
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    h = (
        spark.createDataFrame([(7,)], "id: long")
        .select(F.xxhash64("id").alias("h"))
        .collect()[0]
        .h
    )
    tbl = pq.read_table(e["index_block_files"][0])
    hit = tbl.filter(pc.equal(tbl.column("h"), h)).to_pylist()
    assert len(hit) == 1 and hit[0]["__fp"] == e["source_paths"][0]
    row = pq.read_table(e["data_files"][0]).to_pylist()[hit[0]["__ri"]]
    assert row == {"id": 7, "v": "a7"}


def test_non_indexed_table_unaffected(spark, tmp_path):
    t = MoonlinkTable.create(
        spark, str(tmp_path / "plain"), FIELDS, IdentityProp.single("id")
    )
    t.append_rows([{"id": 1, "v": "a"}])
    t.commit(lsn=1)
    assert keyindex.candidate_files(
        t, t.manifest, spark.createDataFrame([(1,)], "id: long"), ["id"]
    ) is None
    optimize(t, mode="index")  # no-op, no error
    t.delete_rows([{"id": 1}])
    t.commit(lsn=2)
    assert t.scan().count() == 0


def test_scan_keys_point_lookup(spark, tmp_path):
    """Read-path index lookup: scan_keys answers from only the containing
    files (index path) and falls back cleanly without an index."""
    t = _mk(spark, tmp_path, "lookup")
    t.append_rows([{"id": i, "v": f"a{i}"} for i in range(100)])
    t.commit(lsn=1)
    t.append_rows([{"id": i, "v": f"b{i}"} for i in range(100, 200)])
    t.commit(lsn=2)
    keys = spark.createDataFrame([(5,), (150,)], "id: long")
    got = {r.id: r.v for r in t.scan_keys(keys).collect()}
    assert got == {5: "a5", 150: "b150"}
    # historical lookup at lsn=1 sees only the first commit
    got1 = {r.id: r.v for r in t.scan_keys(keys, lsn=1).collect()}
    assert got1 == {5: "a5"}
    # deleted keys disappear
    t.delete_rows([{"id": 5}])
    t.commit(lsn=3)
    assert {r.id for r in t.scan_keys(keys).collect()} == {150}
    # fallback: same answers on a non-indexed table
    t2 = MoonlinkTable.create(
        spark, str(tmp_path / "plain2"), FIELDS, IdentityProp.single("id")
    )
    t2.append_rows([{"id": i, "v": f"a{i}"} for i in range(10)])
    t2.commit(lsn=1)
    keys2 = spark.createDataFrame([(3,)], "id: long")
    assert [r.v for r in t2.scan_keys(keys2).collect()] == ["a3"]
    # wrong identity mode raises
    t3 = MoonlinkTable.create(
        spark, str(tmp_path / "fr2"), FIELDS, IdentityProp.full_row()
    )
    with pytest.raises(IdentityError):
        t3.scan_keys(keys2)


def test_scan_where_routes_point_lookups_through_index(spark, tmp_path):
    t = _mk(spark, tmp_path, "sw")
    t.append_rows([{"id": i, "v": f"a{i}"} for i in range(200)])
    t.commit(lsn=1)
    t.append_rows([{"id": i, "v": f"b{i}"} for i in range(200, 400)])
    t.commit(lsn=2)
    # equality on the key -> index route
    assert [r.v for r in t.scan_where("id = 250").collect()] == ["b250"]
    # IN-list on the key
    got = sorted(r.id for r in t.scan_where("id IN (3, 250, 9999)").collect())
    assert got == [3, 250]
    # key equality plus extra conjunct still filters correctly
    assert t.scan_where("id = 250 AND v = 'nope'").count() == 0
    # range on the key: not a lookup, falls back to stats pruning
    assert t.scan_where("id >= 395").count() == 5
    # non-key condition untouched
    assert t.scan_where("v = 'a7'").count() == 1


def test_narrow_typed_keys_df_still_hits_index(spark, tmp_path):
    """xxhash64 is width-sensitive: an int-typed lookup against a bigint
    key column must be cast to the table type before hashing, or the
    candidate set silently drops the containing file."""
    t = _mk(spark, tmp_path, "cast")
    t.append_rows([{"id": i, "v": f"a{i}"} for i in range(50)])
    t.commit(lsn=1)
    keys_int = spark.createDataFrame([(7,)], "id: int")  # NOT long
    matching, _ = keyindex.candidate_files(t, t.manifest, keys_int, ["id"])
    assert matching == [t.manifest.data_files[0].path]
    t.delete_keys_df(keys_int)
    t.commit(lsn=2)
    assert t.scan().filter("id = 7").count() == 0
    assert t.scan().count() == 49


def _random_indexed_table(spark, tmp_path, monkeypatch, rng):
    """A composite-key indexed table whose index files have many small row
    groups and two entries: one over one file, one over two files of the
    same commit. -> (table, key pool, {key: set(data path)})."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    monkeypatch.setattr(keyindex, "INDEX_ROW_GROUP_ROWS", 8)
    fields = [
        {"name": "k", "data_type": "int64", "nullable": False},
        {"name": "s", "data_type": "string", "nullable": False},
        {"name": "v", "data_type": "int32"},
    ]
    t = MoonlinkTable.create(
        spark,
        str(tmp_path / "prop"),
        fields,
        IdentityProp.keys(["k", "s"]),
        key_index=True,
    )
    pool = [
        (rng.randrange(-(10**12), 10**12), rng.choice(["α", "b", "日本", ""]))
        for _ in range(300)
    ]
    chunks = [pool[100 * c:100 * (c + 1)] for c in range(3)]
    t.append_rows([{"k": k, "s": s, "v": i} for i, (k, s) in enumerate(chunks[0])])
    t.commit(lsn=1)
    schema = to_arrow_schema(t.schema)
    for chunk in chunks[1:]:  # two files, one commit, one index entry
        t.append_arrow(
            pa.Table.from_pylist(
                [{"k": k, "s": s, "v": i} for i, (k, s) in enumerate(chunk)],
                schema=schema,
            )
        )
    t.commit(lsn=2)
    m = t.manifest
    assert len(m.data_files) == 3 and len(keyindex.index_entries(m)) == 2
    files_of: dict[tuple, set[str]] = {}
    for f, chunk in zip(m.data_files, chunks):
        for key in chunk:
            files_of.setdefault(key, set()).add(f.path)
    for e in keyindex.index_entries(m):
        assert pq.ParquetFile(t._resolve(e["path"])).metadata.num_row_groups > 5
    return t, pool, files_of


def test_candidate_files_match_bruteforce_random(spark, tmp_path, monkeypatch):
    """Property: for random key sets (negatives, unicode strings, a null
    key), the candidate file set equals the true containing-file set
    exactly — also when an index entry covers a file that was compacted
    away (its rows must never surface)."""
    import dataclasses
    import random

    rng = random.Random(1234)
    t, pool, files_of = _random_indexed_table(spark, tmp_path, monkeypatch, rng)
    m = t.manifest
    # the two-file entry now covers one compacted-away file
    dead = m.data_files[1].path
    m_live = dataclasses.replace(
        m, data_files=[f for f in m.data_files if f.path != dead]
    )
    probe = rng.sample(pool, 40) + [(99, "missing"), (None, "α")]
    keys_df = spark.createDataFrame(
        [{"k": k, "s": s} for k, s in probe], "k: long, s: string"
    )
    for manifest, gone in ((m, set()), (m_live, {dead})):
        matching, uncovered = keyindex.candidate_files(
            t, manifest, keys_df, ["k", "s"]
        )
        assert uncovered == []
        expected = set().union(*(files_of.get(key, set()) for key in probe))
        assert set(matching) == expected - gone
        assert matching == sorted(matching)
    assert dead in set().union(*(files_of[k] for k in probe[:40]))


def test_large_key_batch_takes_the_spark_leg(spark, tmp_path, monkeypatch):
    """At least DISTRIBUTED_THRESHOLD distinct probes join the index
    through Spark; the files and positions equal the driver leg's."""
    import random

    rng = random.Random(99)
    t, pool, files_of = _random_indexed_table(spark, tmp_path, monkeypatch, rng)
    m = t.manifest
    extra = [(k, "zz") for k in range(keyindex.DISTRIBUTED_THRESHOLD)]  # misses
    probe = pool[::2] + extra
    keys_df = spark.createDataFrame(probe, "k long, s string")
    calls = []
    real = keyindex._index_lookup_spark

    def spy(spark_, blocks, probes):
        calls.append(len(probes))
        return real(spark_, blocks, probes)

    monkeypatch.setattr(keyindex, "_index_lookup_spark", spy)
    matching, _ = keyindex.candidate_files(t, m, keys_df, ["k", "s"])
    assert calls and calls[0] >= keyindex.DISTRIBUTED_THRESHOLD
    assert set(matching) == set().union(*(files_of[k] for k in pool[::2]))

    blocks = [t._resolve(e["path"]) for e in keyindex.index_entries(m)]
    hashes = [r[0] for r in keys_df.select(F.xxhash64("k", "s")).collect()]
    dist = keyindex.lookup_hashes(blocks, hashes, spark=spark)
    drv = keyindex.lookup_hashes(blocks, hashes)  # no spark handle
    assert len(calls) == 2
    assert sorted(dist) == sorted(drv) and len(drv) == len(pool[::2])


def test_driver_leg_reads_only_touched_row_groups(spark, tmp_path, monkeypatch):
    """The driver probe reads exactly the row groups whose h min/max can
    hold a probe hash — never a whole index file because one of its row
    groups matched."""
    import random

    rng = random.Random(7)
    t, pool, files_of = _random_indexed_table(spark, tmp_path, monkeypatch, rng)
    m = t.manifest
    probe = rng.sample(pool, 3)
    keys_df = keyindex.local_keys(
        spark, m, spark.createDataFrame(probe, "k long, s string"), ["k", "s"]
    )
    hashes = sorted(r[0] for r in keys_df.select(F.xxhash64("k", "s")).collect())
    expect: dict[str, list[int]] = {}
    total_groups = 0
    for e in keyindex.index_entries(m):
        path = t._resolve(e["path"])
        md = pq.ParquetFile(path).metadata
        total_groups += md.num_row_groups
        hit = [
            rg
            for rg in range(md.num_row_groups)
            if any(
                md.row_group(rg).column(0).statistics.min
                <= h
                <= md.row_group(rg).column(0).statistics.max
                for h in hashes
            )
        ]
        if hit:
            expect[path] = hit
    reads: dict[str, list[int]] = {}

    class Recording(pq.ParquetFile):
        def __init__(self, source, *a, **kw):
            super().__init__(source, *a, **kw)
            self.source = source

        def read_row_groups(self, row_groups, *a, **kw):
            reads.setdefault(self.source, []).extend(row_groups)
            return super().read_row_groups(row_groups, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", Recording)
    matching, _ = keyindex.candidate_files(t, m, keys_df, ["k", "s"])
    assert set(matching) == set().union(*(files_of[k] for k in probe))
    assert reads == expect
    touched = sum(map(len, reads.values()))
    assert touched <= len(probe) * len(expect) < total_groups


def test_exported_blob_lookup_distributed_path_matches_driver(
    spark, tmp_path, monkeypatch
):
    """iceberg_index_lookup's two legs agree: the driver-side pyarrow
    path and the Spark broadcast-join path return the same files and
    positions, and the threshold picks the leg — below it (or with no
    spark handle) the driver path runs, at/above it the block scan goes
    through Spark."""
    from moonlink_spark.table.iceberg_export import (
        export_iceberg,
        iceberg_index_lookup,
    )

    t = _mk(spark, tmp_path)
    t.append_rows([{"id": i, "v": f"a{i}"} for i in range(1500)])
    t.commit(lsn=1)
    t.append_rows([{"id": i, "v": f"b{i}"} for i in range(1500, 3000)])
    t.commit(lsn=2)
    dest = str(tmp_path / "ice")
    export_iceberg(t, dest)

    keys = list(range(0, 3000, 2)) + [99_999]  # 1500 probes + one miss
    hashes = [
        r.h
        for r in spark.createDataFrame([(k,) for k in keys], "id: long")
        .select(F.xxhash64("id").alias("h"))
        .collect()
    ]

    calls = {"n": 0}
    real = keyindex._index_lookup_spark

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(keyindex, "_index_lookup_spark", counting)

    drv = iceberg_index_lookup(dest, hashes)  # no spark handle: driver leg
    assert calls["n"] == 0
    below = iceberg_index_lookup(
        dest, hashes, spark=spark, distributed_threshold=10_000
    )
    assert calls["n"] == 0  # under threshold: still the driver leg
    dist = iceberg_index_lookup(
        dest, hashes, spark=spark, distributed_threshold=512
    )
    assert calls["n"] == 1  # 1501 probes >= 512: Spark leg ran

    assert drv == below
    assert dist["files"] == drv["files"]
    assert sorted(dist["positions"]) == sorted(drv["positions"])
    assert len(drv["positions"]) == 1500  # every even key hit, miss absent


def test_index_entry_rows_are_per_file(spark, tmp_path):
    """Review r10: multi-file index builds stamped the BATCH total on
    every entry, inflating exported blob cardinality n_out-fold. Each
    entry must carry its own file's row count; they sum to the total."""
    import pyarrow.parquet as pq

    from moonlink_spark.table import keyindex as ki

    orig = ki.INDEX_FILE_ROWS
    ki.INDEX_FILE_ROWS = 500  # force several output files
    try:
        t = MoonlinkTable.create(
            spark,
            str(tmp_path / "t"),
            FIELDS,
            IdentityProp.single("id"),
            properties={"key_index": {"entries": []}},
        )
        t.append_rows([{"id": i, "v": f"v{i}"} for i in range(2000)])
        t.commit(lsn=1)
        entries = ki.index_entries(t.manifest)
        assert len(entries) >= 3
        assert sum(e["rows"] for e in entries) == 2000
        for e in entries:
            assert e["rows"] == pq.ParquetFile(
                t._resolve(e["path"])
            ).metadata.num_rows
            assert e["rows"] < 2000  # no entry claims the batch total
    finally:
        ki.INDEX_FILE_ROWS = orig


# --------------------------------------------------------------------- #
# driver point reads (resolve_positions) against the Spark semi-join leg
# --------------------------------------------------------------------- #

TYPED = [
    {"name": "id", "data_type": "int64", "nullable": False},
    {"name": "ts", "data_type": "timestamp", "nullable": False},
    {"name": "d", "data_type": "date", "nullable": False},
    {"name": "dec", "data_type": "decimal(12,2)", "nullable": False},
    {"name": "v_ts", "data_type": "timestamp"},
    {"name": "v_d", "data_type": "date"},
    {"name": "v_dec", "data_type": "decimal(10,3)"},
    {"name": "s", "data_type": "string"},
]
TYPED_KEYS = ["id", "ts", "d", "dec"]
TYPED_DDL = (
    "id long, ts timestamp, d date, dec decimal(12,2), v_ts timestamp, "
    "v_d date, v_dec decimal(10,3), s string"
)


def _typed_row(i, tag="a"):
    import datetime as dt
    from decimal import Decimal

    return {
        "id": i,
        "ts": dt.datetime(2024, 3, 10, 1, 30) + dt.timedelta(minutes=37 * i),
        "d": dt.date(2020, 2, 28) + dt.timedelta(days=i % 400),
        "dec": Decimal(i * 7) / 4,
        "v_ts": None if i % 5 == 0 else dt.datetime(1999, 12, 31, 23, 59, 59, i),
        "v_d": dt.date(1970, 1, 1) + dt.timedelta(days=i),
        "v_dec": Decimal(f"{i}.{i % 1000:03d}"),
        "s": f"{tag}{i}",
    }


def _key_of(row):
    return tuple(row[c] for c in TYPED_KEYS)


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _legs(t, keys_df, lsn=None, driver=True):
    """-> (scan_keys rows, Spark semi-join leg rows) for one key batch;
    ``driver`` asserts which leg scan_keys takes."""
    m = t._resolve_manifest(lsn)
    key_cols = list(IdentityProp.from_json(m.identity).columns)
    local = keyindex.local_keys(t.spark, m, keys_df, key_cols)
    took_driver = keyindex.resolve_positions(t, m, local, key_cols) is not None
    assert took_driver == driver
    return (
        _sorted_rows(t.scan_keys(keys_df, lsn=lsn)),
        _sorted_rows(t._scan_keys_spark(m, local, key_cols)),
    )


def _typed_table(spark, tmp_path):
    """A typed composite-key indexed table over four commits: a
    Spark-written file of many row groups (lsn 1), a driver-written file
    (lsn 2), a delete (lsn 3) and an update (lsn 4)."""
    t = MoonlinkTable.create(
        spark,
        str(tmp_path / "typed"),
        TYPED,
        IdentityProp.keys(TYPED_KEYS),
        key_index=True,
    )
    spark.conf.set("parquet.block.row.count.limit", "16")
    try:
        t.append_df(
            spark.createDataFrame(
                [tuple(_typed_row(i).values()) for i in range(200)], TYPED_DDL
            ).coalesce(1)
        )
        t.commit(lsn=1)
    finally:
        spark.conf.unset("parquet.block.row.count.limit")
    spark_file = t._resolve(t.manifest.data_files[0].path)
    assert pq.ParquetFile(spark_file).metadata.num_row_groups > 5
    t.append_rows([_typed_row(i) for i in range(200, 300)])
    t.commit(lsn=2)
    t.delete_rows([{c: _typed_row(i)[c] for c in TYPED_KEYS} for i in (3, 40, 250)])
    t.commit(lsn=3)
    t.upsert_rows([_typed_row(i, "new") for i in (17, 150, 260)])
    t.commit(lsn=4)
    return t


def test_driver_point_reads_match_spark_leg(spark, tmp_path):
    """Differential: scan_keys' driver path returns exactly the Spark
    semi-join leg's rows, on timestamp/date/decimal keys and values,
    across the row groups of a Spark-written file (pyarrow positions
    must equal ``_metadata.row_index``), with duplicate probes, a key
    deleted earlier (DV'd), updated keys (old row DV'd, new row in a
    newer file), a null key and ``lsn=`` reads before and after the
    delete — and scan_keys runs one job (the key-batch collect)."""
    t = _typed_table(spark, tmp_path)
    ids = [0, 3, 15, 16, 17, 33, 40, 150, 199, 200, 250, 260, 299, 1234]
    probe = [_key_of(_typed_row(i)) for i in ids]
    probe += probe[:4]  # duplicates
    probe += [(None,) + probe[5][1:]]  # a null key matches nothing
    keys_df = spark.createDataFrame(
        probe, "id long, ts timestamp, d date, dec decimal(12,2)"
    )
    expect = {
        1: {i for i in ids if i < 200},
        2: {i for i in ids if i < 300},
        3: {i for i in ids if i < 300} - {3, 40, 250},
        4: {i for i in ids if i < 300} - {3, 40, 250},
    }
    for lsn in (1, 2, 3, 4):
        driver, spark_leg = _legs(t, keys_df, lsn=lsn)
        assert driver == spark_leg
        assert sorted(r[0] for r in driver) == sorted(expect[lsn])
        tags = {r[0]: r[-1] for r in driver}
        for i in (17, 150, 260):
            if i in tags:
                assert tags[i] == (f"new{i}" if lsn == 4 else f"a{i}")
    brute = _sorted_rows(t.scan().join(keys_df.dropna(), TYPED_KEYS, "left_semi"))
    assert _legs(t, keys_df)[0] == brute


def test_driver_point_reads_cast_int_probes(spark, tmp_path):
    """Int probes against a bigint key are cast to the key type before
    hashing and before the key-equality check."""
    t = _mk(spark, tmp_path, "intprobe")
    t.append_rows([{"id": i, "v": f"a{i}"} for i in range(100)])
    t.commit(lsn=1)
    keys = spark.createDataFrame([(7,), (99,), (100,), (None,)], "id int")
    driver, spark_leg = _legs(t, keys)
    assert driver == spark_leg == [(7, "a7"), (99, "a99")]


def test_driver_point_reads_union_uncovered_files(spark, tmp_path, monkeypatch):
    """Files an optimize left without index entries are read by the Spark
    semi-join and unioned with the driver rows of the covered files."""
    t = _mk(spark, tmp_path, "uncov")
    for c in range(3):
        t.append_rows([{"id": 100 * c + i, "v": f"a{i}"} for i in range(100)])
        t.commit(lsn=c + 1)
    t.delete_rows([{"id": 42}])
    t.commit(lsn=4)
    # an optimize that drops the index entries without rebuilding them
    monkeypatch.setattr(
        MoonlinkTable, "_index_new_files", lambda self, base, props, files: props
    )
    optimize(t, mode="full")
    monkeypatch.undo()
    t.append_rows([{"id": i, "v": f"b{i}"} for i in range(300, 400)])
    t.commit(lsn=5)
    m = t.manifest
    entries, covered = keyindex.live_entries(m)
    assert len(entries) == 1 and len(covered) == 1 < len(m.data_files)
    keys = spark.createDataFrame([(k,) for k in (1, 42, 250, 301, 399, 500)], "id long")
    driver, spark_leg = _legs(t, keys)
    assert driver == spark_leg
    assert sorted(r[0] for r in driver) == [1, 250, 301, 399]


def test_forged_colliding_index_row_is_rejected(spark, tmp_path):
    """A hash collision (an index row whose hash is a probe's but whose
    position holds a different key) is dropped by the key-equality
    check: scan_keys returns only rows whose key was asked for."""
    import dataclasses

    import pyarrow as pa

    t = _mk(spark, tmp_path, "forged")
    t.append_rows([{"id": i, "v": f"a{i}"} for i in range(50)])
    t.commit(lsn=1)
    m = t.manifest
    h = spark.createDataFrame([(1000,)], "id long").select(F.xxhash64("id")).first()[0]
    forged = str(tmp_path / "forged" / "keyindex" / "forged.parquet")
    os.makedirs(os.path.dirname(forged), exist_ok=True)
    fp = m.data_files[0].path
    pq.write_table(
        pa.table(
            {"h": pa.array([h], pa.int64()), "__fp": [fp], "__ri": pa.array([5], pa.int64())}
        ),
        forged,
    )
    cfg = dict(m.properties[keyindex.KEY_INDEX_PROP])
    cfg["entries"] = cfg["entries"] + [
        {"path": os.path.relpath(forged, t.data_path), "covers": [fp], "rows": 1}
    ]
    m2 = dataclasses.replace(
        m, properties={**m.properties, keyindex.KEY_INDEX_PROP: cfg}
    )
    keys = keyindex.local_keys(
        spark, m2, spark.createDataFrame([(1000,), (7,)], "id long"), ["id"]
    )
    rows, uncovered = keyindex.resolve_positions(t, m2, keys, ["id"])
    assert uncovered == []
    assert rows.column("id").to_pylist() == [7]
    assert rows.column("__ri").to_pylist() == [7]
    # the forged hit was read (and rejected), not missed by the probe
    hits = keyindex.lookup_hashes([t._resolve(e["path"]) for e in cfg["entries"]], [h])
    assert hits == [(fp, 5)]


def test_large_key_batch_reads_through_the_spark_leg(spark, tmp_path):
    """At DISTRIBUTED_THRESHOLD distinct keys the read takes the Spark
    semi-join (the one threshold of probe and read) with the same rows."""
    t = _mk(spark, tmp_path, "big")
    t.append_rows([{"id": i, "v": f"a{i}"} for i in range(600)])
    t.commit(lsn=1)
    t.delete_rows([{"id": 10}])
    t.commit(lsn=2)
    n = keyindex.DISTRIBUTED_THRESHOLD
    keys = spark.createDataFrame([(k,) for k in range(n)], "id long")
    driver, spark_leg = _legs(t, keys, driver=False)
    assert driver == spark_leg
    assert sorted(r[0] for r in driver) == [k for k in range(n) if k != 10]
    small = spark.createDataFrame([(k,) for k in range(n - 1)], "id long")
    assert len(_legs(t, small)[0]) == n - 2
