"""Failure injection (parity: reference failure_tests.rs + chaos FS layers):
commit races, torn manifests, orphan files, reader stability across commits."""

import json
import os
import threading

import pytest

from moonlink_spark.errors import CommitConflictError
from moonlink_spark.table.identity import IdentityProp
from moonlink_spark.table.manifest import Manifest, ManifestStore
from moonlink_spark.table.table import MoonlinkTable

USERS = [
    {"name": "id", "data_type": "int32", "nullable": False},
    {"name": "name", "data_type": "string"},
]


def test_concurrent_commit_single_winner(tmp_path):
    """Two writers racing to the same version: exactly one wins, the loser
    gets CommitConflictError and no torn state is visible."""
    store = ManifestStore(str(tmp_path / "t"))
    store.commit(Manifest(0, 0, USERS, {"mode": "none", "columns": []}))
    results = []

    def committer(tag):
        m = Manifest(1, 10, USERS, {"mode": "none", "columns": []}, operation=tag)
        try:
            store.commit(m)
            results.append(("ok", tag))
        except CommitConflictError:
            results.append(("conflict", tag))

    threads = [threading.Thread(target=committer, args=(f"w{i}",)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(r[0] for r in results) == ["conflict", "conflict", "conflict", "ok"]
    assert store.latest().version == 1


def test_stale_version_commit_rejected(tmp_path):
    store = ManifestStore(str(tmp_path / "t"))
    store.commit(Manifest(0, 0, USERS, {"mode": "none", "columns": []}))
    store.commit(Manifest(1, 5, USERS, {"mode": "none", "columns": []}))
    with pytest.raises(CommitConflictError):
        store.commit(Manifest(1, 9, USERS, {"mode": "none", "columns": []}))


def test_torn_manifest_never_visible(tmp_path):
    """A leftover .tmp file (crash mid-write) is ignored by readers."""
    store = ManifestStore(str(tmp_path / "t"))
    store.commit(Manifest(0, 0, USERS, {"mode": "none", "columns": []}))
    junk = os.path.join(store.manifest_dir, "v000000000001.json.tmp.999")
    with open(junk, "w") as fh:
        fh.write('{"version": 1, "lsn":')  # torn JSON
    assert store.versions() == [0]
    assert store.latest().version == 0


def test_manifest_publish_fsyncs_the_directory_after_the_link(
    tmp_path, monkeypatch
):
    """A local commit writes one temporary file (write and fsync, no
    inner temp and rename), hard-links it to ``v{N}.json``, unlinks it
    and then fsyncs the directory, so the version survives a crash just
    after ``commit`` returns."""
    import builtins

    from moonlink_spark.table import fs as fs_mod

    store = ManifestStore(str(tmp_path / "t"))
    store.commit(Manifest(0, 0, USERS, {"mode": "none", "columns": []}))
    events: list[tuple] = []
    dir_fds: dict[int, str] = {}
    real = {
        n: getattr(os, n)
        for n in ("open", "fsync", "link", "unlink", "replace", "rename")
    }
    real_open = builtins.open

    def rec_open(path, *a, **k):
        fh = real_open(path, *a, **k)
        if any(m in str(a[:1]) + str(k.get("mode", "")) for m in "wax"):
            events.append(("create", os.path.basename(path)))
        return fh

    def rec_os_open(path, flags, *a, **k):
        fd = real["open"](path, flags, *a, **k)
        if os.path.isdir(path):
            dir_fds[fd] = path
        return fd

    def rec_fsync(fd):
        events.append(("fsync-dir",) if fd in dir_fds else ("fsync-file",))
        return real["fsync"](fd)

    monkeypatch.setattr(builtins, "open", rec_open)
    monkeypatch.setattr(fs_mod.os, "open", rec_os_open)
    monkeypatch.setattr(fs_mod.os, "fsync", rec_fsync)
    for name in ("link", "unlink", "replace", "rename"):
        monkeypatch.setattr(
            fs_mod.os, name,
            lambda *a, _n=name: events.append((_n,)) or real[_n](*a),
        )
    store.commit(Manifest(1, 5, USERS, {"mode": "none", "columns": []}))
    kinds = [e[0] for e in events]
    assert kinds == ["create", "fsync-file", "link", "unlink", "fsync-dir"], events
    assert events[0][1].startswith("v000000000001.json.tmp.")
    monkeypatch.undo()
    assert sorted(os.listdir(store.manifest_dir)) == [
        "v000000000000.json", "v000000000001.json"
    ]
    assert store.latest().lsn == 5


def test_orphan_data_files_ignored_and_vacuumable(spark, tmp_path):
    """Files written but never committed (crash before manifest publish) are
    invisible to scans and removed by vacuum."""
    t = MoonlinkTable.create(
        spark, str(tmp_path / "t"), USERS, IdentityProp.single("id")
    )
    t.append_rows([{"id": 1, "name": "a"}])
    t.commit(lsn=1)
    # simulate a crashed flush: orphan parquet in data/
    orphan = os.path.join(t.path, "data", "buf-orphan.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"PAR1 not really parquet")
    assert t.scan().count() == 1  # scan reads manifest file list only
    from moonlink_spark.table.maintenance import vacuum

    removed = vacuum(t, keep_versions=10)
    assert removed >= 1
    assert not os.path.exists(orphan)
    assert t.scan().count() == 1


def test_reader_stable_across_concurrent_commits(spark, tmp_path):
    """A DataFrame scanned at a version keeps reading that version's files
    even while new commits land (immutability of data files)."""
    t = MoonlinkTable.create(
        spark, str(tmp_path / "t"), USERS, IdentityProp.single("id")
    )
    t.append_rows([{"id": i, "name": f"n{i}"} for i in range(10)])
    t.commit(lsn=1)
    df_v1 = t.scan()  # lazy plan pinned to v1's file list
    for i in range(3):
        t.upsert_rows([{"id": 1, "name": f"mut{i}"}])
        t.commit(lsn=2 + i)
    assert df_v1.filter("id = 1").collect()[0]["name"] == "n1"
    assert t.scan().filter("id = 1").collect()[0]["name"] == "mut2"


def test_recovery_reopen_after_crash(spark, tmp_path):
    """Reopening a table (fresh process semantics) sees exactly the committed
    state; pending ops die with the process (WAL parity lives in the
    streaming checkpoint, test_streaming.py)."""
    path = str(tmp_path / "t")
    t = MoonlinkTable.create(spark, path, USERS, IdentityProp.single("id"))
    t.append_rows([{"id": 1, "name": "a"}])
    t.commit(lsn=1)
    t.append_rows([{"id": 2, "name": "b"}])  # never committed: "crash" here
    t2 = MoonlinkTable.open(spark, path)
    assert t2.scan().count() == 1
    assert t2.last_lsn == 1


def test_async_ingest_survives_crash(spark, tmp_path):
    """Async-acked REST requests are WAL-journaled before the ack: killing
    the process after the ack but before /flush must not lose rows
    (parity: WAL-before-ack, table_handler.rs:851-853)."""
    from moonlink_spark.ingest.rest import RestSink

    path = str(tmp_path / "wal_t")
    t = MoonlinkTable.create(
        spark,
        path,
        [
            {"name": "id", "data_type": "int32", "nullable": False},
            {"name": "v", "data_type": "string"},
        ],
        IdentityProp.single("id"),
    )
    sink = RestSink(t)
    r = sink.ingest("insert", {"id": 1, "v": "sync"}, "sync")
    assert r.committed
    sink.ingest("insert", {"id": 2, "v": "async-a"}, "async")
    sink.ingest("upsert", {"id": 2, "v": "async-b"}, "async")
    sink.ingest("insert", {"id": 3, "v": "async-c"}, "async")
    # crash: drop the sink AND the table object (pending ops lived only in
    # memory); reopen everything from disk
    del sink
    t2 = MoonlinkTable.open(spark, path)
    assert t2.scan().count() == 1  # only the sync row is committed
    sink2 = RestSink(t2)
    v = sink2.flush()
    assert v is not None
    got = {r["id"]: r["v"] for r in t2.scan().collect()}
    assert got == {1: "sync", 2: "async-b", 3: "async-c"}


def test_async_journal_replay_is_idempotent(spark, tmp_path):
    """A crash after the flush commit but before journal truncation must
    not double-apply entries: replay skips row_lsns at or below the
    table's last committed LSN."""
    import shutil

    from moonlink_spark.ingest.rest import RestSink

    path = str(tmp_path / "wal_t2")
    t = MoonlinkTable.create(
        spark,
        path,
        [{"name": "id", "data_type": "int32", "nullable": False}],
        IdentityProp.none(),
        append_only=True,
    )
    sink = RestSink(t)
    sink.ingest("insert", {"id": 1}, "async")
    sink.ingest("insert", {"id": 2}, "async")
    wal = os.path.join(path, "_wal", "rest.jsonl")
    saved = open(wal).read()
    assert sink.flush() is not None
    assert not os.path.exists(wal)  # truncated after commit
    # simulate torn truncate: journal resurrects after the commit
    os.makedirs(os.path.dirname(wal), exist_ok=True)
    with open(wal, "w") as fh:
        fh.write(saved)
    t2 = MoonlinkTable.open(spark, path)
    sink2 = RestSink(t2)
    assert not t2.has_pending()  # replay skipped everything
    assert sink2.flush() is None
    assert t2.scan().count() == 2  # no duplicates


def test_torn_wal_tail_is_dropped_mid_file_corruption_fatal(spark, tmp_path):
    """A crash mid-append leaves a torn FINAL journal line; that request
    was never acked, so replay drops it. Corruption anywhere else is a
    real integrity failure and stays fatal (review finding r9)."""
    import json as _json

    import pytest as _pytest

    from moonlink_spark.ingest.rest import RestSink

    path = str(tmp_path / "wal_torn")
    t = MoonlinkTable.create(
        spark,
        path,
        [{"name": "id", "data_type": "int32", "nullable": False}],
        IdentityProp.none(),
        append_only=True,
    )
    sink = RestSink(t)
    sink.ingest("insert", {"id": 1}, "async")
    sink.ingest("insert", {"id": 2}, "async")
    wal = os.path.join(path, "_wal", "rest.jsonl")
    with open(wal, "a") as fh:
        fh.write('{"operation": "insert", "data": {"id"')  # torn tail
    t2 = MoonlinkTable.open(spark, path)
    sink2 = RestSink(t2)  # must not raise
    assert sink2.flush() is not None
    assert t2.scan().count() == 2  # both acked rows, torn one dropped

    # mid-file corruption is NOT a crash artifact: fail loud
    with open(wal, "w") as fh:
        fh.write("GARBAGE\n")
        fh.write(_json.dumps({"operation": "insert", "data": {"id": 9},
                              "row_lsn": 99}) + "\n")
    with _pytest.raises(_json.JSONDecodeError):
        RestSink(MoonlinkTable.open(spark, path))
