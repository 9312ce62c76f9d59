"""Crash-safety of the shared index segment store: readers resolve
through the meta's live-segment list, so no crash window can expose
duplicate rows."""

import os

from pyspark.sql import functions as F

from moonlink_spark.table import segments as segstore


def _meta(dest):
    return {"segments": None}


def _on_disk(dest):
    return [n for n in os.listdir(dest) if n.startswith("seg-")]


def test_reader_ignores_unpublished_segments(spark, tmp_path):
    dest = str(tmp_path / "idx")
    os.makedirs(dest)
    a = segstore.write_single_parquet(
        spark.range(0, 10).select(F.col("id")), dest, "seg"
    )
    # segment written but no meta lists it yet (a crashed writer): a
    # meta-resolved reader must not see it
    meta = {"segments": []}
    assert segstore.live_segment_paths(dest, meta, "seg") == []
    meta["segments"] = [a]
    assert segstore.read_segments(spark, dest, meta, "seg").count() == 10


def test_crash_between_merge_and_publish_is_invisible(spark, tmp_path):
    """Simulate compaction crashing AFTER writing the merged segment but
    BEFORE publishing the meta: readers still see exactly the old live
    set — never merged + originals together."""
    dest = str(tmp_path / "idx")
    os.makedirs(dest)
    a = segstore.write_single_parquet(spark.range(0, 10), dest, "seg")
    b = segstore.write_single_parquet(spark.range(10, 30), dest, "seg")
    meta = {"segments": [a, b]}

    class Boom(RuntimeError):
        pass

    def crashing_publish(m):
        raise Boom()

    try:
        segstore.compact_segments(spark, dest, dict(meta), "seg", crashing_publish)
        raise AssertionError("publish should have crashed")
    except Boom:
        pass
    # merged straggler exists on disk but the durable meta still lists
    # only [a, b]: the reader sees exactly 30 rows, no duplicates
    on_disk = _on_disk(dest)
    assert len(on_disk) == 3
    assert segstore.read_segments(spark, dest, meta, "seg").count() == 30


def test_crash_between_publish_and_unlink_is_consistent(spark, tmp_path):
    """Simulate a crash AFTER the meta publish but BEFORE the old files
    unlink: the published meta lists only the merged segment, so readers
    see the compacted content exactly once; stragglers are inert."""
    dest = str(tmp_path / "idx")
    os.makedirs(dest)
    a = segstore.write_single_parquet(spark.range(0, 10), dest, "seg")
    b = segstore.write_single_parquet(spark.range(10, 30), dest, "seg")
    published = {}

    class Boom(RuntimeError):
        pass

    def publish_then_crash(m):
        published.update(m)
        raise Boom()  # crash before compact_segments reaches the unlinks

    meta = {"segments": [a, b]}
    try:
        segstore.compact_segments(spark, dest, meta, "seg", publish_then_crash)
        raise AssertionError("unreachable")
    except Boom:
        pass
    # the durable state is the published meta: one merged segment
    assert len(published["segments"]) == 1
    df = segstore.read_segments(spark, dest, published, "seg")
    assert df.count() == 30
    assert df.select("id").distinct().count() == 30  # no duplicate rows
    # originals still on disk (never unlinked) — invisible to readers
    assert len(_on_disk(dest)) == 3


def test_concurrent_update_survives_compaction(spark, tmp_path):
    """A segment published by a concurrent updater between compaction's
    meta read and its commit publish must survive in the final list (the
    lost-update window): compact re-reads via ``read_meta`` at the commit
    point and unions the newcomers."""
    import json

    dest = str(tmp_path / "idx")
    os.makedirs(dest)
    meta_path = os.path.join(dest, "meta.json")
    a = segstore.write_single_parquet(spark.range(0, 10), dest, "seg")
    b = segstore.write_single_parquet(spark.range(10, 30), dest, "seg")

    def write_meta(m):
        with open(meta_path, "w") as fh:
            json.dump(m, fh)

    def read_meta():
        with open(meta_path) as fh:
            return json.load(fh)

    write_meta({"segments": [a, b], "generation": 1})
    compact_view = read_meta()  # compaction's initial read

    # concurrent updater lands a third segment + bumps generation AFTER
    # compaction read the meta
    c = segstore.write_single_parquet(spark.range(30, 35), dest, "seg")
    write_meta({"segments": [a, b, c], "generation": 2})

    replaced = segstore.compact_segments(
        spark, dest, compact_view, "seg", write_meta, read_meta=read_meta
    )
    assert replaced == 2
    final = read_meta()
    # merged(a+b) + the concurrent c — nothing lost
    assert c in final["segments"] and len(final["segments"]) == 2
    assert final["generation"] == 2  # the updater's bump survives too
    df = segstore.read_segments(spark, dest, final, "seg")
    assert df.count() == 35
    assert df.select("id").distinct().count() == 35


def test_write_lock_excludes_and_dies_with_its_holder(tmp_path):
    """index_write_lock is an flock: concurrent holders never overlap,
    and a holder killed mid-hold (no release code runs) frees the lock
    at once, so there is no stale lock to steal."""
    import signal
    import subprocess
    import sys
    import threading
    import time

    import pytest

    from moonlink_spark.table.segments import index_write_lock

    dest = str(tmp_path / "ix")
    inside = []
    overlap = []
    barrier = threading.Barrier(4)

    def contend(i):
        barrier.wait()
        with index_write_lock(dest, timeout_s=30.0):
            inside.append(i)
            if len(inside) - len(overlap) > 1:
                overlap.append(i)  # someone else is inside too
            time.sleep(0.05)
            overlap.append(i)

    threads = [threading.Thread(target=contend, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert len(inside) == 4  # everyone eventually acquired
    # no overlapping critical sections: each enter is matched by its own
    # exit before the next enter (overlap got exactly one entry per thread)
    assert len(overlap) == 4

    # a child process takes the lock and is SIGKILLed while holding it
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import sys, time\n"
            "from moonlink_spark.table.segments import index_write_lock\n"
            "with index_write_lock(sys.argv[1]):\n"
            "    print('locked', flush=True)\n"
            "    time.sleep(600)\n",
            dest,
        ],
        cwd=repo,
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "locked"
        with pytest.raises(TimeoutError):
            with index_write_lock(dest, timeout_s=0.2):
                pass
    finally:
        child.send_signal(signal.SIGKILL)
        child.wait()
        child.stdout.close()
    with index_write_lock(dest, timeout_s=0):  # free at once
        pass
    assert os.path.exists(os.path.join(dest, ".write-lock"))
