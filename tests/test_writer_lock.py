"""Cross-process writer guard (Warehouse.write_lock): a second writer
fails fast instead of interleaving read-modify-write cycles; stale
locks from crashed writers are broken; the lock is re-entrant within
one Warehouse instance, so a caller holding it across a read-modify-
write can commit through overwrite_buckets. Readers take no lock: one
that lists while a bucket swap or a whole-table swap is between its two
renames waits for the swap to land instead of missing the bucket or the
table, and a reopen puts back what a writer that died there left."""

from __future__ import annotations

import os
import shutil
import time

import pytest

from svs_spark.sources.warehouse import WRITER_LOCK_SUFFIX, Warehouse


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def test_busy_lock_times_out_without_touching_table(spark, wh):
    wh.write("t", _df(spark, [(1, "a")]))
    lock = wh.table_path("t") + WRITER_LOCK_SUFFIX
    with open(lock, "w") as f:  # simulate a live concurrent writer
        f.write("pid=99999 t=now")
    try:
        with pytest.raises(TimeoutError, match="another writer"):
            with wh.write_lock("t", timeout_s=0.5):
                pass
        # table unchanged and readable
        assert wh.read("t").count() == 1
    finally:
        os.unlink(lock)


def test_stale_lock_is_broken_with_warning(spark, wh):
    wh.write("t", _df(spark, [(1, "a")]))
    lock = wh.table_path("t") + WRITER_LOCK_SUFFIX
    with open(lock, "w") as f:
        f.write("pid=99999 t=old")
    old = time.time() - 7200
    os.utime(lock, (old, old))
    with pytest.warns(UserWarning, match="stale writer lock"):
        wh.write("t", _df(spark, [(1, "a"), (2, "b")]))
    assert wh.read("t").count() == 2
    assert not os.path.exists(lock)  # released after the write


def _bucketed_wh(spark, root):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("id", LongType(), False),
                         StructField("v", StringType(), True)])
    return Warehouse(spark, root, schemas={"b": schema})


def test_lock_released_after_write_and_reentrant_merge(spark, tmp_path):
    wh = _bucketed_wh(spark, str(tmp_path / "wh"))
    wh.write_bucketed("b", _df(spark, [(1, "a"), (2, "b")]), "id", 4)
    lock = wh.table_path("b") + WRITER_LOCK_SUFFIX
    assert not os.path.exists(lock)
    # a read-modify-write holds the lock across both; the nested
    # overwrite_buckets acquire must not deadlock
    with wh.write_lock("b"):
        cur = wh.read_arrow("b", [2, 6])  # buckets 2 (ids 2, 6)
        assert cur.column("id").to_pylist() == [2]
        wh.overwrite_buckets(
            "b", [2], wh.arrow_table("b", [(2, "B"), (6, "f")])
        )
        assert os.path.exists(lock)
    got = {(r["id"], r["v"]) for r in wh.read("b").collect()}
    assert got == {(1, "a"), (2, "B"), (6, "f")}
    assert not os.path.exists(lock)


def _pause_between_renames(monkeypatch, entry="_pb="):
    """Make the next swap whose first rename moves an entry named like
    ``entry`` (a ``_pb=<k>`` bucket by default) to ``<entry>.old`` stop
    after that rename until ``go`` is set."""
    import threading

    paused, go = threading.Event(), threading.Event()
    rename = os.rename

    def hooked(src, dst, *a, **k):
        rename(src, dst, *a, **k)
        if dst.endswith(".old") and entry in os.path.basename(dst):
            paused.set()
            assert go.wait(30)

    monkeypatch.setattr(os, "rename", hooked)
    return paused, go


def _die_after_first_rename(monkeypatch):
    """Make the next swap raise right after its first rename, as a
    writer killed between the two renames leaves the table."""
    rename = os.rename

    def hooked(src, dst, *a, **k):
        rename(src, dst, *a, **k)
        if dst.endswith(".old"):
            raise RuntimeError("writer died between the renames")

    monkeypatch.setattr(os, "rename", hooked)


def test_reader_waits_for_a_bucket_swap_in_flight(spark, tmp_path, monkeypatch):
    """A second Warehouse that lists while a writer is paused between a
    bucket swap's two renames neither misses the bucket nor blocks for
    good: the driver read and the Spark read both return every row,
    once the swap lands."""
    import threading

    root = str(tmp_path / "wh")
    wh, other = _bucketed_wh(spark, root), _bucketed_wh(spark, root)
    rows = [(i, f"v{i}") for i in range(32)]
    wh.write_bucketed("b", wh.arrow_table("b", rows), "id", 4)
    post = [(i, f"new{i}") for i in range(32) if i % 4 == 1]
    paused, go = _pause_between_renames(monkeypatch)
    writer = threading.Thread(target=wh.overwrite_buckets,
                              args=("b", [1], wh.arrow_table("b", post)))
    writer.start()
    got: dict = {}
    try:
        assert paused.wait(30)
        assert "_pb=1" not in os.listdir(wh.table_path("b"))
        readers = [
            threading.Thread(target=lambda: got.update(
                arrow=other.read_arrow("b").num_rows)),
            threading.Thread(target=lambda: got.update(
                keyed=other.read_arrow("b", [5]).column("v").to_pylist())),
        ]
        for r in readers:
            r.start()
        time.sleep(0.3)
        assert got == {}  # both wait for the swap
        go.set()
        for r in readers:
            r.join(30)
    finally:
        go.set()
        writer.join(30)
        monkeypatch.undo()
    assert got["arrow"] == 32
    assert got["keyed"] == [f"new{i}" for i in range(1, 32, 4)]  # bucket 1
    assert other.read("b").count() == 32


def test_reader_waits_for_a_whole_table_swap_in_flight(
    spark, tmp_path, monkeypatch
):
    """A second KnowledgeBase that reads the keyval table while a keyval
    commit is paused between its whole-table swap's two renames (the
    table directory is gone) waits for the swap and reads the new
    value, instead of raising FileNotFoundError."""
    import threading

    from svs_spark.functions.embeddings import make_mock_embeddings_func
    from svs_spark.kb import KnowledgeBase

    path = str(tmp_path / "kb")
    kb = KnowledgeBase(spark, path, embedding_func=make_mock_embeddings_func(),
                       embedding_params={"provider": "mock"}, force_fresh_db=True)
    with kb.bulk_keyval_update() as kv:
        kv["a"] = 1
    other = KnowledgeBase(spark, path)
    got: dict = {}

    def set_a():
        with kb.bulk_keyval_update() as kv:
            kv["a"] = 2

    def read_a():
        with other.bulk_keyval_update() as kv:
            got["a"] = kv["a"]

    paused, go = _pause_between_renames(monkeypatch, "keyval")
    writer = threading.Thread(target=set_a)
    writer.start()
    try:
        assert paused.wait(30)
        assert not os.path.exists(kb.wh.table_path("keyval"))
        reader = threading.Thread(target=read_a)
        reader.start()
        time.sleep(0.3)
        assert got == {}  # waits for the swap
        go.set()
        reader.join(30)
    finally:
        go.set()
        writer.join(30)
        monkeypatch.undo()
    assert not writer.is_alive() and not reader.is_alive()
    assert got == {"a": 2}


def test_bucket_moved_after_the_listing_is_read_again(
    spark, tmp_path, monkeypatch
):
    """A swap that starts after the reader listed the table, but before
    it opened bucket 1, is read from the bucket the swap leaves."""
    import threading

    from svs_spark.sources import warehouse

    root = str(tmp_path / "wh")
    wh, other = _bucketed_wh(spark, root), _bucketed_wh(spark, root)
    wh.write_bucketed("b", wh.arrow_table("b", [(i, "old") for i in range(8)]),
                      "id", 4)
    paused, go = _pause_between_renames(monkeypatch)
    read_dir = warehouse._read_dir
    writers = []

    def swap_first(d, schema):
        if d.endswith("_pb=1") and not writers:
            writers.append(threading.Thread(
                target=wh.overwrite_buckets,
                args=("b", [1], wh.arrow_table("b", [(1, "new"), (5, "new")]))))
            writers[0].start()
            assert paused.wait(30)
            threading.Timer(0.2, go.set).start()
        return read_dir(d, schema)

    monkeypatch.setattr(warehouse, "_read_dir", swap_first)
    try:
        got = other.read_arrow("b")
    finally:
        go.set()
        for w in writers:
            w.join(30)
    assert len(writers) == 1
    assert sorted(zip(got.column("id").to_pylist(), got.column("v").to_pylist())
                  ) == [(i, "new" if i % 4 == 1 else "old") for i in range(8)]


def test_swap_that_never_lands_raises_naming_the_table(
    spark, tmp_path, monkeypatch
):
    """A writer that dies between a bucket swap's renames leaves
    ``_pb=1.old`` as the only copy of bucket 1: readers raise naming the
    table instead of missing it, and a reopen renames it back, so every
    row reads again and the next write to bucket 1 commits."""
    from svs_spark.sources import warehouse

    root = str(tmp_path / "wh")
    wh, other = _bucketed_wh(spark, root), _bucketed_wh(spark, root)
    wh.write_bucketed("b", wh.arrow_table("b", [(1, "a"), (2, "b")]), "id", 4)
    monkeypatch.setattr(warehouse, "SWAP_WAIT_S", 0.3)
    rename = os.rename
    _die_after_first_rename(monkeypatch)
    with pytest.raises(RuntimeError, match="writer died"):
        wh.overwrite_buckets("b", [1], wh.arrow_table("b", []))
    monkeypatch.setattr(os, "rename", rename)
    assert sorted(os.listdir(wh.table_path("b")))[:2] == ["_buckets.json", "_pb=1.old"]
    with pytest.raises(TimeoutError, match="table b"):
        other.read_arrow("b")
    with pytest.raises(TimeoutError, match="table b"):
        other.read("b")
    again = _bucketed_wh(spark, root)
    for w in (again, other):
        assert sorted(w.read_arrow("b").column("id").to_pylist()) == [1, 2]
    assert other.read("b").count() == 2
    again.overwrite_buckets("b", [1], again.arrow_table("b", [(1, "z"), (5, "y")]))
    got = other.read_arrow("b")
    assert sorted(zip(got.column("id").to_pylist(), got.column("v").to_pylist())
                  ) == [(1, "z"), (2, "b"), (5, "y")]


def test_reopen_repairs_a_whole_table_swap_cut_short(spark, tmp_path, monkeypatch):
    """A whole-table swap cut between its renames leaves ``b.old`` and no
    ``b``; a replaced version left beside its successor is deleted. A
    reopen restores the last committed version in both cases."""
    from svs_spark.sources import warehouse

    root = str(tmp_path / "wh")
    wh = _bucketed_wh(spark, root)
    wh.write_bucketed("b", wh.arrow_table("b", [(1, "a"), (2, "b")]), "id", 4)
    monkeypatch.setattr(warehouse, "SWAP_WAIT_S", 0.3)
    rename = os.rename
    _die_after_first_rename(monkeypatch)
    with pytest.raises(RuntimeError, match="writer died"):
        wh.write_bucketed("b", wh.arrow_table("b", [(3, "c")]), "id", 4)
    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(TimeoutError, match="table b"):
        wh.stamp("b")
    shutil.copytree(os.path.join(root, "b.old", "_pb=2"),
                    os.path.join(root, "b.old", "_pb=1.old"))  # a stale twin
    again = _bucketed_wh(spark, root)
    assert sorted(os.listdir(root)) == ["b", "b.staging"]
    assert "_pb=1.old" not in os.listdir(again.table_path("b"))
    assert sorted(again.read_arrow("b").column("id").to_pylist()) == [1, 2]
    again.write_bucketed("b", again.arrow_table("b", [(3, "c")]), "id", 4)
    assert wh.read_arrow("b").column("id").to_pylist() == [3]


_HOLDER_SCRIPT = """
import sys, time
from svs_spark.sources.warehouse import path_writer_lock
path, hold_s, stale_s, ready = sys.argv[1], float(sys.argv[2]), float(sys.argv[3]), sys.argv[4]
with path_writer_lock(path, timeout_s=5.0, stale_after_s=stale_s):
    with open(ready, "w") as f:
        f.write("ACQUIRED")
    time.sleep(hold_s)
"""


def _spawn_holder(path, hold_s, stale_s, ready):
    import subprocess
    import sys

    return subprocess.Popen(
        [sys.executable, "-c", _HOLDER_SCRIPT,
         path, str(hold_s), str(stale_s), str(ready)],
        cwd="/root/repo",
    )


def _wait_for(pred, timeout_s=20.0, msg="condition"):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if pred():
            return
        time.sleep(0.05)
    raise AssertionError(f"timed out waiting for {msg}")


def test_two_process_contention_then_stale_break_after_kill(tmp_path):
    """The cross-PROCESS interleave the lock exists to close: a second
    process times out against a live holder; after the holder is
    SIGKILLed (heartbeat dies with it) the lock goes stale and a new
    writer breaks it via the single-winner rename path."""
    import signal

    from svs_spark.sources.warehouse import path_writer_lock

    path = str(tmp_path / "table")
    ready = str(tmp_path / "ready")
    lock = path + WRITER_LOCK_SUFFIX
    holder = _spawn_holder(path, hold_s=60.0, stale_s=2.0, ready=ready)
    try:
        _wait_for(lambda: os.path.exists(ready), msg="holder acquire")
        # live contender -> fail fast, lock untouched
        with pytest.raises(TimeoutError, match="another writer"):
            with path_writer_lock(path, timeout_s=0.8, stale_after_s=2.0):
                pass
        assert os.path.exists(lock)
        # kill the holder mid-write: no release, no more heartbeats
        holder.send_signal(signal.SIGKILL)
        holder.wait(timeout=10)
        # once the last heartbeat ages past stale_after_s, a new writer
        # breaks the dead holder's lock and proceeds
        with pytest.warns(UserWarning, match="stale writer lock"):
            with path_writer_lock(path, timeout_s=10.0, stale_after_s=2.0):
                assert os.path.exists(lock)
        assert not os.path.exists(lock)
    finally:
        if holder.poll() is None:
            holder.kill()
            holder.wait(timeout=10)


def test_heartbeat_keeps_slow_writer_alive_past_stale_window(tmp_path):
    """A legitimately slow holder (hold time >> stale_after_s) must NOT
    be stale-broken: the heartbeat refreshes the lock mtime, so a
    contender sees a live lock and times out instead of breaking it."""
    from svs_spark.sources.warehouse import path_writer_lock

    path = str(tmp_path / "table")
    ready = str(tmp_path / "ready")
    lock = path + WRITER_LOCK_SUFFIX
    # holder keeps the lock for 6s with a 1s stale window (beat ~0.25s)
    holder = _spawn_holder(path, hold_s=6.0, stale_s=1.0, ready=ready)
    try:
        _wait_for(lambda: os.path.exists(ready), msg="holder acquire")
        time.sleep(2.0)  # well past stale_after_s of un-refreshed age
        with pytest.raises(TimeoutError, match="another writer"):
            with path_writer_lock(path, timeout_s=1.5, stale_after_s=1.0):
                pass
        assert os.path.exists(lock)  # never broken
        holder.wait(timeout=20)
        _wait_for(lambda: not os.path.exists(lock), msg="holder release")
    finally:
        if holder.poll() is None:
            holder.kill()
            holder.wait(timeout=10)


def test_break_restores_lock_when_rename_races_a_fresh_refresh(tmp_path):
    """_break_stale_lock must re-verify after the rename: capturing a
    lock whose mtime turns out fresh (a heartbeat raced the stat) is
    rolled back, not treated as a win."""
    from svs_spark.sources.warehouse import _break_stale_lock

    path = str(tmp_path / "table")
    lock = path + WRITER_LOCK_SUFFIX
    with open(lock, "w") as f:
        f.write("pid=1 t=now")
    # mtime is FRESH: the pre-rename stat is simulated stale, but the
    # post-rename verify sees a live lock -> no break, file restored
    assert _break_stale_lock(lock, stale_after_s=3600.0) is False
    assert os.path.exists(lock)
    with open(lock) as f:
        assert f.read() == "pid=1 t=now"


def test_lock_released_on_write_failure(spark, wh):
    class Boom(Exception):
        pass

    with pytest.raises(Boom):
        with wh.write_lock("t"):
            raise Boom()
    assert not os.path.exists(wh.table_path("t") + WRITER_LOCK_SUFFIX)
    wh.write("t", _df(spark, [(1, "a")]))  # lock is free again
    assert wh.read("t").count() == 1
