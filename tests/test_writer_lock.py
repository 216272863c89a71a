"""Cross-process writer guard (Warehouse.write_lock): a second writer
fails fast instead of interleaving read-modify-write cycles; stale
locks from crashed writers are broken; the lock is re-entrant within
one Warehouse instance, so a caller holding it across a read-modify-
write can commit through overwrite_buckets. Readers take no lock: a
commit is one ``os.replace`` of the table's manifest, so a reader sees
one version whole, before or after any commit, a writer killed at any
point leaves exactly one version, and a table of the earlier layout is
adopted at open."""

from __future__ import annotations

import os
import time

import pytest

from svs_spark.sources.warehouse import WRITER_LOCK_SUFFIX, Warehouse

# the checkout, where the writer subprocesses import svs_spark from
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
    assert {r["id"] for r in wh.read_buckets("b", [2]).collect()} == {2, 6}
    assert not os.path.exists(lock)


def _hook_renames(monkeypatch, before, after):
    """Call ``before(dst)`` and ``after(dst)`` around every ``os.rename``
    and ``os.replace`` this process makes: a commit's renames are where
    readers and crashes could catch it half done."""
    for fn in ("rename", "replace"):
        real = getattr(os, fn)

        def hooked(src, dst, *a, _real=real, **k):
            before(dst)
            _real(src, dst, *a, **k)
            after(dst)

        monkeypatch.setattr(os, fn, hooked)


@pytest.mark.parametrize("commit", ["arrow", "spark", "whole"])
def test_readers_see_one_version_around_a_commit(
    spark, tmp_path, monkeypatch, commit
):
    """A commit of 32 new rows into all 16 buckets of a 32-row table (a
    driver-side or a Spark bucket commit, or a whole-table rewrite),
    read by a second Warehouse just before and just after each rename
    the commit makes (with the manifest, its one ``os.replace``): the
    driver read, the keyed read and the Spark read each return exactly
    the old or the new version, never a mix."""
    root = str(tmp_path / "wh")
    wh, other = _bucketed_wh(spark, root), _bucketed_wh(spark, root)
    old = [(i, "old") for i in range(32)]
    new = [(i, "new" if i % 3 else "old") for i in range(64)]
    wh.write_bucketed("b", wh.arrow_table("b", old), "id", 16)
    versions = (set(old), set(new))
    seen = []

    def rows(t):
        return set(zip(t.column("id").to_pylist(), t.column("v").to_pylist()))

    def check(dst):
        seen.append(dst)
        for got in (rows(other.read_arrow("b")),
                    rows(other.read_arrow("b", range(64))),
                    {tuple(r) for r in other.read("b").collect()}):
            assert got in versions, (os.path.basename(dst), len(got))

    data = wh.arrow_table("b", new)
    if commit == "spark":
        data = spark.createDataFrame(new, "id long, v string")
    _hook_renames(monkeypatch, check, check)
    if commit == "whole":
        wh.write_bucketed("b", data, "id", 16)
    else:
        wh.overwrite_buckets("b", list(range(16)), data)
    monkeypatch.undo()
    assert seen
    assert rows(other.read_arrow("b")) == set(new)


_KILLED_WRITER = """
import os, sys, time
from svs_spark.sources.warehouse import Warehouse
from pyspark.sql.types import LongType, StringType, StructField, StructType

root, at, when, ready = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
schema = StructType([StructField("id", LongType(), False),
                     StructField("v", StringType(), True)])
wh = Warehouse(None, root, schemas={"b": schema})
calls = []

def stop(point):
    if point == when and len(calls) == at:
        open(ready, "w").close()
        time.sleep(600)

for fn in ("rename", "replace"):
    def hooked(src, dst, *a, _real=getattr(os, fn), **k):
        calls.append(dst)
        stop("before")
        _real(src, dst, *a, **k)
        stop("after")
    setattr(os, fn, hooked)
new = [(i, "new") for i in range(64)]
wh.overwrite_buckets("b", list(range(16)), wh.arrow_table("b", new))
"""


@pytest.mark.parametrize("at,when", [(1, "before"), (1, "after"), (4, "after")])
def test_killed_writer_leaves_one_version(spark, tmp_path, at, when):
    """A writer process SIGKILLed just before or just after the
    ``at``-th rename of a 16-bucket commit (with the manifest, its one
    ``os.replace``; a commit that makes fewer renames finishes) leaves
    exactly one version: the next open reads all 32 old rows or all 64
    new ones. The files it wrote or replaced and no manifest lists are
    swept by the next whole-table write."""
    import signal
    import subprocess
    import sys
    import warnings

    root = str(tmp_path / "wh")
    wh = _bucketed_wh(spark, root)
    old = [(i, "old") for i in range(32)]
    wh.write_bucketed("b", wh.arrow_table("b", old), "id", 16)
    ready = str(tmp_path / "ready")
    writer = subprocess.Popen(
        [sys.executable, "-c", _KILLED_WRITER, root, str(at), when, ready],
        cwd=_REPO,
    )
    try:
        _wait_for(lambda: os.path.exists(ready) or writer.poll() is not None,
                  timeout_s=60, msg="the writer to reach its kill point")
        writer.send_signal(signal.SIGKILL)
        writer.wait(timeout=10)
    finally:
        if writer.poll() is None:
            writer.kill()
    again = _bucketed_wh(spark, root)
    got = again.read_arrow("b")
    rows = set(zip(got.column("id").to_pylist(), got.column("v").to_pylist()))
    assert rows in (set(old), {(i, "new") for i in range(64)}), len(rows)
    assert {tuple(r) for r in again.read("b").collect()} == rows
    # the killed writer's lock goes stale once its heartbeat has stopped
    with warnings.catch_warnings(record=True):
        with again.write_lock("b", stale_after_s=1.0):
            again.write_bucketed("b", again.arrow_table("b", sorted(rows)), "id", 16)
    files = [os.path.relpath(os.path.join(d, f), root)
             for d, _sub, fs in os.walk(root) for f in fs if f.endswith(".parquet")]
    assert len(files) == 16 and all(f.startswith("b/_pb=") for f in files), files


def test_file_unlinked_after_the_manifest_was_read_is_read_again(
    spark, tmp_path, monkeypatch
):
    """A commit that replaces bucket 1 after a reader read the manifest,
    but before it opened bucket 1's file, makes the reader start again
    from the new manifest: it returns the new version whole."""
    from svs_spark.sources import warehouse

    root = str(tmp_path / "wh")
    wh, other = _bucketed_wh(spark, root), _bucketed_wh(spark, root)
    wh.write_bucketed("b", wh.arrow_table("b", [(i, "old") for i in range(8)]),
                      "id", 4)
    decode, commits = warehouse._decode, []

    def commit_first(path, *args):
        if "_pb=1" in path and not commits:
            commits.append(wh.overwrite_buckets(
                "b", [1], wh.arrow_table("b", [(1, "new"), (5, "new")])))
        return decode(path, *args)

    monkeypatch.setattr(warehouse, "_decode", commit_first)
    got = other.read_arrow("b")
    assert len(commits) == 1
    assert sorted(zip(got.column("id").to_pylist(), got.column("v").to_pylist())
                  ) == [(i, "new" if i % 4 == 1 else "old") for i in range(8)]


def test_open_adopts_a_table_of_the_earlier_layout(spark, tmp_path):
    """A bucketed table in the earlier layout (``_buckets.json``,
    ``_pb=<k>/part-00000.parquet`` files, and the ``.old`` bucket a
    writer that died between a swap's renames left) gets a manifest at
    open: the stranded ``_pb=2.old`` is renamed back, a stale ``.old``
    beside its live bucket goes, the manifest lists every data file,
    and the table reads and commits as any other."""
    import json

    import pyarrow.parquet as pq

    root = str(tmp_path / "wh")
    path = os.path.join(root, "b")
    wh = _bucketed_wh(spark, str(tmp_path / "scratch"))
    for d, ids in (("_pb=0", [0, 4]), ("_pb=1", [1, 5]), ("_pb=2.old", [2, 6]),
                   ("_pb=3", [3]), ("_pb=3.old", [7])):
        os.makedirs(os.path.join(path, d))
        pq.write_table(wh.arrow_table("b", [(i, d) for i in ids]),
                       os.path.join(path, d, "part-00000.parquet"))
    with open(os.path.join(path, "_buckets.json"), "w") as f:
        json.dump({"key_col": "id", "n_buckets": 4}, f)

    adopted = _bucketed_wh(spark, root)
    with open(os.path.join(path, "_manifest.json")) as f:
        assert json.load(f)["files"] == [
            f"_pb={k}/part-00000.parquet" for k in range(4)]
    assert not any(d.endswith(".old") for d in os.listdir(path))
    want = {(0, "_pb=0"), (4, "_pb=0"), (1, "_pb=1"), (5, "_pb=1"),
            (2, "_pb=2.old"), (6, "_pb=2.old"), (3, "_pb=3")}
    got = adopted.read_arrow("b")
    assert set(zip(got.column("id").to_pylist(), got.column("v").to_pylist())) == want
    assert {tuple(r) for r in adopted.read("b").collect()} == want
    assert adopted.bucket_meta("b") == {"key_col": "id", "n_buckets": 4}
    adopted.overwrite_buckets("b", [2], adopted.arrow_table("b", [(2, "z")]))
    assert sorted(_bucketed_wh(spark, root).read_arrow("b", [2, 6])
                  .column("v").to_pylist()) == ["z"]


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
        cwd=_REPO,
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


def test_one_heartbeat_thread_refreshes_every_held_lock(tmp_path):
    """The process refreshes every lock it holds from one heartbeat
    thread, each at its own beat, and stops touching a lock when it is
    released or holds another holder's token: acquire and release start
    and join no thread."""
    import threading

    from svs_spark.sources.warehouse import path_writer_lock

    def beats():
        return [t for t in threading.enumerate()
                if t.name.startswith("writer-lock-heartbeat")]

    def mtime(p):
        return os.stat(p + WRITER_LOCK_SUFFIX).st_mtime_ns

    fast, slow, taken = (str(tmp_path / t) for t in ("fast", "slow", "taken"))
    with path_writer_lock(fast, stale_after_s=0.2):  # beats every 0.05 s
        with path_writer_lock(slow, stale_after_s=3600.0):  # every 10 s
            with path_writer_lock(taken, stale_after_s=0.2):
                with open(taken + WRITER_LOCK_SUFFIX, "wb") as f:
                    f.write(b"pid=0 someone else")  # displaced
                os.utime(taken + WRITER_LOCK_SUFFIX, ns=(0, 0))
                assert len(beats()) == 1
                before = {p: mtime(p) for p in (fast, slow)}
                time.sleep(0.5)
                assert mtime(fast) > before[fast]
                assert mtime(slow) == before[slow]
                assert mtime(taken) == 0  # never touched on another's behalf
            os.unlink(taken + WRITER_LOCK_SUFFIX)  # left to its holder
        assert not os.path.exists(slow + WRITER_LOCK_SUFFIX)
    assert not os.path.exists(fast + WRITER_LOCK_SUFFIX)
    assert len(beats()) == 1  # not joined: it waits for the next lock


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
