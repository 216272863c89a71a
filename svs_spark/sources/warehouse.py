"""Warehouse storage for a KnowledgeBase: one directory = one KB
(parity with "one SQLite file = one KB", reference ``src/svs/kb.py:66-113``),
holding one parquet table per svs table (docs, edges, keyval, _meta).

Mutation model: read-modify-write with an atomic directory swap —
parquet is immutable, so each committed mutation writes a fresh table
directory and renames it into place (the moral equivalent of svs's
single-transaction bulk writes, ``kb.py:794-829``).

Point-update scale path: the KnowledgeBase's ``docs`` and ``edges``
are *bucketed* from creation — laid out as ``<table>/_pb=<k>/``
partitions keyed by ``pmod(key, n_buckets)``, with the key and count
in ``_buckets.json``. A point mutation (update one doc's meta/vector,
delete a handful of ids) then reads and rewrites ONLY the touched
buckets — 1/n of the table — instead of a full table rewrite: the
dependency-free analogue of a lakehouse MERGE rewriting only the files
that hold matched rows. A bucketed table has a fixed schema, so even
an empty one (no data file to infer a schema from) reads back.

Driver/Spark commit split: ``write``, ``write_bucketed`` and
``overwrite_buckets`` take either a Spark DataFrame or a
``pyarrow.Table``. A DataFrame's staging files are written by a Spark
job; a Table's (one file per touched bucket) are written from the
driver by ``pyarrow.parquet`` — no job. Both go through the same
writer lock, staging-directory rename swap and returned stamp, and
both produce the layout Spark reads back. ``read_arrow`` (and
``arrow_files``, the same read one bucket directory at a time) is the
matching driver read, cast to the table's fixed schema: the bucket
files that can hold a set of keys, or every ``_pb=<k>`` bucket when no
keys are given, optionally projected to the columns a predicate tests.
A swap renames the table directory (or a ``_pb=<k>`` bucket) to
``.old`` before renaming its new contents in; readers that do not hold
the writer lock wait for such a swap to land rather than miss the
table or bucket (``_listing``), and the first writer-lock acquire (or
an open) after a writer that died between the renames puts the last
committed version back (``_repair``). Every
KnowledgeBase call that takes Python values takes the Arrow pair;
DataFrame inputs, compaction, export and the SQL views stay on Spark.

Remote open parity (``src/svs/util.py:97-187``): ``http(s)://`` KBs are
downloaded once into a local cache keyed by URL sha256; ``file://`` and
plain paths are used directly. ``.gz`` single-file exports are
decompressed transparently.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import shutil
import time
import urllib.request
import warnings
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegerType, StructField, StructType

REMOTE_CACHE_DIR = ".remote_cache"
BUCKET_META_FILE = "_buckets.json"
# how long a reader waits for a bucket swap it caught mid-way to land
SWAP_WAIT_S = 5.0
WRITER_LOCK_SUFFIX = ".writer.lock"
# the one data file a driver-side (pyarrow) write puts in each directory
ARROW_PART_FILE = "part-00000.parquet"


def _read_dir(d: str, schema: pa.Schema) -> list[pa.Table]:
    """The parquet data files directly in directory ``d``, each read by
    pyarrow and cast to ``schema``; files are skipped the way Spark
    skips them (``_``/``.``-prefixed names are markers and checksums).
    FileNotFoundError when ``d`` moved away."""
    parts = []
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet") and not f.startswith(("_", ".")):
            with pq.ParquetFile(os.path.join(d, f)) as pf:
                parts.append(pf.read(columns=schema.names).cast(schema))
    return parts

def _is_bucket(d: str) -> bool:
    """Whether directory entry ``d`` is a live ``_pb=<k>`` bucket."""
    return d.startswith("_pb=") and d[4:].isdigit()


def _holds_old(path: str) -> bool:
    """Whether directory ``path`` holds an ``.old`` entry (False for a
    file, or a directory a swap moved away since it was listed)."""
    try:
        return any(e.endswith(".old") for e in os.listdir(path))
    except OSError:
        return False


def _settle_old(live: str) -> None:
    """Rename ``<live>.old`` back to ``live`` when ``live`` is missing,
    or delete it when ``live`` is there (see ``Warehouse._repair``)."""
    old = live + ".old"
    if os.path.exists(old):
        if os.path.exists(live):
            shutil.rmtree(old)
        else:
            os.rename(old, live)


def _stage(staging: str, data, key_col: str | None = None,
           n_buckets: int = 0) -> None:
    """Write ``data`` into the fresh directory ``staging``, partitioned
    as ``_pb=pmod(key_col, n_buckets)`` when ``key_col`` is given. A
    DataFrame is written by one Spark job; a pyarrow Table from the
    driver, one file per directory — per bucket when partitioned. The
    partition column lives in the directory name only, as Spark's
    ``partitionBy`` leaves it."""
    if os.path.exists(staging):
        shutil.rmtree(staging)
    if isinstance(data, pa.Table):
        os.makedirs(staging)
        if key_col is None:
            pq.write_table(data, os.path.join(staging, ARROW_PART_FILE))
            return
        # numpy's mod takes the divisor's sign: pmod for negative ids too
        pb = np.mod(data.column(key_col).to_numpy(), n_buckets)
        for b in np.unique(pb).tolist():
            part = os.path.join(staging, f"_pb={b}")
            os.makedirs(part)
            pq.write_table(
                data.take(np.flatnonzero(pb == b)),
                os.path.join(part, ARROW_PART_FILE),
            )
        return
    if key_col is None:
        data.write.mode("overwrite").parquet(staging)
        return
    (
        data.withColumn(
            "_pb", F.pmod(F.col(key_col), F.lit(n_buckets)).cast("int")
        )
        .repartition(F.col("_pb"))
        .write.mode("overwrite")
        .partitionBy("_pb")
        .parquet(staging)
    )


def _start_lock_heartbeat(lp: str, token: bytes, stale_after_s: float):
    """Daemon thread refreshing the lock file mtime so a legitimately
    slow holder (a multi-hour rollup overwrite at scale) is never
    stale-broken while still writing: staleness now means "no live
    holder process", not "write took longer than stale_after_s". The
    beat verifies the file still holds OUR token before touching, so a
    broken-and-reacquired lock is never refreshed on someone else's
    behalf. Returns (stop_event, thread)."""
    import threading

    stop = threading.Event()
    beat_s = min(max(stale_after_s / 4.0, 0.05), 10.0)

    def run():
        while not stop.wait(beat_s):
            try:
                with open(lp, "rb") as f:
                    if f.read(len(token)) != token:
                        return  # displaced — stop beating, never touch
                os.utime(lp)
            except OSError:
                return  # released or broken — nothing to refresh

    t = threading.Thread(
        target=run, name=f"writer-lock-heartbeat:{lp}", daemon=True
    )
    t.start()
    return stop, t


def _break_stale_lock(lp: str, stale_after_s: float) -> bool:
    """Break an apparently-stale lock via atomic rename-to-tombstone so
    exactly ONE contender wins (the check-then-unlink race let two
    contenders both judge stale, one unlink the other's fresh
    re-acquisition, and both proceed). After the rename we re-verify
    the captured file's mtime: if a heartbeat raced us and the lock is
    actually fresh, restore it (hard-link back if the slot is still
    empty) and report no break. Returns True iff the lock was broken."""
    tomb = f"{lp}.tomb.{os.getpid()}.{time.monotonic_ns()}"
    try:
        os.rename(lp, tomb)
    except OSError:
        return False  # another contender won, or holder released
    try:
        age = time.time() - os.path.getmtime(tomb)
    except OSError:
        return True
    if age <= stale_after_s:
        # raced with a live holder's refresh — give the lock back
        try:
            os.link(tomb, lp)
        except OSError:
            pass  # slot re-taken; the displaced holder's beat will stop
        try:
            os.unlink(tomb)
        except OSError:
            pass
        return False
    warnings.warn(
        f"broke stale writer lock (age {age:.0f}s > "
        f"{stale_after_s:.0f}s, holder stopped heartbeating): {lp}"
    )
    try:
        os.unlink(tomb)
    except OSError:
        pass
    return True


@contextmanager
def path_writer_lock(
    path: str,
    timeout_s: float = 60.0,
    stale_after_s: float = 3600.0,
    held: set[str] | None = None,
):
    """Advisory writer lock on an arbitrary table/rollup PATH — the
    core behind :meth:`Warehouse.write_lock`, exposed standalone for
    writers that manage raw parquet paths (the persisted sketch
    rollups). O_CREAT|O_EXCL lock file (atomic on POSIX;
    put-if-absent is the object-store analogue), heartbeat-refreshed
    mtime while held (so "stale" means dead holder, not slow write),
    single-winner stale break via atomic rename, TimeoutError on a
    live contender. ``held`` enables re-entrancy for a caller-owned
    set of held paths."""
    if held is not None and path in held:
        yield
        return
    lp = path.rstrip("/") + WRITER_LOCK_SUFFIX
    os.makedirs(os.path.dirname(lp) or ".", exist_ok=True)
    token = f"pid={os.getpid()} t={time.time()} n={time.monotonic_ns()}".encode()
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            fd = os.open(lp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, token)
            os.close(fd)
            break
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lp)
            except OSError:
                continue  # holder released between attempts
            if age > stale_after_s and _break_stale_lock(lp, stale_after_s):
                continue
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"another writer holds the lock {lp} "
                    f"(age {age:.0f}s); not corrupting the table — "
                    f"retry or remove the lock if the holder is dead"
                )
            time.sleep(0.2)
    stop, beat = _start_lock_heartbeat(lp, token, stale_after_s)
    if held is not None:
        held.add(path)
    try:
        yield
    finally:
        stop.set()
        beat.join(timeout=1.0)
        if held is not None:
            held.discard(path)
        try:
            # only release OUR lock — if it was stale-broken and
            # re-acquired by another process, leave theirs in place
            with open(lp, "rb") as f:
                mine = f.read(len(token)) == token
            if mine:
                os.unlink(lp)
        except OSError:
            pass


def resolve_location(path_or_url: str, cache_root: str = ".") -> str:
    """Resolve a KB location to a local directory path.

    - plain path / file:// → the path itself
    - http(s):// → download (once) into .remote_cache/<sha256>/
      (reference: URL-sha256 cache, util.py:97-136)
    """
    if path_or_url.startswith("file://"):
        return path_or_url[len("file://"):]
    if path_or_url.startswith(("http://", "https://")):
        key = hashlib.sha256(path_or_url.encode()).hexdigest()
        cache_dir = os.path.join(cache_root, REMOTE_CACHE_DIR, key)
        if not os.path.exists(cache_dir):
            os.makedirs(cache_dir, exist_ok=True)
            fname = os.path.join(cache_dir, os.path.basename(path_or_url))
            urllib.request.urlretrieve(path_or_url, fname)  # noqa: S310
            if fname.endswith(".gz"):
                with gzip.open(fname, "rb") as fin:
                    with open(fname[:-3], "wb") as fout:
                        shutil.copyfileobj(fin, fout)
        return cache_dir
    return path_or_url


class Warehouse:
    """Directory of parquet tables with atomic-swap rewrites.

    ``schemas`` maps a table name to its fixed schema: reads of those
    tables skip the parquet footer-inference job. Read handles are
    cached per table under its :meth:`stamp`, so a handle never outlives
    the table version whose files it lists."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schemas: dict[str, StructType] | None = None,
    ):
        self.spark = spark
        self.root = root
        self.schemas = schemas or {}
        # name -> (stamp, scan with _pb, scan without _pb)
        self._handles: dict[str, tuple] = {}
        self._held_locks: set[str] = set()
        os.makedirs(root, exist_ok=True)
        self.recover()

    # -- cross-process writer guard ---------------------------------------

    @contextmanager
    def write_lock(
        self,
        name: str,
        timeout_s: float = 60.0,
        stale_after_s: float = 3600.0,
    ):
        """Advisory per-table writer lock: a second PROCESS attempting
        to mutate the same table fails fast (TimeoutError) instead of
        interleaving read-modify-write cycles. The rollup/bucket
        protocols' single-writer assumption (_rollup_common.py) becomes
        an enforced invariant rather than a convention.

        Mechanics: O_CREAT|O_EXCL lock file next to the table — atomic
        on POSIX; on object stores the same role is played by a
        put-if-absent, which is the upgrade path when this directory
        layout moves off a filesystem. Re-entrant within one Warehouse
        instance (a caller holds the lock across its read-modify-write
        and the inner overwrite_buckets acquire is then a no-op).
        While held, a heartbeat thread refreshes the lock mtime, so a
        lock older than ``stale_after_s`` means the holder PROCESS is
        dead (crashed writer), not merely slow — a multi-hour rollup
        overwrite keeps its lock alive. Dead-holder locks are broken
        with a warning via single-winner atomic rename
        (:func:`_break_stale_lock`); safe because every commit below
        is staging+atomic-rename, so the table itself is never left
        mid-write. A writer that died between a swap's two renames is
        finished by the first acquire after it (:meth:`_repair`)."""
        first = self.table_path(name) not in self._held_locks
        with path_writer_lock(
            self.table_path(name), timeout_s, stale_after_s,
            held=self._held_locks,
        ):
            if first:
                self._repair(name)
            yield

    def _repair(self, name: str) -> None:
        """Finish what a writer that died between a swap's two renames
        left of table ``name``; the caller holds its writer lock, so no
        swap is in flight. An ``X.old`` (the table's directory, or a
        ``_pb=<k>`` bucket in it) without its live twin ``X`` is the
        only copy of the last committed version: rename it back. One
        beside its twin is a version already replaced: delete it."""
        path = self.table_path(name)
        _settle_old(path)
        if os.path.isdir(path):
            for d in os.listdir(path):
                if d.endswith(".old") and _is_bucket(d[:-4]):
                    _settle_old(os.path.join(path, d[:-4]))

    def recover(self) -> None:
        """Repair every table a dead writer left between a swap's two
        renames (:meth:`_repair`, run by the first acquire of a writer
        lock), locking only a table where a listing shows an ``.old``:
        runs when the warehouse is opened, so its readers find every
        row again."""
        for d in os.listdir(self.root):
            name = d[:-4] if d.endswith(".old") else d
            if name != d or _holds_old(os.path.join(self.root, d)):
                with self.write_lock(name):
                    pass

    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return self.stamp(name) is not None

    def stamp(self, name: str) -> tuple[int, int] | None:
        """Version stamp of table ``name``: the ``(inode, mtime_ns)`` of
        its directory. A whole-table swap gives a new directory and a
        bucket swap renames entries inside it; either way every commit
        below ends in :meth:`_advance`, which sets the mtime past the
        stamp the commit replaced, so the stamp moves even when two
        driver-side commits land within one tick of the file clock.
        None when the table does not exist."""
        try:
            st = os.stat(self.table_path(name))
        except OSError:
            self._await_table(name)
            try:
                st = os.stat(self.table_path(name))
            except OSError:
                return None
        return st.st_ino, st.st_mtime_ns

    def _advance(self, name: str, before: tuple | None) -> tuple[int, int]:
        """End a commit of ``name``: set its directory mtime to one
        nanosecond past both its current mtime and the replaced
        version's, and return the new stamp. Commits are serialized by
        the writer lock, so successive versions get strictly increasing
        mtimes and no version's stamp equals an earlier one's."""
        path = self.table_path(name)
        st = os.stat(path)
        floor = before[1] if before is not None else 0
        os.utime(path, ns=(st.st_atime_ns, max(st.st_mtime_ns, floor) + 1))
        return self.stamp(name)

    def _swap(self, name: str, staging: str) -> tuple[int, int]:
        """Rename the staged directory into place of table ``name``."""
        path = self.table_path(name)
        old = path + ".old"
        before = self.stamp(name)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(staging, path)
        if os.path.exists(old):
            shutil.rmtree(old)
        return self._advance(name, before)

    def _scan(self, name: str) -> tuple:
        """(stamp, scan with _pb, scan without _pb) of the current table
        version. The stamp is taken before the listing, so a commit that
        races the read leaves a handle whose stamp is already stale."""
        stamp = self.stamp(name)
        hit = self._handles.get(name)
        if hit is not None and hit[0] == stamp:
            return hit
        reader = self.spark.read
        schema = self.schemas.get(name)
        if schema is not None:
            if self.bucket_meta(name) is not None:
                self._live_buckets(name)  # Spark lists after any swap lands
                schema = StructType(
                    schema.fields + [StructField("_pb", IntegerType())]
                )
            reader = reader.schema(schema)
        raw = reader.parquet(self.table_path(name))
        view = raw.drop("_pb") if "_pb" in raw.columns else raw
        self._handles[name] = (stamp, raw, view)
        return self._handles[name]

    def read(self, name: str) -> DataFrame:
        return self._scan(name)[2]

    def arrow_schema(self, name: str) -> pa.Schema:
        """Table ``name``'s fixed schema as an Arrow schema."""
        return to_arrow_schema(self.schemas[name])

    def arrow_table(self, name: str, rows: list[tuple]) -> pa.Table:
        """``rows`` (tuples in column order) as a pyarrow Table in table
        ``name``'s fixed schema, ready for a driver-side commit."""
        schema = self.arrow_schema(name)
        cols = list(zip(*rows)) or [()] * len(schema)
        return pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        )

    def _listing(self, name: str, parent: str, swapped) -> list[str]:
        """``os.listdir(parent)`` once no swap in it is caught between
        its two renames. A swap renames an entry ``X`` to ``X.old``
        before renaming the new ``X`` in (``_swap`` a whole table in the
        root, ``overwrite_buckets`` a ``_pb=<k>`` bucket in its table),
        so a listing that holds ``X.old`` without ``X``, for an ``X``
        that ``swapped`` selects, would miss ``X``: list again until the
        swap lands, for at most ``SWAP_WAIT_S``, then raise TimeoutError
        naming the table (its writer died between the renames; the next
        writer or open repairs it, see :meth:`_repair`)."""
        deadline = time.monotonic() + SWAP_WAIT_S
        while True:
            names = os.listdir(parent)
            present = set(names)
            gone = [
                d[:-4] for d in names
                if d.endswith(".old") and swapped(d[:-4])
                and d[:-4] not in present
            ]
            if not gone:
                return names
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"table {name}: a swap left {parent} without "
                    f"{gone[0]} for {SWAP_WAIT_S:.0f}s"
                )
            time.sleep(0.01)

    def _await_table(self, name: str) -> None:
        """Wait for a whole-table swap of ``name`` caught between its
        two renames to land (:meth:`_listing` of the root)."""
        self._listing(name, self.root, lambda d: d == name)

    def _live_buckets(self, name: str) -> list[str]:
        """Names of bucketed table ``name``'s ``_pb=<k>`` directories,
        once no bucket swap (or swap of the whole table) is caught
        between its two renames (:meth:`_listing`)."""
        path = self.table_path(name)
        try:
            names = self._listing(name, path, _is_bucket)
        except FileNotFoundError:
            self._await_table(name)
            names = self._listing(name, path, _is_bucket)
        return sorted(d for d in names if _is_bucket(d))

    def _arrow_dirs(self, name: str, keys) -> list[str]:
        """Directories whose files can hold ``keys`` (values of the
        bucket key); every bucket directory when ``keys`` is None. A
        plain table is its one directory."""
        path = self.table_path(name)
        meta = self.bucket_meta(name)
        if meta is None:
            return [path]
        live = self._live_buckets(name)
        if keys is not None:
            nb = meta["n_buckets"]
            want = {f"_pb={self.bucket_of(k, nb)}" for k in keys}
            live = [d for d in live if d in want]
        return [os.path.join(path, d) for d in live]

    def _arrow_schema(self, name: str, columns) -> pa.Schema:
        schema = self.arrow_schema(name)
        if columns is None:
            return schema
        return pa.schema([schema.field(c) for c in columns])

    def arrow_files(self, name: str, keys=None, columns=None):
        """Yield the rows of table ``name`` one data file at a time, read
        in the driver by pyarrow — no Spark job: the files of the
        buckets that can hold ``keys`` (values of the bucket key), or of
        the whole table when ``keys`` is None. ``columns`` projects the
        read. Every file is cast to the table's fixed schema, so files
        written by Spark and by pyarrow read alike. A bucket is read
        whole before its files are yielded: one that a swap moves away
        after the listing is read again from where the swap leaves it.
        Callers that rewrite what they read hold the table's writer
        lock across both."""
        schema = self._arrow_schema(name, columns)
        for d in self._arrow_dirs(name, keys):
            try:
                parts = _read_dir(d, schema)
            except FileNotFoundError:
                if d == self.table_path(name):  # a plain table swapped whole
                    self._await_table(name)
                    parts = _read_dir(d, schema)
                elif os.path.basename(d) in self._live_buckets(name):
                    parts = _read_dir(d, schema)
                else:
                    parts = []  # the swap emptied the bucket
            yield from parts

    def read_arrow(self, name: str, keys=None, columns=None) -> pa.Table:
        """:meth:`arrow_files` as one Table: the bucket files that can
        hold ``keys``, or the whole table when ``keys`` is None."""
        parts = list(self.arrow_files(name, keys, columns))
        if parts:
            return pa.concat_tables(parts)
        return self._arrow_schema(name, columns).empty_table()

    # -- bucketed layout: point mutations touch 1/n of the table ----------

    def bucket_meta(self, name: str) -> dict | None:
        """The bucket key and count of table ``name``; None for a plain
        table or none. A whole-table swap caught between its renames is
        waited out, not taken for a missing table."""
        path = self.table_path(name)
        while True:
            try:
                with open(os.path.join(path, BUCKET_META_FILE)) as f:
                    return json.load(f)
            except FileNotFoundError:
                if os.path.isdir(path) or self.stamp(name) is None:
                    return None

    @staticmethod
    def bucket_of(key: int, n_buckets: int) -> int:
        """Python twin of the layout's pmod(key, n) — valid for negative
        (xxhash64) ids too."""
        return key % n_buckets if key >= 0 else (key % n_buckets + n_buckets) % n_buckets

    def write_bucketed(
        self, name: str, data, key_col: str, n_buckets: int
    ) -> tuple[int, int]:
        """Atomically (re)write ``name`` (a DataFrame or a pyarrow Table)
        partitioned by ``_pb = pmod(key_col, n_buckets)``.  Bulk rewrites
        stay atomic via the same staging+swap as ``write``; the payoff is
        that subsequent POINT mutations go through ``overwrite_buckets``
        and touch only their own partitions. The table needs a fixed
        schema in ``schemas``: with no rows it has no data file to infer
        one from. Like every commit here, returns the table's stamp read
        under the writer lock after the swap."""
        assert name in self.schemas, f"bucketed table {name} needs a schema"
        with self.write_lock(name):
            staging = self.table_path(name) + ".staging"
            _stage(staging, data, key_col, n_buckets)
            with open(os.path.join(staging, BUCKET_META_FILE), "w") as f:
                json.dump({"key_col": key_col, "n_buckets": n_buckets}, f)
            return self._swap(name, staging)

    def read_buckets(self, name: str, buckets: list[int]) -> DataFrame:
        """Rows of the given buckets only — the ``_pb IN (...)`` filter
        is a partition filter, so the scan never opens other buckets'
        files."""
        raw = self._scan(name)[1]
        return raw.filter(F.col("_pb").isin(buckets)).drop("_pb")

    def overwrite_buckets(
        self, name: str, buckets: list[int], data
    ) -> tuple[int, int]:
        """Replace the given buckets' contents with ``data`` (a DataFrame
        or a pyarrow Table holding exactly those buckets' post-state,
        without ``_pb``).  Each bucket stages fully before an atomic
        per-partition dir swap, so a failed write never corrupts the
        table — the touched-files-only behavior of a lakehouse MERGE,
        minus cross-bucket transaction isolation (documented tradeoff).
        A bucket whose post-state has no rows is removed; a table with
        every bucket removed stays bucketed and reads empty."""
        with self.write_lock(name):
            meta = self.bucket_meta(name)
            assert meta is not None, f"{name} is not bucketed"
            path = self.table_path(name)
            staging = path + ".bucket_staging"
            before = self.stamp(name)
            _stage(staging, data, meta["key_col"], meta["n_buckets"])
            for pb in buckets:
                part = os.path.join(path, f"_pb={pb}")
                newpart = os.path.join(staging, f"_pb={pb}")
                oldpart = part + ".old"
                if os.path.exists(oldpart):
                    shutil.rmtree(oldpart)
                if os.path.exists(part):
                    os.rename(part, oldpart)
                if os.path.exists(newpart):
                    os.rename(newpart, part)
                if os.path.exists(oldpart):
                    shutil.rmtree(oldpart)
            shutil.rmtree(staging)
            return self._advance(name, before)

    def write(self, name: str, data) -> tuple[int, int]:
        """Atomically replace table ``name`` with ``data`` (a DataFrame
        or a pyarrow Table).

        The new contents are fully materialized to <name>.staging before
        the swap, so a failed write never corrupts the current table
        (rollback-on-exception parity, kb.py:804-821).
        """
        with self.write_lock(name):
            staging = self.table_path(name) + ".staging"
            _stage(staging, data)
            return self._swap(name, staging)

    def drop_all(self) -> None:
        """force_fresh_db parity (kb.py:951-952): delete + recreate."""
        if os.path.exists(self.root):
            shutil.rmtree(self.root)
        os.makedirs(self.root, exist_ok=True)

    def compact(self, name: str) -> None:
        """VACUUM-ish (kb.py:831-834): rewrite small-file debris away.
        Bucketed tables recompact to one file per bucket, keeping the
        point-update layout; plain tables coalesce to a single file."""
        if not self.exists(name):
            return
        meta = self.bucket_meta(name)
        if meta is not None:
            self.write_bucketed(
                name, self.read(name), meta["key_col"], meta["n_buckets"]
            )
        else:
            self.write(name, self.read(name).coalesce(1))

    def export_gzip(self, out_dir: str) -> None:
        """close(also_gzip=True) parity (kb.py:969-995): write a
        gzip-compressed parquet export of every table."""
        os.makedirs(out_dir, exist_ok=True)
        for name in sorted(os.listdir(self.root)):
            src = self.table_path(name)
            if not os.path.isdir(src):
                continue
            self.read(name).write.mode("overwrite").option(
                "compression", "gzip"
            ).parquet(os.path.join(out_dir, name))
