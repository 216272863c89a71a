"""Warehouse storage for a KnowledgeBase: one directory = one KB
(parity with "one SQLite file = one KB", reference ``src/svs/kb.py:66-113``),
holding one parquet table per svs table (docs, edges, keyval, _meta).

Commit model: a table directory holds immutable data files and one
``_manifest.json`` that names the live ones, with a version counter and
the table's bucketing: the lakehouse commit (Delta Lake, VLDB 2020).
Every commit, under the table's writer lock, writes its new files under
names never used before, then ``os.replace``s a new manifest over the
old one, and only then unlinks the files it replaced. That one rename
is the commit: a reader, or a writer killed at any point, sees all of a
commit or none of it, however many buckets it touches (svs's
single-transaction bulk writes, ``kb.py:794-829``). A whole-table write
also unlinks every data file its manifest does not list, which sweeps
the files of a writer that died before its rename.

Point-update scale path: the KnowledgeBase's ``docs`` and ``edges``
are *bucketed* from creation: their files lie in ``<table>/_pb=<k>/``
directories keyed by ``pmod(key, n_buckets)``, with the key and count in
the manifest. A point mutation (update one doc's meta/vector, delete a
handful of ids) then reads and replaces ONLY the touched buckets' files
(1/n of the table) instead of the whole table: the dependency-free
analogue of a lakehouse MERGE rewriting only the files that hold
matched rows. A bucketed table has a fixed schema, so even an empty one
(no data file to infer a schema from) reads back.

Driver/Spark split: ``write``, ``write_bucketed``, ``overwrite_buckets``
and ``append`` take either a Spark DataFrame or a ``pyarrow.Table``. A
DataFrame's files are written by a Spark job into a hidden staging
directory and renamed in; a Table's (one file per touched bucket) are
written from the driver by ``pyarrow.parquet``, with no job. Spark reads
get the manifest's file list. ``read_arrow`` is the matching driver
read, cast to the table's fixed schema: the listed files of the buckets
that can hold a set of keys, or every listed file, optionally projected
to the columns a predicate tests. Each ``Warehouse`` decodes a data
file once: listed files never change and no name is reused, so a decode
kept under the file's path stays valid while the manifest lists it, and
``map_files`` keeps what a caller derives from a file on the same entry
(``KnowledgeBase.retrieve``'s vectors). Every KnowledgeBase call that
takes Python values takes the Arrow pair; DataFrame inputs, compaction,
export and the SQL views stay on Spark.

A table directory of the earlier layout (no manifest; ``_buckets.json``
and bucket swaps through ``.old`` renames) is adopted once, at open.

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
import uuid
import warnings
from contextlib import contextmanager, suppress

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegerType, StructField, StructType

REMOTE_CACHE_DIR = ".remote_cache"
MANIFEST_FILE = "_manifest.json"
# the earlier layout's bucket key and count, read only to adopt a table
BUCKET_META_FILE = "_buckets.json"
WRITER_LOCK_SUFFIX = ".writer.lock"


class _Decoded:
    """One data file as read: its rows as a pyarrow Table in the table's
    fixed schema, and what :meth:`Warehouse.map_files` derived from
    them, by function."""

    __slots__ = ("table", "memo")

    def __init__(self, table: pa.Table):
        self.table, self.memo = table, {}


def _decode(path: str, schema: pa.Schema) -> _Decoded:
    """Data file ``path`` read by pyarrow with every column of
    ``schema``, cast to it. FileNotFoundError when a commit unlinked it."""
    with pq.ParquetFile(path) as pf:
        return _Decoded(pf.read(columns=schema.names).cast(schema))


def _part_file() -> str:
    """A new data-file name: unique, as Spark's writer makes its own, so
    no path ever names two contents and a decoded file is never served
    for a later one."""
    return f"part-00000-{uuid.uuid4().hex}.parquet"


def _is_bucket(d: str) -> bool:
    """Whether directory entry ``d`` is a ``_pb=<k>`` bucket."""
    return d.startswith("_pb=") and d[4:].isdigit()


def _is_data(f: str) -> bool:
    """Whether file ``f`` is a data file; ``_``/``.``-prefixed names are
    markers and checksums, as Spark skips them."""
    return f.endswith(".parquet") and not f.startswith(("_", "."))


def _settle_old(live: str) -> None:
    """The earlier layout's swap repair: rename ``<live>.old`` back to
    ``live`` when ``live`` is missing (its writer died between a swap's
    two renames), or delete it when ``live`` is there."""
    old = live + ".old"
    if os.path.exists(old):
        if os.path.exists(live):
            shutil.rmtree(old)
        else:
            os.rename(old, live)


def _write_files(d: str, data, bucketing: dict | None) -> dict:
    """Write ``data`` into table directory ``d`` under fresh names,
    straight into its ``_pb=<k>`` directories when ``bucketing`` is
    given (the bucket column lives in the directory name only, as
    Spark's ``partitionBy`` leaves it). Returns each new file's path
    relative to ``d``, mapped to the pyarrow Table written there, or to
    None for a file Spark wrote. A pyarrow Table is written from the
    driver, one file per directory; a DataFrame by one Spark job into a
    hidden ``.staging-<uuid>`` directory whose files are then renamed
    in."""
    if isinstance(data, pa.Table):
        parts = {"": data}
        if bucketing is not None:
            # numpy's mod takes the divisor's sign: pmod for negative ids too
            pb = np.mod(data.column(bucketing["key_col"]).to_numpy(),
                        bucketing["n_buckets"])
            parts = {f"_pb={b}": data.take(np.flatnonzero(pb == b))
                     for b in np.unique(pb).tolist()}
        written = {}
        for sub, rows in parts.items():
            os.makedirs(os.path.join(d, sub), exist_ok=True)
            rel = os.path.join(sub, _part_file())
            pq.write_table(rows, os.path.join(d, rel))
            written[rel] = rows
        return written
    staging = os.path.join(d, f".staging-{uuid.uuid4().hex}")
    try:
        if bucketing is None:
            data.write.parquet(staging)
        else:
            (
                data.withColumn("_pb", F.pmod(
                    F.col(bucketing["key_col"]), F.lit(bucketing["n_buckets"])
                ).cast("int"))
                .repartition(F.col("_pb"))
                .write.partitionBy("_pb")
                .parquet(staging)
            )
        written = {}
        for top, _dirs, files in os.walk(staging):
            sub = "" if top == staging else os.path.relpath(top, staging)
            for f in filter(_is_data, files):
                os.makedirs(os.path.join(d, sub), exist_ok=True)
                rel = os.path.join(sub, _part_file())
                os.rename(os.path.join(top, f), os.path.join(d, rel))
                written[rel] = None
        return written
    finally:
        shutil.rmtree(staging, ignore_errors=True)


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
    """Directory of parquet tables, each a set of immutable data files
    listed by its manifest and committed by one ``os.replace``.

    ``schemas`` maps a table name to its fixed schema: reads of those
    tables skip the parquet footer-inference job. Read handles are
    cached per table under its :meth:`stamp`, so a handle never outlives
    the version whose files it lists. Driver reads decode each data file
    once: the decoded files are cached by path (a listed file never
    changes, and no path is ever given to a second file, see
    :func:`_part_file`), a commit enters the pyarrow Tables it wrote,
    and a file leaves the cache when a manifest no longer lists it, so
    the cache holds at most the live files."""

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
        # name -> data-file path relative to the table -> _Decoded
        self._decoded: dict[str, dict[str, _Decoded]] = {}
        self._held_locks: set[str] = set()
        os.makedirs(root, exist_ok=True)
        self._adopt()

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
        is one ``os.replace`` of the manifest, so the table itself is
        never left mid-write."""
        with path_writer_lock(
            self.table_path(name), timeout_s, stale_after_s,
            held=self._held_locks,
        ):
            yield

    def _adopt(self) -> None:
        """Give each table directory of the earlier layout (no manifest)
        its manifest, under the table's writer lock: first that layout's
        swap repair (:func:`_settle_old` on the table and on each
        ``_pb=<k>`` bucket) and the removal of its staging directories,
        then a manifest listing the data files found, with the bucketing
        of its ``_buckets.json``. Runs when the warehouse is opened."""
        for d in sorted(os.listdir(self.root)):
            name = d[:-4] if d.endswith(".old") else d
            if (d.startswith(".") or name.endswith((".staging", "_staging"))
                    or not os.path.isdir(os.path.join(self.root, d))
                    or self.exists(name)):
                continue
            with self.write_lock(name):
                if self.exists(name):
                    continue
                path = self.table_path(name)
                _settle_old(path)
                for staging in (".staging", ".bucket_staging"):
                    shutil.rmtree(path + staging, ignore_errors=True)
                for b in os.listdir(path):
                    if b.endswith(".old") and _is_bucket(b[:-4]):
                        _settle_old(os.path.join(path, b[:-4]))
                bucketing, files = None, []
                for e in sorted(os.listdir(path)):
                    if e == BUCKET_META_FILE:
                        with open(os.path.join(path, e)) as f:
                            bucketing = json.load(f)
                    elif _is_bucket(e):
                        files += [f"{e}/{f}" for f in
                                  os.listdir(os.path.join(path, e)) if _is_data(f)]
                    elif _is_data(e):
                        files.append(e)
                self._publish(path, None, bucketing, files)

    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest(self, name: str) -> dict | None:
        """Table ``name``'s current manifest; None when there is no such
        table."""
        try:
            with open(os.path.join(self.table_path(name), MANIFEST_FILE)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _live(self, name: str) -> dict:
        """Table ``name``'s current manifest; FileNotFoundError when there
        is no such table."""
        m = self._manifest(name)
        if m is None:
            raise FileNotFoundError(f"no table {name} in {self.root}")
        return m

    def exists(self, name: str) -> bool:
        return self._manifest(name) is not None

    def stamp(self, name: str) -> tuple[str, int] | None:
        """Version stamp of table ``name``: the id its manifest got when
        the table was created and the manifest's version counter. Every
        commit replaces the manifest with the next version, so the stamp
        moves on each, and the id keeps a re-created table's versions
        apart from the old one's. None when the table does not exist."""
        m = self._manifest(name)
        return None if m is None else (m["id"], m["version"])

    @staticmethod
    def _publish(path: str, prev: dict | None, bucketing: dict | None,
                 files) -> tuple[str, int]:
        """Make the version of the table at ``path`` that lists ``files``
        (paths relative to ``path``) with ``bucketing`` current: write
        its manifest under a hidden temporary name and ``os.replace`` it
        over ``prev``, the manifest it follows (None for a new table).
        That rename is the commit. Returns the new stamp."""
        m = {
            "id": uuid.uuid4().hex if prev is None else prev["id"],
            "version": 1 if prev is None else prev["version"] + 1,
            "bucketing": bucketing,
            "files": sorted(files),
        }
        tmp = os.path.join(path, f".manifest-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, os.path.join(path, MANIFEST_FILE))
        return m["id"], m["version"]

    def _unlink(self, name: str, files) -> None:
        """Unlink ``files`` (paths relative to table ``name``) that no
        manifest lists any more, with their cache entries and the bucket
        directories they leave empty."""
        path = self.table_path(name)
        cache = self._decoded.get(name, {})
        for f in files:
            cache.pop(f, None)
            with suppress(FileNotFoundError):
                os.unlink(os.path.join(path, f))
        for sub in {os.path.dirname(f) for f in files} - {""}:
            with suppress(OSError):  # still holds a file
                os.rmdir(os.path.join(path, sub))

    def _cache(self, name: str, written: dict) -> None:
        """Enter the pyarrow Tables a commit wrote as the decoded files
        under their paths: the committing instance never reads back what
        it has just written."""
        if name not in self.schemas:
            return
        schema = self.arrow_schema(name)
        cache = self._decoded.setdefault(name, {})
        for rel, rows in written.items():
            if rows is not None:
                cache[rel] = _Decoded(rows.select(schema.names).cast(schema))

    def _replace(self, name: str, data, bucketing: dict | None):
        """Commit ``data`` as the whole of table ``name`` (the caller
        holds its writer lock), then unlink every other data file in the
        table directory: the replaced version's, and those of writers
        that died before their ``os.replace``. A new table is written
        into a hidden directory and renamed into place with its first
        manifest, so a table directory without a manifest is always one
        of the earlier layout."""
        path = self.table_path(name)
        prev = self._manifest(name)
        if prev is None:
            tmp = os.path.join(self.root, f".{name}-{uuid.uuid4().hex}")
            os.makedirs(tmp)
            try:
                written = _write_files(tmp, data, bucketing)
                stamp = self._publish(tmp, None, bucketing, written)
                os.rename(tmp, path)
            except BaseException:
                shutil.rmtree(tmp, ignore_errors=True)
                raise
        else:
            written = _write_files(path, data, bucketing)
            stamp = self._publish(path, prev, bucketing, written)
            stale = []
            for e in os.listdir(path):
                if _is_bucket(e):
                    stale += [f"{e}/{f}" for f in os.listdir(os.path.join(path, e))]
                elif os.path.isdir(os.path.join(path, e)):
                    shutil.rmtree(os.path.join(path, e))  # dead staging
                elif e != MANIFEST_FILE:
                    stale.append(e)
            self._decoded.pop(name, None)
            self._unlink(name, [f for f in stale if f not in written])
        self._cache(name, written)
        return stamp

    def _add(self, name: str, data, replaced: list[str]):
        """Commit the current version of table ``name`` with ``data``'s
        files added and the ``replaced`` ones taken out (the caller
        holds its writer lock), then unlink those."""
        path = self.table_path(name)
        m = self._live(name)
        written = _write_files(path, data, m["bucketing"])
        kept = set(m["files"]).difference(replaced)
        stamp = self._publish(path, m, m["bucketing"], [*kept, *written])
        self._unlink(name, replaced)
        self._cache(name, written)
        return stamp

    def _scan(self, name: str) -> tuple:
        """(stamp, scan with _pb, scan without _pb) of the current table
        version: Spark reads the files its manifest lists, and an empty
        table reads as an empty frame in the fixed schema."""
        m = self._live(name)
        stamp = (m["id"], m["version"])
        hit = self._handles.get(name)
        if hit is not None and hit[0] == stamp:
            return hit
        path = self.table_path(name)
        schema = self.schemas.get(name)
        if schema is not None and m["bucketing"] is not None:
            schema = StructType(
                schema.fields + [StructField("_pb", IntegerType())]
            )
        if m["files"]:
            reader = self.spark.read.option("basePath", path)
            if schema is not None:
                reader = reader.schema(schema)
            raw = reader.parquet(*(os.path.join(path, f) for f in m["files"]))
        else:
            raw = self.spark.createDataFrame([], schema or StructType())
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

    def _arrow_schema(self, name: str, columns) -> pa.Schema:
        schema = self.arrow_schema(name)
        if columns is None:
            return schema
        return pa.schema([schema.field(c) for c in columns])

    def _files(self, name: str, keys) -> list[_Decoded]:
        """The decoded data files that one version of table ``name``
        lists: those of the buckets that can hold ``keys`` (values of the
        bucket key), or every one when ``keys`` is None. The manifest is
        read once; files it no longer lists leave the cache, and a listed
        file not in it is decoded and entered. A file that a later commit
        unlinked before it was opened makes the read start again from the
        new manifest, keeping what it decoded meanwhile."""
        schema = self.arrow_schema(name)
        path = self.table_path(name)
        cache = self._decoded.setdefault(name, {})
        while True:
            m = self._live(name)
            for f in set(cache).difference(m["files"]):
                cache.pop(f, None)
            files = m["files"]
            if keys is not None and m["bucketing"] is not None:
                nb = m["bucketing"]["n_buckets"]
                want = {f"_pb={self.bucket_of(k, nb)}" for k in keys}
                files = [f for f in files if f.split("/")[0] in want]
            parts = []
            try:
                for f in files:
                    hit = cache.get(f)
                    if hit is None:
                        hit = cache[f] = _decode(os.path.join(path, f), schema)
                    parts.append(hit)
                return parts
            except FileNotFoundError:
                if self._manifest(name) == m:
                    raise  # a listed file is gone, and no commit took it

    def read_arrow(self, name: str, keys=None, columns=None) -> pa.Table:
        """The rows of table ``name``, read in the driver by pyarrow — no
        Spark job: the files of the buckets that can hold ``keys``
        (values of the bucket key), or of the whole table when ``keys``
        is None, all of one version. ``columns`` projects the read.
        Every file is cast to the table's fixed schema, so files written
        by Spark and by pyarrow read alike, and is decoded once (see
        :meth:`_files`). Callers that rewrite what they read hold the
        table's writer lock across both."""
        parts = [
            p.table if columns is None else p.table.select(columns)
            for p in self._files(name, keys)
        ]
        if parts:
            return pa.concat_tables(parts)
        return self._arrow_schema(name, columns).empty_table()

    def map_files(self, name: str, fn, keys=None):
        """Yield ``fn(rows)`` for each data file :meth:`read_arrow` reads
        (``rows`` in the table's fixed schema, every column), computed
        once per file and kept on its cached entry, so it lives exactly
        as long as the decoded file. ``fn`` must depend on ``rows``
        only, and callers must not change what it returns."""
        for part in self._files(name, keys):
            if fn not in part.memo:
                part.memo[fn] = fn(part.table)
            yield part.memo[fn]

    def clear_decoded(self) -> None:
        """Forget every decoded data file: the next read decodes again."""
        self._decoded.clear()

    # -- bucketed layout: point mutations touch 1/n of the table ----------

    def bucket_meta(self, name: str) -> dict | None:
        """The bucket key and count of table ``name``; None for a plain
        table or none."""
        m = self._manifest(name)
        return None if m is None else m["bucketing"]

    @staticmethod
    def bucket_of(key: int, n_buckets: int) -> int:
        """Python twin of the layout's pmod(key, n) — valid for negative
        (xxhash64) ids too."""
        return key % n_buckets if key >= 0 else (key % n_buckets + n_buckets) % n_buckets

    def write_bucketed(
        self, name: str, data, key_col: str, n_buckets: int
    ) -> tuple[str, int]:
        """Atomically (re)write ``name`` (a DataFrame or a pyarrow Table)
        with its files in ``_pb = pmod(key_col, n_buckets)`` buckets, so
        that later POINT mutations go through ``overwrite_buckets`` and
        touch only their own buckets' files. The table needs a fixed
        schema in ``schemas``: with no rows it has no data file to infer
        one from. Like every commit here, returns the table's stamp
        after the commit."""
        assert name in self.schemas, f"bucketed table {name} needs a schema"
        with self.write_lock(name):
            return self._replace(
                name, data, {"key_col": key_col, "n_buckets": n_buckets}
            )

    def read_buckets(self, name: str, buckets: list[int]) -> DataFrame:
        """Rows of the given buckets only — the ``_pb IN (...)`` filter
        is a partition filter, so the scan never opens other buckets'
        files."""
        raw = self._scan(name)[1]
        return raw.filter(F.col("_pb").isin(buckets)).drop("_pb")

    def overwrite_buckets(
        self, name: str, buckets: list[int], data
    ) -> tuple[str, int]:
        """Replace the given buckets' contents with ``data`` (a DataFrame
        or a pyarrow Table holding exactly those buckets' post-state,
        without ``_pb``): one commit takes out every file those buckets
        list and adds ``data``'s, so readers see all of the buckets
        change at once, and a failed write changes nothing. A bucket
        whose post-state has no rows is left with no file; a table with
        every bucket emptied stays bucketed and reads empty."""
        with self.write_lock(name):
            m = self._live(name)
            assert m["bucketing"] is not None, f"{name} is not bucketed"
            dirs = {f"_pb={b}" for b in buckets}
            return self._add(name, data, [
                f for f in m["files"] if f.split("/")[0] in dirs
            ])

    def append(self, name: str, data) -> tuple[str, int]:
        """Add the rows of ``data`` (a DataFrame or a pyarrow Table) to
        table ``name``: the commit lists the new files beside the current
        ones and replaces none."""
        with self.write_lock(name):
            return self._add(name, data, [])

    def write(self, name: str, data) -> tuple[str, int]:
        """Atomically replace table ``name`` with ``data`` (a DataFrame
        or a pyarrow Table). Nothing is seen of the new contents until
        the manifest is replaced, so a failed write leaves the current
        table as it was (rollback-on-exception parity, kb.py:804-821).
        """
        with self.write_lock(name):
            return self._replace(name, data, None)

    def drop_all(self) -> None:
        """force_fresh_db parity (kb.py:951-952): delete + recreate."""
        self.clear_decoded()
        if os.path.exists(self.root):
            shutil.rmtree(self.root)
        os.makedirs(self.root, exist_ok=True)

    def compact(self, name: str) -> None:
        """VACUUM-ish (kb.py:831-834): rewrite small-file debris away.
        Bucketed tables recompact to one file per bucket, keeping the
        point-update layout; plain tables coalesce to a single file."""
        with self.write_lock(name):
            m = self._manifest(name)
            if m is None:
                return
            if m["bucketing"] is not None:
                self.write_bucketed(name, self.read(name), **m["bucketing"])
            else:
                self.write(name, self.read(name).coalesce(1))

    def export_gzip(self, out_dir: str) -> None:
        """close(also_gzip=True) parity (kb.py:969-995): write a
        gzip-compressed parquet export of every table."""
        os.makedirs(out_dir, exist_ok=True)
        for name in sorted(os.listdir(self.root)):
            if not os.path.isdir(self.table_path(name)) or not self.exists(name):
                continue
            self.read(name).write.mode("overwrite").option(
                "compression", "gzip"
            ).parquet(os.path.join(out_dir, name))
