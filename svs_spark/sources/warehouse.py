"""Warehouse storage for a KnowledgeBase: one directory = one KB
(parity with "one SQLite file = one KB", reference ``src/svs/kb.py:66-113``),
holding one parquet table per svs table (docs, edges, keyval, _meta).

Mutation model: read-modify-write with an atomic directory swap —
parquet is immutable, so each committed mutation writes a fresh table
directory and renames it into place (the moral equivalent of svs's
single-transaction bulk writes, ``kb.py:794-829``).

Point-update scale path: a table may be *bucketed* — laid out as
``<table>/_pb=<k>/`` partitions keyed by ``pmod(key, n_buckets)``. A
point mutation (update one doc's meta/vector, delete a handful of ids)
then reads and rewrites ONLY the touched buckets — 1/n of the table,
with the read side pruned by the partition filter — instead of a full
table rewrite.  This is the dependency-free analogue of what
Delta/Iceberg MERGE does (rewrite only the files containing matched
rows); ``merge_supported()`` probes for delta-spark so a real ACID
MERGE can slot into the same call sites when the package is present.

Driver/Spark commit split: ``write``, ``write_bucketed`` and
``overwrite_buckets`` take either a Spark DataFrame or a
``pyarrow.Table``. A DataFrame's staging files are written by a Spark
job; a Table's (one file per touched bucket) are written from the
driver by ``pyarrow.parquet`` — no job. Both go through the same
writer lock, staging-directory rename swap and returned stamp, and
both produce the layout Spark reads back. ``read_arrow`` is the
matching driver read: the bucket files that can hold a set of keys,
cast to the table's fixed schema. Rows the caller already holds or
finds by bucket key take the Arrow pair (the KnowledgeBase's single-doc
calls); distributed inputs and non-key predicates stay on Spark.

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
WRITER_LOCK_SUFFIX = ".writer.lock"
# the one data file a driver-side (pyarrow) write puts in each directory
ARROW_PART_FILE = "part-00000.parquet"


def _data_files(d: str) -> list[str]:
    """Parquet data files directly in directory ``d``, skipped the way
    Spark skips them: ``_``/``.``-prefixed names are markers and
    checksums. Empty when ``d`` does not exist (an emptied bucket)."""
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return []
    return sorted(
        os.path.join(d, f) for f in names
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _empty(data):
    """``data`` with no rows, same schema."""
    return data.slice(0, 0) if isinstance(data, pa.Table) else data.limit(0)


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


def merge_supported() -> bool:
    """True when delta-spark is importable — the ACID MERGE upgrade path
    for the bucket-overwrite mutation strategy (absent in this
    container; the call sites are shaped so MERGE slots in)."""
    try:
        import importlib.util

        return importlib.util.find_spec("delta") is not None
    except Exception:  # pragma: no cover
        return False


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
        instance (merge_into holds the lock across its read-modify-
        write and the inner overwrite_buckets acquire is then a no-op).
        While held, a heartbeat thread refreshes the lock mtime, so a
        lock older than ``stale_after_s`` means the holder PROCESS is
        dead (crashed writer), not merely slow — a multi-hour rollup
        overwrite keeps its lock alive. Dead-holder locks are broken
        with a warning via single-winner atomic rename
        (:func:`_break_stale_lock`); safe because every commit below
        is staging+atomic-rename, so the table itself is never left
        mid-write; only the ADVISORY exclusion needs recovering."""
        with path_writer_lock(
            self.table_path(name), timeout_s, stale_after_s,
            held=self._held_locks,
        ):
            yield

    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return os.path.exists(self.table_path(name))

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

    def read_arrow(self, name: str, keys=()) -> pa.Table:
        """The rows of the bucket files that can hold ``keys`` (values
        of the bucket key), read in the driver by pyarrow — no Spark
        job. A table that is not bucketed is read whole. Every file is
        cast to the table's fixed schema, so files written by Spark and
        by pyarrow read alike. Callers that rewrite what they read hold
        the table's writer lock across both."""
        schema = self.arrow_schema(name)
        path = self.table_path(name)
        meta = self.bucket_meta(name)
        if meta is None:
            dirs = [path]
        else:
            nb = meta["n_buckets"]
            dirs = [
                os.path.join(path, f"_pb={b}")
                for b in sorted({self.bucket_of(k, nb) for k in keys})
            ]
        parts = []
        for d in dirs:
            for f in _data_files(d):
                with pq.ParquetFile(f) as pf:
                    parts.append(pf.read().select(schema.names).cast(schema))
        return pa.concat_tables(parts) if parts else schema.empty_table()

    # -- bucketed layout: point mutations touch 1/n of the table ----------

    def bucket_meta(self, name: str) -> dict | None:
        p = os.path.join(self.table_path(name), BUCKET_META_FILE)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

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
        and touch only their own partitions. Like every commit here,
        returns the table's stamp read under the writer lock after the
        swap."""
        with self.write_lock(name):
            staging = self.table_path(name) + ".staging"
            _stage(staging, data, key_col, n_buckets)
            if not any(
                d.startswith("_pb=") for d in os.listdir(staging)
            ):
                # no rows: a partitioned write leaves no readable files, so
                # degrade to a plain empty table (same as overwrite_buckets
                # when every bucket empties); schema is preserved from data
                shutil.rmtree(staging)
                return self.write(name, _empty(data))
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
        minus cross-bucket transaction isolation (documented tradeoff;
        see merge_supported())."""
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
            if not any(d.startswith("_pb=") for d in os.listdir(path)):
                # every bucket emptied: degrade to a plain empty table so
                # reads keep working (schema preserved from data)
                return self.write(name, _empty(data))
            return self._advance(name, before)

    def merge_into(
        self,
        name: str,
        updates: DataFrame,
        delete: bool = False,
    ) -> dict:
        """Generic bucket-pruned MERGE on a bucketed table: upsert
        ``updates`` by the table's bucket key (replace matched rows,
        insert unmatched), or with ``delete=True`` remove the keys in
        ``updates``. Only the buckets actually present in ``updates``
        are read and rewritten — the WHEN MATCHED/NOT MATCHED core of a
        lakehouse MERGE, minus cross-bucket snapshot isolation (see
        merge_supported() for the delta-spark upgrade path).

        Scale shape: the touched-bucket set is a distinct over
        ``pmod(key)`` — executor-side, collect bounded by n_buckets;
        the anti-join runs only over those buckets' rows, and both its
        sides hash-partition on the same key.
        """
        with self.write_lock(name):
            meta = self.bucket_meta(name)
            assert meta is not None, f"{name} is not bucketed"
            key, nb = meta["key_col"], meta["n_buckets"]
            pb = F.pmod(F.col(key), F.lit(nb)).cast("int")
            touched = sorted(
                r[0]
                for r in updates.select(pb.alias("b")).distinct().collect()
            )
            if not touched:
                return {"buckets": [], "rows_written": 0}
            cur = self.read_buckets(name, touched)
            kept = cur.join(updates.select(key), key, "left_anti")
            post = kept if delete else kept.unionByName(
                updates.select(*cur.columns)
            )
            # count BEFORE the swap: post's lineage reads the pre-merge
            # files, which overwrite_buckets deletes
            rows = post.count()
            self.overwrite_buckets(name, touched, post)
            return {"buckets": touched, "rows_written": rows}

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
