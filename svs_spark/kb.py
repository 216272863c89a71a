"""KnowledgeBase: the reference's full API surface, Spark-first.

Reproduces Rhobota/svs ``KB`` (``src/svs/kb.py:1410-1799``) over a
warehouse of parquet tables instead of one SQLite file:

=====================  =========================================
svs                    svs_spark
=====================  =========================================
SQLite file            Warehouse directory (docs/edges/keyval/_meta)
docs table             docs: id, parent_id, level, text,
                       embedding ARRAY<FLOAT>, meta (JSON string)
embeddings table+FK    nullable embedding column on docs (the FK
                       existed only for no-vector rows + matrix scans)
edges table            edges: edge_id, src, dst, rel, weight, directed
keyval/keyval_user     keyval: key, plus typed value columns
NumPy matrix cache     retrieve() scoring each docs file's vectors,
                       decoded once per file version, in the driver
asyncio lock           Spark's distributed execution (the reference's
                       serial lock is its scalability ceiling, §4)
=====================  =========================================

Each bulk context holds its table's writer lock from entry to its
commit, and the commit is one replace of the table's manifest (see
``sources/warehouse.py``): the equivalent of the reference's
BEGIN/COMMIT transaction per bulk (``kb.py:794-829``), so a second
writer waits for it, and readers and crashes see all of a bulk or none
of it. Every call that takes Python values reads and commits in the
driver with pyarrow and runs no Spark job, as a reference call is one
SQLite transaction: keyed calls (single-doc adds, reads and updates,
keyval, edge commits) touch only the buckets that can hold their keys
(``Warehouse.read_arrow`` and a Table commit), and predicate reads
(children, levels, counts, the next id, the edge-key probe, the delete
guard and cascade search) read the columns they test from the whole
table. The warehouse decodes each data file once and serves it again
while the manifest lists it, so a call pays for reading the table's
manifest and for the files changed since the last read. ``retrieve``
scores each file's vectors, kept decoded on the
file's cache entry, with the same float64 fold as
``functions.vector.dot`` — the analogue of the reference's RAM matrix
(``kb.py:856-893``), rebuilt per file only after a write. The
whole-table calls collect their whole answer, so they read in the
driver too: ``dfs_traversal`` walks the ``id``, ``parent_id`` columns
and ``build_networkx_graph`` the edges table.
Spark keeps DataFrame inputs (``add_documents_df``,
``add_chunked_documents_df``, ``compact``, export), the pairwise
block GEMM of ``document_top_pairwise_scores`` and the SQL views.

A KB's state is its files only: ``docs`` and ``edges`` are bucketed
from creation (a plain table from an older version is rewritten
bucketed once, at open), and nothing is cached across calls except
what is keyed by a table's stamp or by a data file that no commit
replaced, so every commit, by any instance or process, is seen by the
next read. The async/sync API duality is deliberately not ported (no
query semantics in it; SURVEY.md §7).
"""

from __future__ import annotations

import base64
import datetime
import functools
import json
import warnings
from contextlib import contextmanager
from typing import Any, Iterator, List, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, FloatType, IntegerType, LongType,
    StringType, StructField, StructType,
)

from svs_spark.functions.embeddings import (
    BULK_EMBEDDING_CHUNK_SIZE,
    EmbeddingFunc,
    embed_df,
    make_embeddings_func,
    with_magnitude_check,
)
from svs_spark.functions.vector import dot_many, topk_ties
from svs_spark.sources.warehouse import Warehouse, resolve_location

SCHEMA_VERSION = 1  # kb.py:64

# docs bucket count for point-update locality: a single-doc mutation
# rewrites 1/DOCS_BUCKETS of the table (bucket chosen by pmod(id, n)),
# not all of it.  At 100 TB you would raise this into the thousands so
# each bucket is a few files; the layout and call sites are the same.
DOCS_BUCKETS = 16

# same point-update locality for the edges table: keyed by edge_id, so a
# point del_edge/add_edge rewrites 1/EDGES_BUCKETS of the table. The
# (src, dst, rel) uniqueness probe is not keyed by the bucket key: it
# reads the src, dst and rel columns of every bucket in the driver.
EDGES_BUCKETS = 16

DOCS_SCHEMA = StructType([
    StructField("id", LongType(), False),
    StructField("parent_id", LongType(), True),
    StructField("level", IntegerType(), False),
    StructField("text", StringType(), False),
    StructField("embedding", ArrayType(FloatType()), True),
    StructField("meta", StringType(), True),
])

EDGES_SCHEMA = StructType([
    StructField("edge_id", LongType(), False),
    StructField("src", LongType(), False),
    StructField("dst", LongType(), False),
    StructField("rel", LongType(), False),
    StructField("weight", DoubleType(), True),
    StructField("directed", BooleanType(), False),
])

# keyval values keep their primitive type (SQLite ANY under STRICT —
# kb.py:74-78, tested tests/test_kb.py:52-66): a type tag + JSON/base64.
KEYVAL_SCHEMA = StructType([
    StructField("key", StringType(), False),
    StructField("val_type", StringType(), False),
    StructField("val", StringType(), False),
])

# bucket key and bucket count of the bucketed tables
BUCKET_KEYS = {"docs": ("id", DOCS_BUCKETS), "edges": ("edge_id", EDGES_BUCKETS)}

TABLE_SCHEMAS = {
    "docs": DOCS_SCHEMA, "edges": EDGES_SCHEMA,
    "keyval": KEYVAL_SCHEMA, "_meta": KEYVAL_SCHEMA,
}

_MISSING = object()


def _encode_val(val: Any) -> tuple[str, str]:
    if isinstance(val, bool):
        raise ValueError("bool keyval values are not supported")
    if isinstance(val, int):
        return "int", json.dumps(val)
    if isinstance(val, float):
        return "float", json.dumps(val)
    if isinstance(val, str):
        return "str", val
    if isinstance(val, bytes):
        return "bytes", base64.b64encode(val).decode()
    raise ValueError(f"unsupported keyval type: {type(val)!r}")


def _encode_kv(kv: dict) -> dict:
    """Each value's (type tag, encoding): equal encodings mean an equal
    stored table (``1`` and ``1.0`` compare equal, their rows do not)."""
    return {k: _encode_val(v) for k, v in kv.items()}


def _decode_val(val_type: str, val: str) -> Any:
    if val_type == "int":
        return int(val)
    if val_type == "float":
        return float(val)
    if val_type == "str":
        return val
    if val_type == "bytes":
        return base64.b64decode(val)
    raise ValueError(f"unknown keyval type tag: {val_type!r}")


def _retrieve_decode(part: pa.Table) -> tuple:
    """``(ids, lens, bad, flat)`` of the rows of one docs file that have
    a vector: their ids, vector lengths, whether a vector holds a null,
    and every vector's values end to end. It depends on the file only,
    so the warehouse keeps it on the file's cache entry
    (``Warehouse.map_files``)."""
    part = part.filter(pc.is_valid(part.column("embedding")))
    ids = part.column("id").to_numpy()
    emb = part.column("embedding").combine_chunks()
    lens = pc.list_value_length(emb).to_numpy()
    flat = emb.flatten()
    bad = np.zeros(len(ids), dtype=bool)
    bad[np.repeat(np.arange(len(ids)), lens)[
        flat.is_null().to_numpy(zero_copy_only=False)
    ]] = True
    return ids, lens, bad, flat.to_numpy(zero_copy_only=False)


def _retrieve_candidates(decoded: tuple, q: np.ndarray, n: int) -> tuple:
    """``(ids, rank, scores)`` of the rows of one docs file (its
    :func:`_retrieve_decode`) that can be in a top ``n`` against the
    query ``q``. Scores are ``functions.vector.dot_many``'s, bit-equal
    to the Spark ``dot`` fold. ``rank`` orders before the score, the
    way Spark's descending sort places the values: 2 for a NaN score
    (first), 1 for a number, 0 for a null score (last) — a vector whose
    length differs from the query's, or that holds a null. Docs without
    a vector are not candidates. Finite scores are pruned with
    ``topk_ties``; the rare others are all kept."""
    ids, lens, bad, flat = decoded
    ok = (lens == len(q)) & ~bad
    scores = np.zeros(len(ids))
    # every vector scored: the decoded values are the matrix as they lie
    vals = flat if ok.all() else flat[np.repeat(ok, lens)]
    scores[ok] = dot_many(vals.reshape(int(ok.sum()), len(q)), q)
    rank = ok.astype(np.int8)
    rank[ok & np.isnan(scores)] = 2
    scores[rank != 1] = 0.0
    finite = (rank == 1) & np.isfinite(scores)
    pick = np.flatnonzero(finite)
    [top] = topk_ties(scores[pick], n)
    keep = np.concatenate([pick[top], np.flatnonzero(~finite)])
    return ids[keep], rank[keep], scores[keep]


class KnowledgeBase:
    """Open (or create) a knowledge base at ``path_or_url``.

    Parity: ``KB.__init__`` (kb.py:1410-1435) including remote/gz
    resolution and the embedding-config persistence semantics
    (kb.py:896-922): params are stored on first use, rebuilt on reopen,
    an explicit func overrides stored params with a warning, and
    no-func + no-stored-params is an error.
    """

    def __init__(
        self,
        spark: SparkSession,
        path_or_url: str,
        embedding_func: Optional[EmbeddingFunc] = None,
        embedding_params: Optional[dict] = None,
        force_fresh_db: bool = False,
    ):
        self.spark = spark
        root = resolve_location(path_or_url)
        self.wh = Warehouse(spark, root, schemas=TABLE_SCHEMAS)
        if force_fresh_db:
            self.wh.drop_all()
        # table -> (stamp, next id): max(id) + 1 of that table version
        self._next_ids: dict[str, tuple] = {}
        self._init_meta(embedding_func, embedding_params)

    # -- lifecycle (S1-S5) --------------------------------------------------

    def _init_meta(
        self,
        embedding_func: Optional[EmbeddingFunc],
        embedding_params: Optional[dict],
    ) -> None:
        meta = self._read_kv("_meta") if self.wh.exists("_meta") else {}
        if meta:
            stored_version = meta.get("schema_version")
            if stored_version != SCHEMA_VERSION:
                raise RuntimeError(
                    f"schema version mismatch: {stored_version} != {SCHEMA_VERSION}"
                )
        stored_params = (
            json.loads(meta["embedding_func_params"])
            if "embedding_func_params" in meta
            else None
        )
        if embedding_func is not None:
            if stored_params is not None:
                # explicit func overrides stored config (kb.py:912-917)
                warnings.warn(
                    "explicit embedding_func overrides stored params",
                    stacklevel=3,
                )
            self.embedding_func = with_magnitude_check(embedding_func)
            params_to_store = embedding_params or {"provider": "custom"}
        elif embedding_params is not None:
            self.embedding_func = with_magnitude_check(
                make_embeddings_func(embedding_params)
            )
            params_to_store = embedding_params
        elif stored_params is not None:
            self.embedding_func = with_magnitude_check(
                make_embeddings_func(stored_params)
            )
            params_to_store = stored_params
        else:
            raise ValueError(
                "no embedding function given and none stored in the KB"
            )
        new_meta = dict(meta) or {
            "schema_version": SCHEMA_VERSION,
            "created_datetime": datetime.datetime.now(
                datetime.timezone.utc
            ).isoformat(),
        }
        new_meta["embedding_func_params"] = json.dumps(params_to_store)
        if _encode_kv(new_meta) != _encode_kv(meta):
            self._write_kv("_meta", new_meta)
        if not self.wh.exists("keyval"):
            self._write_kv("keyval", {})
        for table in BUCKET_KEYS:
            if self.wh.bucket_meta(table) is None:
                self._bucket(table)

    def _bucket(self, table: str) -> None:
        """Create ``table`` empty and bucketed, or rewrite a plain one
        (as older versions wrote them) bucketed, under its writer lock:
        every later call reads and commits buckets."""
        with self.wh.write_lock(table):
            if not self.wh.exists(table):
                stamp = self.wh.write_bucketed(
                    table, self.wh.arrow_table(table, []), *BUCKET_KEYS[table]
                )
                # an empty table's next id needs no max() scan
                self._next_ids[table] = (stamp, 1)
            elif self.wh.bucket_meta(table) is None:
                self.wh.write_bucketed(
                    table, self.wh.read_arrow(table), *BUCKET_KEYS[table]
                )

    def _read_kv(self, table: str) -> dict:
        return {
            r["key"]: _decode_val(r["val_type"], r["val"])
            for r in self.wh.read_arrow(table).to_pylist()
        }

    def _write_kv(self, table: str, kv: dict) -> None:
        self.wh.write(table, self.wh.arrow_table(
            table, [(k, *tv) for k, tv in _encode_kv(kv).items()]
        ))

    def close(self, vacuum: bool = False, also_gzip: bool = False) -> None:
        """kb.py:1437-1464: optional VACUUM (compaction) + gzip export,
        then the decoded data files are let go, as svs frees its RAM
        matrix; a later call decodes what it reads again."""
        if vacuum:
            for t in ("docs", "edges", "keyval", "_meta"):
                self.wh.compact(t)
        if also_gzip:
            self.wh.export_gzip(self.wh.root + "_gzip_export")
        self.wh.clear_decoded()

    def load(self) -> None:
        """kb.py:964-967 parity: warm the RAM matrix. The driver decodes
        every docs file and the vectors ``retrieve`` scores, with no
        Spark job; a file a later commit replaces is decoded again by
        the next read, so nothing here can be served stale. Nothing is
        persisted in Spark: its session-wide cache would serve a
        persisted DataFrame to every later read of the same files after
        a commit had replaced them."""
        for _ in self.wh.map_files("docs", _retrieve_decode):
            pass

    # -- table views (the _EmbeddingsMatrix analogue, kb.py:856-893) ---------

    @property
    def docs(self) -> DataFrame:
        """The current docs version: the warehouse caches the handle
        under the table's stamp, so a commit by any writer is seen."""
        return self.wh.read("docs")

    @property
    def edges(self) -> DataFrame:
        return self.wh.read("edges")

    def _find(self, table: str, keys) -> pa.Table:
        """The rows of ``table`` whose bucket key is in ``keys``, read
        in the driver from only the buckets that can hold them."""
        keys = list(keys)
        if not keys:
            return self.wh.arrow_schema(table).empty_table()
        rows = self.wh.read_arrow(table, keys)
        col = rows.column(BUCKET_KEYS[table][0])
        return rows.filter(pc.is_in(col, value_set=pa.array(keys, col.type)))

    # -- id allocation: max(id) + 1, cached per table version ----------------

    def _next_id(self, table: str, col: str) -> int:
        stamp = self.wh.stamp(table)
        hit = self._next_ids.get(table)
        if hit is None or hit[0] != stamp:
            top = pc.max(self.wh.read_arrow(table, None, [col]).column(col))
            hit = self._next_ids[table] = (stamp, (top.as_py() or 0) + 1)
        return hit[1]

    def _commit(self, table: str, write, next_id: Optional[int] = None):
        """Run ``write`` (a read-modify-write of ``table`` returning the
        stamp after its commit); the caller holds the table's writer
        lock. The cached next id survives only if it described the
        version this commit replaced: unchanged, or ``next_id`` when the
        commit added ids. Commits made any other way move the stamp and
        so drop it."""
        before = self.wh.stamp(table)
        after = write()
        hit = self._next_ids.get(table)
        if hit is not None and hit[0] == before:
            self._next_ids[table] = (
                after, hit[1] if next_id is None else next_id
            )

    # -- counts (Q1) ----------------------------------------------------------

    def _count(self, table: str) -> int:
        """Rows of ``table``, counted on its bucket-key column."""
        key_col = BUCKET_KEYS[table][0]
        return self.wh.read_arrow(table, None, [key_col]).num_rows

    def count(self) -> int:
        return self._count("docs")

    def __len__(self) -> int:
        return self.count()

    def count_edges(self) -> int:
        return self._count("edges")

    # -- docs write paths: bucketed point-update locality ---------------------

    def _rewrite(self, table: str, keys, patch):
        """Commit ``patch(rows)`` in place of the rows of the buckets that
        can hold ``keys`` (values of the bucket key), read and written
        in the driver as pyarrow Tables under the table's writer lock;
        returns the stamp after the commit. A single add_doc touches ONE
        bucket."""
        keys = list(keys)
        with self.wh.write_lock(table):
            post = patch(self.wh.read_arrow(table, keys))
            nb = self.wh.bucket_meta(table)["n_buckets"]
            pbs = sorted({Warehouse.bucket_of(k, nb) for k in keys})
            return self.wh.overwrite_buckets(table, pbs, post)

    def _point_update_docs(self, doc_id: int, column: str, value) -> None:
        """Rewrite exactly one doc's column, touching only its bucket."""

        def patch(rows: pa.Table) -> pa.Table:
            hit = pc.equal(rows.column("id"), doc_id)
            if not pc.any(hit).as_py():
                raise ValueError(f"no such doc: {doc_id}")
            i = rows.schema.get_field_index(column)
            col = rows.column(i)
            return rows.set_column(i, rows.field(i), pc.if_else(
                hit, pa.scalar(value, col.type), col
            ))

        with self.wh.write_lock("docs"):
            self._commit("docs", lambda: self._rewrite("docs", [doc_id], patch))

    def _append_embedded(
        self, df: DataFrame, head: Optional[DataFrame] = None
    ) -> None:
        """Append ``head`` (already in docs shape) plus ``df`` with its
        embedding cast to the docs column (the distributed ingest paths):
        one Spark job writes the new files into their hash buckets, so
        the provider runs once per doc, and the commit adds them to the
        docs manifest beside the files already there."""
        staged = df.select(
            "id", "parent_id", "level", "text",
            F.col("embedding").cast(ArrayType(FloatType())).alias("embedding"),
            "meta",
        )
        if head is not None:
            staged = head.unionByName(staged)
        self.wh.append("docs", staged)

    # -- DML: bulk add (M1) ---------------------------------------------------

    @contextmanager
    def bulk_add_docs(self):
        """Transactional bulk insert (kb.py:1486-1524): level computed
        from the parent (pending or stored), embeddings computed on exit
        by calling the provider on the driver in BULK_EMBEDDING_CHUNK_SIZE
        chunks (kb.py:1516-1521), the whole context committed as ONE
        atomic write. The docs writer lock is held from entry to the
        commit, as a SQLite transaction holds its write lock: a second
        writer's bulk waits, then takes the ids after this one's.
        ``add_documents_df`` is the distributed path."""
        with self.wh.write_lock("docs"):
            pending: list[tuple] = []
            known_levels: dict[int, int] = {}
            counter = [self._next_id("docs", "id")]

            def add_doc(
                text: str,
                parent_id: Optional[int] = None,
                meta: Optional[dict] = None,
                no_embedding: bool = False,
            ) -> int:
                if parent_id is None:
                    level = 0
                elif parent_id in known_levels:
                    level = known_levels[parent_id] + 1
                else:
                    row = self._point_read(parent_id)
                    if row is None:
                        raise ValueError(f"invalid parent_id: {parent_id}")
                    known_levels[parent_id] = row["level"]
                    level = row["level"] + 1
                doc_id = counter[0]
                counter[0] += 1
                known_levels[doc_id] = level
                enc = json.dumps(meta) if meta is not None else None
                pending.append((doc_id, parent_id, level, text, enc, no_embedding))
                return doc_id

            yield add_doc

            if not pending:
                return
            texts = [p[3] for p in pending if not p[5]]
            # the magnitude-checked provider, in the reference's chunks; the
            # float32 rounding is the one embed_df's Arrow column applies
            vecs = iter([
                np.asarray(v, dtype=np.float32).tolist()
                for i in range(0, len(texts), BULK_EMBEDDING_CHUNK_SIZE)
                for v in self.embedding_func(
                    texts[i:i + BULK_EMBEDDING_CHUNK_SIZE]
                )
            ])
            new_rows = self.wh.arrow_table("docs", [
                (i, pid, level, text, None if skip else next(vecs), enc)
                for i, pid, level, text, enc, skip in pending
            ])
            self._commit(
                "docs",
                lambda: self._rewrite(
                    "docs", [p[0] for p in pending],
                    lambda cur: pa.concat_tables([cur, new_rows]),
                ),
                next_id=counter[0],
            )

    def add_doc(self, text: str, parent_id: Optional[int] = None,
                meta: Optional[dict] = None, no_embedding: bool = False) -> int:
        with self.bulk_add_docs() as add:
            return add(text, parent_id=parent_id, meta=meta,
                       no_embedding=no_embedding)

    def add_documents_df(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: Optional[str] = "doc_id",
        meta_json_col: Optional[str] = None,
        no_embedding: bool = False,
    ) -> int:
        """Distributed bulk ingest: add every row of ``df`` as a root
        document (level 0, no parent), embeddings computed by the
        chunked Arrow UDF pipeline, committed as one atomic write.

        This is the 100 TB ingest path the reference cannot express —
        its ``bulk_add_docs`` iterates rows on the driver
        (``src/svs/kb.py:1486-1524``); here the whole frame (e.g. from
        ``sources.corpus.ingest_jsonl``) stays distributed end-to-end.
        Ids: ``id_col`` if given (corpus xxhash64 ids pass through),
        else xxhash64(text); collisions with existing doc ids raise
        before anything is written. Returns the number of docs added.
        """
        idc = (
            F.col(id_col).cast("long")
            if id_col is not None and id_col in df.columns
            else F.xxhash64(F.col(text_col))
        )
        metac = (
            F.col(meta_json_col).cast("string")
            if meta_json_col is not None
            else F.lit(None).cast("string")
        )
        new_rows = (
            df.select(
                idc.alias("id"),
                F.lit(None).cast(LongType()).alias("parent_id"),
                F.lit(0).cast(IntegerType()).alias("level"),
                F.col(text_col).cast("string").alias("text"),
                metac.alias("meta"),
            )
            .filter(F.col("text").isNotNull())
            .dropDuplicates(["id"])
        )
        clash = self.docs.join(
            new_rows.select("id"), on="id", how="left_semi"
        ).count()
        if clash:
            raise ValueError(f"{clash} incoming doc ids already exist")
        n_new = new_rows.count()
        if no_embedding:
            staged = new_rows.withColumn(
                "embedding", F.lit(None).cast(ArrayType(FloatType()))
            )
        else:
            staged = embed_df(new_rows, self.embedding_func, check=False)
        self._append_embedded(staged)
        return n_new

    def add_chunked_documents_df(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: Optional[str] = "doc_id",
        chunk_size: int = 500,
        chunk_stride: int = 400,
        no_embedding: bool = False,
    ) -> tuple[int, int]:
        """Distributed hierarchical ingest — the reference's
        chunk-into-children pattern (a parent document whose
        overlapping chunks are its level-1 children, built row-by-row
        on the driver via ``bulk_add_docs(parent_id=...)`` in the
        reference, kb.py:1486-1524) as ONE distributed plan: every
        input row becomes a level-0 parent (container — no embedding,
        the reference's hierarchy examples retrieve over chunks and
        traverse up), its character windows become level-1 children
        with ``parent_id`` set, and only the chunks go through the
        chunked Arrow embedding pipeline. Child ids are
        ``xxhash64(parent_id, '#', chunk_idx)``; both generations are
        clash-checked against the store before anything is written and
        the append is one atomic bucketed write. Returns
        ``(n_parents, n_chunks)``.

        Scale shape: chunking is scan-stage codegen
        (``operators/chunking.chunk_text_df``); the only exchanges are
        the id-clash left-semi probe and the bucketed append itself.
        """
        from svs_spark.operators.chunking import chunk_text_df

        idc = (
            F.col(id_col).cast("long")
            if id_col is not None and id_col in df.columns
            else F.xxhash64(F.col(text_col))
        )
        base = (
            df.select(idc.alias("id"), F.col(text_col).cast("string").alias("text"))
            .filter(F.col("text").isNotNull())
            .dropDuplicates(["id"])
        )
        parents = base.select(
            "id",
            F.lit(None).cast(LongType()).alias("parent_id"),
            F.lit(0).cast(IntegerType()).alias("level"),
            "text",
            F.lit(None).cast(ArrayType(FloatType())).alias("embedding"),
            F.lit(None).cast("string").alias("meta"),
        )
        chunks_pre = chunk_text_df(
            base, text_col="text", id_col="id",
            size=chunk_size, stride=chunk_stride,
        ).select(
            F.xxhash64(
                F.concat_ws("#", F.col("parent_id"), F.col("chunk_idx"))
            ).alias("id"),
            F.col("parent_id"),
            F.lit(1).cast(IntegerType()).alias("level"),
            F.col("chunk_text").alias("text"),
            F.lit(None).cast("string").alias("meta"),
        )
        # Chunk ids are pure functions of (parent_id, chunk_idx), so every
        # validation runs on the PRE-embedding frame — the embedding
        # provider is never invoked for a batch that will be rejected.
        all_ids = parents.select("id").unionAll(chunks_pre.select("id"))
        clash = self.docs.join(all_ids, on="id", how="left_semi").count()
        if clash:
            raise ValueError(f"{clash} incoming doc ids already exist")
        n_parents = parents.count()
        n_chunks = chunks_pre.count()
        if all_ids.distinct().count() != n_parents + n_chunks:
            raise ValueError("chunk id collision within the ingest batch")
        if no_embedding:
            chunks = chunks_pre.withColumn(
                "embedding", F.lit(None).cast(ArrayType(FloatType()))
            )
        else:
            chunks = embed_df(chunks_pre, self.embedding_func, check=False)
        self._append_embedded(chunks, parents)
        return n_parents, n_chunks

    # -- DML: bulk delete (M2) -------------------------------------------------

    @contextmanager
    def bulk_del_docs(self):
        """Transactional delete (kb.py:1526-1542) with the reference's
        order-sensitive parent guard (kb.py:360-414): deleting a doc that
        still has a child at that point in the sequence raises; edges
        touching a deleted doc (as src, dst, or rel) cascade.

        Every read runs in the driver, with no Spark job: the existence
        check and the children guard from the ``id`` and ``parent_id``
        columns of the whole table (kept: the deleted ids and their
        children, ≤ batch × fan-out rows), and the cascade search from
        the edges' ``edge_id``, ``src``, ``dst`` and ``rel`` columns.
        The guard is inherently sequential (delete order matters). The
        rewrites touch only the deleted ids' doc buckets and the
        buckets of the incident edges."""
        deletions: list[int] = []

        def del_doc(doc_id: int) -> None:
            deletions.append(doc_id)

        yield del_doc

        if not deletions:
            return
        gone = pa.array(list(set(deletions)), pa.int64())
        links = self.wh.read_arrow("docs", None, ["id", "parent_id"])
        existing = set(links.column("id").filter(
            pc.is_in(links.column("id"), value_set=gone)
        ).to_pylist())
        kids = links.filter(pc.is_in(links.column("parent_id"), value_set=gone))
        kids_by_parent: dict[int, set] = {}
        for kid, parent in zip(kids.column("id").to_pylist(),
                               kids.column("parent_id").to_pylist()):
            kids_by_parent.setdefault(parent, set()).add(kid)
        removed: set = set()
        for doc_id in deletions:
            if doc_id not in existing or doc_id in removed:
                raise ValueError(f"no such doc: {doc_id}")
            live_kids = kids_by_parent.get(doc_id, set()) - removed
            if live_kids:
                raise RuntimeError(
                    f"cannot delete doc {doc_id}: it is a parent of {sorted(live_kids)}"
                )
            removed.add(doc_id)
        # every id passed the guard: ``gone`` is the removed set.
        # Rewrite only the deleted ids' buckets (1..k of n)
        self._rewrite("docs", gone.to_pylist(), lambda d: d.filter(
            pc.invert(pc.is_in(d.column("id"), value_set=gone))
        ))
        # the cascade predicate keys on src/dst/rel, not the bucket key:
        # the victims are found in those columns of every edges file, and
        # only their buckets are rewritten. A delete with no incident
        # edges rewrites nothing.
        def incident(e: pa.Table):
            return functools.reduce(pc.or_, [
                pc.is_in(e.column(c), value_set=gone)
                for c in ("src", "dst", "rel")
            ])

        probe = self.wh.read_arrow(
            "edges", None, ["edge_id", "src", "dst", "rel"]
        )
        victims = probe.filter(incident(probe)).column("edge_id").to_pylist()
        if victims:
            self._rewrite(
                "edges", victims, lambda e: e.filter(pc.invert(incident(e)))
            )

    def del_doc(self, doc_id: int) -> None:
        with self.bulk_del_docs() as dd:
            dd(doc_id)

    # -- DML: meta + embedding update (M3, M4) ---------------------------------

    def update_doc_meta(self, doc_id: int, new_meta: Optional[dict]) -> None:
        """kb.py:347-358: replace (or NULL) one doc's JSON meta —
        rewrites only the doc's hash bucket (1/DOCS_BUCKETS of the
        table), not the whole table."""
        enc = json.dumps(new_meta) if new_meta is not None else None
        self._point_update_docs(doc_id, "meta", enc)

    def set_doc_embedding(
        self, doc_id: int, embedding: Optional[List[float]]
    ) -> None:
        """kb.py:526-571: replace one doc's vector — bucket-local
        rewrite like update_doc_meta."""
        vec = (
            [float(x) for x in embedding] if embedding is not None else None
        )
        self._point_update_docs(doc_id, "embedding", vec)

    # -- queries (Q2-Q6) --------------------------------------------------------

    @staticmethod
    def _to_record(row, include_embedding: bool) -> dict:
        """One doc row (a Spark Row or an Arrow row dict) as a record."""
        emb: Any
        if include_embedding:
            emb = list(row["embedding"]) if row["embedding"] is not None else None
        else:
            emb = row["embedding"] is not None  # tri-state bool (kb.py:442-473)
        return {
            "id": row["id"],
            "parent_id": row["parent_id"],
            "level": row["level"],
            "text": row["text"],
            "embedding": emb,
            "meta": json.loads(row["meta"]) if row["meta"] is not None else None,
        }

    def _point_read(self, doc_id: int) -> Optional[dict]:
        """Point lookup of one doc row, read in the driver from the one
        bucket that can hold it (1/DOCS_BUCKETS of the table)."""
        rows = self._find("docs", [doc_id]).slice(0, 1).to_pylist()
        return rows[0] if rows else None

    def query_doc(self, doc_id: int, include_embedding: bool = False) -> dict:
        row = self._point_read(doc_id)
        if row is None:
            raise KeyError(f"no such doc: {doc_id}")
        return self._to_record(row, include_embedding)

    def _docs_where(self, col: str, value, include_embedding: bool) -> List[dict]:
        """Records of the docs whose ``col`` equals ``value``, by id: the
        ``id`` and ``col`` columns of the whole table are read and
        filtered in the driver, then the matches' buckets are read."""
        links = self.wh.read_arrow("docs", None, ["id", col])
        ids = links.filter(pc.equal(links.column(col), value)).column("id")
        rows = self._find("docs", ids.to_pylist()).sort_by("id")
        return [self._to_record(r, include_embedding) for r in rows.to_pylist()]

    def query_children(
        self, doc_id: int, include_embedding: bool = False
    ) -> List[dict]:
        return self._docs_where("parent_id", doc_id, include_embedding)

    def query_level(
        self, level: int, include_embedding: bool = False
    ) -> List[dict]:
        return self._docs_where("level", level, include_embedding)

    def dfs_traversal(self, include_embedding: bool = False) -> List[dict]:
        """kb.py:1580-1593 golden order (tests/test_kb.py:1117-1153):
        roots ascending, children ascending, depth-first, by signed id.
        The driver reads the ``id``, ``parent_id`` columns, walks them
        with a stack, then reads the rows of the docs it reached."""
        links = self.wh.read_arrow("docs", None, ["id", "parent_id"])
        kids: dict = {}
        for i, parent in sorted(zip(links.column("id").to_pylist(),
                                    links.column("parent_id").to_pylist()),
                                reverse=True):
            kids.setdefault(parent, []).append(i)
        order: list = []
        stack = list(kids.get(None, []))  # descending: pops ascending
        while stack:
            order.append(stack.pop())
            stack.extend(kids.get(order[-1], []))
        rows = {r["id"]: r for r in self._find("docs", order).to_pylist()}
        return [
            self._to_record(rows[i], include_embedding)
            for i in order if i in rows  # unless a concurrent commit deleted it
        ]

    def fetch_doc_with_emb_id(self, doc_id: int) -> dict:
        """Q5 reverse-FK parity (kb.py:511-524) — with the vector stored
        inline, the embedding id IS the doc id."""
        return self.query_doc(doc_id, include_embedding=True)

    # -- similarity (V1-V4) -------------------------------------------------------

    def retrieve(self, query: str, n: int) -> List[dict]:
        """kb.py:1608-1640: embed the query, then the exact brute-force
        top-n of the docs that have a vector, in (score desc, id desc)
        order — bit for bit what ``operators.similarity.retrieve_topk``
        returns on ``docs``. The driver scores each docs file's vectors
        (the reference's RAM matrix: decoded once per file and kept
        until a commit replaces the file, see ``load``), takes the top
        n of the candidates :func:`_retrieve_candidates` leaves of each
        file, then reads the winners' fields from their buckets.
        Large-corpus retrieval is ``operators.similarity.knn_join_batch``
        and the IVF operators."""
        q = np.asarray(self.embedding_func([query])[0], dtype=np.float64)
        if n <= 0:
            return []  # reference get_top_k clamps k<=0 to [] (util.py:190-203)
        ids, rank, scores = (np.concatenate(c) for c in zip(
            (np.empty(0, np.int64), np.empty(0, np.int8), np.empty(0)),
            *(_retrieve_candidates(decoded, q, n)
              for decoded in self.wh.map_files("docs", _retrieve_decode)),
        ))
        # ids are unique, so this order is total: the top n of every
        # file's candidates together is the top n of the table
        top = np.lexsort((ids, scores, rank))[::-1][:n]
        ids, rank, scores = ids[top], rank[top], scores[top]
        rows = {r["id"]: r for r in self._find("docs", ids.tolist()).to_pylist()}
        return [
            {"score": float(s) if c else None,
             "doc": self._to_record(rows[i], False)}
            for i, c, s in zip(ids.tolist(), rank.tolist(), scores.tolist())
            if i in rows  # unless a concurrent commit deleted it since
        ]

    def document_top_pairwise_scores(
        self, n: int
    ) -> List[tuple[float, dict, dict]]:
        """kb.py:1642-1671: top-n pairs from the strict upper triangle."""
        from svs_spark.operators.similarity import block_pairwise_topk

        emb = self.docs.filter(F.col("embedding").isNotNull())
        pairs = block_pairwise_topk(
            emb, n, id_col="id", vec_col="embedding", round_decimals=None
        ).collect()
        docs_by_id = {
            r["id"]: self._to_record(r, False)
            for r in self._find(
                "docs", {p[k] for p in pairs for k in ("id_a", "id_b")}
            ).to_pylist()
        }
        return [
            (p["score"], docs_by_id[p["id_a"]], docs_by_id[p["id_b"]])
            for p in pairs
        ]

    # -- graph (G1-G6) ---------------------------------------------------------

    def _stored_edge_keys(self, keys: list) -> set:
        """Which (src, dst, rel) ``keys`` the stored edges hold — the
        uniqueness probe, whose key is not the bucket key. The driver
        reads the ``src``, ``dst`` and ``rel`` columns of every edges
        file, keeps the rows whose ``src`` is a probed one, and matches
        those against the exact tuples."""
        if not keys:
            return set()
        cols = ["src", "dst", "rel"]
        e = self.wh.read_arrow("edges", None, cols)
        e = e.filter(pc.is_in(e.column("src"), value_set=pa.array(
            list({k[0] for k in keys}), pa.int64()
        )))
        want = set(keys)
        return {
            k for k in zip(*(e.column(c).to_pylist() for c in cols))
            if k in want
        }

    @contextmanager
    def bulk_graph_update(self, eager_validation: bool = False):
        """kb.py:1673-1729: transactional edge mutations with (src, dst,
        rel) uniqueness (kb.py:650-651) — duplicates raise RuntimeError,
        missing endpoint/relationship docs ValueError, missing del ids
        ValueError.

        **Deferred-raise contract (deliberate divergence from the
        reference):** by default, only the in-bulk duplicate check runs
        at call time; every persisted-state violation (duplicate
        against stored edges, missing doc, missing del id) raises at
        context-manager EXIT, before anything is written — the whole
        bulk is then discarded. The reference raises at each call
        (reference kb.py:651/670), so callers that catch per-call
        errors to skip bad edges and keep the rest must pass
        ``eager_validation=True``: every call then validates against
        persisted state immediately (reference-parity semantics, at the
        cost of one driver read of the edges' key columns per call — use
        only for small bulks).
        "First violation wins" is exact under eager validation; under
        deferred validation the commit REPLAYS the calls in order (so
        among staged ops the earliest violation raises first), with one
        caveat: a call-time in-bulk-duplicate error still fires before
        an EARLIER op's persisted-state violation is discovered at
        exit.

        Scale shape: calls only stage ops in a driver-side buffer (the
        single per-call check — duplicate key within this bulk — is
        pure memory); ALL persisted-state validation happens once at
        commit, in the driver with no Spark job: one read of the edges'
        key columns (the edge-key probe) and two reads of the buckets
        that can hold the ids (doc FKs, del ids), then the original
        sequential semantics are REPLAYED in memory
        against the prefetched answers — first violation wins, exactly
        as if each call had validated eagerly (including adds later
        rolled back by an in-bulk del: sequential execution errors
        before the del can save them). A 100k-edge bulk is 3 validation
        reads, not 100k per-edge ``isEmpty`` jobs (round-3 verdict #1).
        The commit itself is a single del-filter + append of the touched
        buckets, written from the driver (atomic via the warehouse
        manifest); on any validation error nothing is written. The edges
        writer lock is held from entry to the commit, so the edge ids
        handed out at call time stay free and the probe's answers stay
        true until the commit.
        """
        with self.wh.write_lock("edges"):
            start_eid = self._next_id("edges", "edge_id")
            counter = [start_eid]
            # ops replayed at commit: ("add", eid, src, dst, rel, w, directed)
            # or ("del", edge_id)
            ops: list[tuple] = []
            batch_keys: dict[tuple, int] = {}  # live in-bulk adds, call-time dup gate
            # eager-mode state: docs verified present, keys of persisted
            # edges deleted in this bulk, persisted ids already deleted
            eager_docs_ok: set[int] = set()
            eager_del_keys: set[tuple] = set()
            eager_dels: set[int] = set()

            def _add(src: int, dst: int, rel: int, weight: Optional[float],
                     directed: bool) -> int:
                key = (src, dst, rel)
                if key in batch_keys:
                    raise RuntimeError(
                        f"edge ({src}, {dst}, {rel}) already exists"
                    )
                if eager_validation:
                    for i in (src, dst, rel):
                        if i not in eager_docs_ok:
                            if self._point_read(i) is None:
                                raise ValueError(f"no such doc: {i}")
                            eager_docs_ok.add(i)
                    if key not in eager_del_keys and self._stored_edge_keys([key]):
                        raise RuntimeError(
                            f"edge ({src}, {dst}, {rel}) already exists"
                        )
                    eager_del_keys.discard(key)
                eid = counter[0]
                counter[0] += 1
                batch_keys[key] = eid
                ops.append(("add", eid, src, dst, rel, weight, directed))
                return eid

            def _del(edge_id: int) -> None:
                # rolling back an in-bulk add frees its key for later adds
                # in THIS bulk; the op itself still replays (a rolled-back
                # add must still fail validation the way sequential
                # execution would have)
                if eager_validation:
                    if edge_id >= start_eid:
                        if edge_id not in batch_keys.values():
                            raise ValueError(f"no such edge: [{edge_id}]")
                    else:
                        if edge_id in eager_dels:
                            raise ValueError(f"no such edge: [{edge_id}]")
                        rows = self._find("edges", [edge_id]).to_pylist()
                        if not rows:
                            raise ValueError(f"no such edge: [{edge_id}]")
                        eager_dels.add(edge_id)
                        eager_del_keys.add(
                            (rows[0]["src"], rows[0]["dst"], rows[0]["rel"])
                        )
                for key, eid in list(batch_keys.items()):
                    if eid == edge_id:
                        del batch_keys[key]
                        break
                ops.append(("del", edge_id))

            class GraphUpdater:
                def add_edge(self, doc1: int, doc2: int, relationship: int,
                             weight: Optional[float] = None) -> int:
                    return _add(doc1, doc2, relationship, weight, False)

                def add_directed_edge(self, from_doc: int, to_doc: int,
                                      relationship: int,
                                      weight: Optional[float] = None) -> int:
                    return _add(from_doc, to_doc, relationship, weight, True)

                def del_edge(self, edge_id: int) -> None:
                    _del(edge_id)

            yield GraphUpdater()

            if not ops:
                return

            # -- batched prefetch: three driver reads -----------------------
            need_keys = sorted(
                {(op[2], op[3], op[4]) for op in ops if op[0] == "add"}
            )
            need_docs = sorted(
                {i for op in ops if op[0] == "add" for i in op[2:5]}
            )
            persisted_keys = self._stored_edge_keys(need_keys)
            found_docs = set(self._find("docs", need_docs).column("id").to_pylist())
            persisted_del_ids = sorted(
                {op[1] for op in ops if op[0] == "del" and op[1] < start_eid}
            )
            del_map = {
                r["edge_id"]: (r["src"], r["dst"], r["rel"])
                for r in self._find("edges", persisted_del_ids).to_pylist()
            }

            # -- sequential replay (first violation wins) ------------------
            adds: list[tuple] = []
            dels: set[int] = set()
            sim_keys: dict[tuple, int] = {}
            del_keys: set[tuple] = set()
            for op in ops:
                if op[0] == "add":
                    _, eid, src, dst, rel, weight, directed = op
                    for i in (src, dst, rel):
                        if i not in found_docs:
                            raise ValueError(f"no such doc: {i}")
                    key = (src, dst, rel)
                    if key in sim_keys or (
                        key not in del_keys and key in persisted_keys
                    ):
                        raise RuntimeError(
                            f"edge ({src}, {dst}, {rel}) already exists"
                        )
                    del_keys.discard(key)
                    sim_keys[key] = eid
                    adds.append((eid, src, dst, rel, weight, directed))
                else:
                    edge_id = op[1]
                    rolled_back = next(
                        (k for k, e in sim_keys.items() if e == edge_id), None
                    )
                    if rolled_back is not None:
                        del sim_keys[rolled_back]
                        adds[:] = [a for a in adds if a[0] != edge_id]
                        continue
                    row_key = del_map.get(edge_id)
                    if row_key is None or edge_id in dels:
                        raise ValueError(f"no such edge: [{edge_id}]")
                    dels.add(edge_id)
                    del_keys.add(row_key)

            if not adds and not dels:
                return
            added = self.wh.arrow_table("edges", adds)

            def patch(post: pa.Table) -> pa.Table:
                if dels:
                    post = post.filter(pc.invert(pc.is_in(
                        post.column("edge_id"),
                        value_set=pa.array(list(dels), pa.int64()),
                    )))
                return pa.concat_tables([post, added])

            def write():
                keys = [a[0] for a in adds] + list(dels)
                return self._rewrite("edges", keys, patch)

            if dels:
                write()  # a delete may lower max(edge_id): the stamp drops it
            else:
                self._commit("edges", write, next_id=max(a[0] for a in adds) + 1)

    def add_edge(self, doc1: int, doc2: int, relationship: int,
                 weight: Optional[float] = None) -> int:
        with self.bulk_graph_update() as g:
            return g.add_edge(doc1, doc2, relationship, weight)

    def add_directed_edge(self, from_doc: int, to_doc: int, relationship: int,
                          weight: Optional[float] = None) -> int:
        with self.bulk_graph_update() as g:
            return g.add_directed_edge(from_doc, to_doc, relationship, weight)

    def del_edge(self, edge_id: int) -> None:
        with self.bulk_graph_update() as g:
            g.del_edge(edge_id)

    def build_networkx_graph(self, multigraph: bool = True):
        """kb.py:681-722 golden semantics (tests/test_kb.py:626-728):
        directedness auto-detected; undirected edges in a directed graph
        expand to reciprocal arcs; nodes are endpoint docs only; edge
        attrs: edge_doc (= rel record) and weight when non-NULL."""
        try:
            import networkx as nx
        except ImportError as e:  # pragma: no cover
            raise RuntimeError("networkx is not installed") from e

        edge_rows = self.wh.read_arrow("edges").sort_by("edge_id").to_pylist()
        any_directed = any(r["directed"] for r in edge_rows)
        if any_directed:
            g = nx.MultiDiGraph() if multigraph else nx.DiGraph()
        else:
            g = nx.MultiGraph() if multigraph else nx.Graph()
        needed = sorted(
            {r["src"] for r in edge_rows} | {r["dst"] for r in edge_rows}
            | {r["rel"] for r in edge_rows}
        )
        recs = {
            r["id"]: self._to_record(r, False)
            for r in self._find("docs", needed).to_pylist()
        }
        for r in edge_rows:
            attrs = {"edge_doc": recs[r["rel"]]}
            if r["weight"] is not None:
                attrs["weight"] = r["weight"]
            g.add_edge(r["src"], r["dst"], **attrs)
            if any_directed and not r["directed"]:
                g.add_edge(r["dst"], r["src"], **attrs)
        for node in list(g.nodes):
            g.nodes[node]["doc"] = recs[node]
        return g

    # -- key/value (K1-K5) --------------------------------------------------------

    @contextmanager
    def bulk_keyval_update(self):
        """kb.py:1731-1795: dict-like KV ops committed atomically.
        get() default semantics (kb.py:1746-1756): missing key raises
        KeyError; an Exception-subclass default is raised; any other
        default is returned. The table is read and, when the block
        changed it, rewritten in the driver: a read-only block commits
        nothing. The keyval writer lock is held from the read to the
        commit, so no other writer's key is lost."""
        with self.wh.write_lock("keyval"):
            state = self._read_kv("keyval")
            before = _encode_kv(state)

            class KV:
                def get(self, key: str, default: Any = _MISSING) -> Any:
                    if key in state:
                        return state[key]
                    if default is _MISSING:
                        raise KeyError(key)
                    if isinstance(default, type) and issubclass(default, Exception):
                        raise default(key)
                    if isinstance(default, Exception):
                        raise default
                    return default

                def set(self, key: str, val: Any) -> None:
                    _encode_val(val)  # validate type early
                    state[key] = val

                def remove(self, key: str) -> None:
                    if key not in state:
                        raise KeyError(key)
                    del state[key]

                def has(self, key: str) -> bool:
                    return key in state

                def count(self) -> int:
                    return len(state)

                def items(self) -> List[tuple]:
                    return sorted(state.items())

                __contains__ = has
                __len__ = count

                def __getitem__(self, key: str) -> Any:
                    return self.get(key)

                def __setitem__(self, key: str, val: Any) -> None:
                    self.set(key, val)

                def __delitem__(self, key: str) -> None:
                    self.remove(key)

                def __iter__(self) -> Iterator[str]:
                    return iter(sorted(state))

            yield KV()
            if _encode_kv(state) != before:
                self._write_kv("keyval", state)


def _kb_register_views(self: KnowledgeBase, prefix: str = "kb") -> None:
    """Expose the KB tables to spark.sql as temp views
    (``<prefix>_docs``, ``<prefix>_edges``, ``<prefix>_keyval``) — the
    SQL string surface the reference never had: any svs KB becomes
    queryable with joins/aggregations/windows over its documents,
    vectors, graph, and KV data."""
    self.docs.createOrReplaceTempView(f"{prefix}_docs")
    self.edges.createOrReplaceTempView(f"{prefix}_edges")
    self.wh.read("keyval").createOrReplaceTempView(f"{prefix}_keyval")


def _kb_sql(self: KnowledgeBase, query: str, prefix: str = "kb"):
    """Run a SQL query against the registered KB views (registers them
    first)."""
    self.register_views(prefix)
    return self.spark.sql(query)


KnowledgeBase.register_views = _kb_register_views
KnowledgeBase.sql = _kb_sql
