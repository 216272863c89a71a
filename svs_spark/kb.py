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
(children, levels, counts, the delete guard and cascade search) read
the columns they test from the whole table. The warehouse decodes each
data file once and serves it again while the manifest lists it, so a
call pays for reading the table's manifest and for the files changed
since the last read; the next id and the edge calls' checks use what
each file holds (its largest key, its doc ids, its edge keys), derived
once per file and kept beside it (``Warehouse.map_files``). ``retrieve``
scores each file's vectors, kept decoded on the file's cache entry,
with the same float64 fold as ``functions.vector.dot``, and selects its
top n once from the table's scores — the analogue of the reference's
RAM matrix (``kb.py:856-893``), rebuilt per file only after a write.
Records carry a doc's vector only when the caller asks for it; the
others never turn the vector column into Python values. The
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
next read. The reference's async API is ``kb_async.AsyncKnowledgeBase``,
which runs each call of this class in a worker thread.
"""

from __future__ import annotations

import base64
import datetime
import functools
import itertools
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
# (src, dst, rel) uniqueness check is not keyed by the bucket key: it
# looks in every edges file's key index (``_edge_index``).
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


def _retrieve_scores(decoded: tuple, q: np.ndarray) -> tuple:
    """``(ids, rank, scores)`` of the rows of one docs file that have a
    vector (its :func:`_retrieve_decode`) against the query ``q``.
    Scores are ``functions.vector.dot_many``'s, bit-equal to the Spark
    ``dot`` fold. ``rank`` orders before the score, the way Spark's
    descending sort places the values: 2 for a NaN score (first), 1 for
    a number, 0 for a null score (last) — a vector whose length differs
    from the query's, or that holds a null; the score of a rank other
    than 1 is 0.0."""
    ids, lens, bad, flat = decoded
    ok = (lens == len(q)) & ~bad
    scores = np.zeros(len(ids))
    # every vector scored: the decoded values are the matrix as they lie
    vals = flat if ok.all() else flat[np.repeat(ok, lens)]
    scores[ok] = dot_many(vals.reshape(int(ok.sum()), len(q)), q)
    rank = ok.astype(np.int8)
    rank[ok & np.isnan(scores)] = 2
    scores[rank != 1] = 0.0
    return ids, rank, scores


def _retrieve_candidates(rank: np.ndarray, scores: np.ndarray,
                         n: int) -> np.ndarray:
    """Indices of the scored rows (:func:`_retrieve_scores` of every
    docs file, end to end) that can be in the top ``n``: the finite
    scores ``topk_ties`` keeps, boundary ties included, and all of the
    rare others."""
    finite = (rank == 1) & np.isfinite(scores)
    pick = np.flatnonzero(finite)
    [top] = topk_ties(scores[pick], n)
    return np.concatenate([pick[top], np.flatnonzero(~finite)])


# What the calls below derive from one data file, each kept on the
# file's cache entry by ``Warehouse.map_files`` while a manifest lists it.

# table -> the largest bucket key of one of its files: the next id
_KEY_MAX = {
    table: lambda part, col=col: pc.max(part.column(col)).as_py()
    for table, (col, _n) in BUCKET_KEYS.items()
}


def _doc_ids(part: pa.Table) -> set:
    """The ids of one docs file."""
    return set(part.column("id").to_pylist())


def _edge_index(part: pa.Table) -> tuple[dict, set]:
    """``(src, dst, rel) -> edge_id`` and the edge ids of one edges
    file."""
    eids = part.column("edge_id").to_pylist()
    keys = zip(*(part.column(c).to_pylist() for c in ("src", "dst", "rel")))
    return dict(zip(keys, eids)), set(eids)


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
            if self.wh.bucket_meta(table) is None:
                rows = (self.wh.read_arrow(table) if self.wh.exists(table)
                        else self.wh.arrow_table(table, []))
                self.wh.write_bucketed(table, rows, *BUCKET_KEYS[table])

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

    def _find(self, table: str, keys, columns=None) -> pa.Table:
        """The rows of ``table`` whose bucket key is in ``keys``, read
        in the driver from only the buckets that can hold them, projected
        to ``columns`` (the bucket key among them) when given."""
        keys = list(keys)
        rows = self.wh.read_arrow(table, keys, columns)
        col = rows.column(BUCKET_KEYS[table][0])
        return rows.filter(pc.is_in(col, value_set=pa.array(keys, col.type)))

    # -- id allocation: max(id) + 1 -------------------------------------------

    def _next_id(self, table: str) -> int:
        """The largest bucket key of the current ``table`` plus 1 (1 when
        it is empty), from each file's largest key: after a commit only
        the file it wrote, already decoded, is looked at."""
        tops = [t for t in self.wh.map_files(table, _KEY_MAX[table])
                if t is not None]
        return max(tops, default=0) + 1

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

        self._rewrite("docs", [doc_id], patch)

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
            ids = itertools.count(self._next_id("docs"))

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
                    found = self._find("docs", [parent_id], ["id", "level"])
                    if not found.num_rows:
                        raise ValueError(f"invalid parent_id: {parent_id}")
                    known_levels[parent_id] = found.column("level")[0].as_py()
                    level = known_levels[parent_id] + 1
                doc_id = next(ids)
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
            self._rewrite("docs", [p[0] for p in pending],
                          lambda cur: pa.concat_tables([cur, new_rows]))

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
        # one action counts the new docs and those whose id is taken
        # (doc ids are unique, so the left join keeps one row per new doc)
        n_new, clash = new_rows.select("id").join(
            self.docs.select("id", F.lit(True).alias("taken")),
            on="id", how="left",
        ).agg(F.count("*"), F.count("taken")).first()
        if clash:
            raise ValueError(f"{clash} incoming doc ids already exist")
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

        # the edges lock from the search to the commit: an open edge bulk
        # that found a deleted doc commits first, so its edges cascade too
        with self.wh.write_lock("edges"):
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
    def _to_record(row: dict) -> dict:
        """One doc row, as :meth:`_records` hands it over, as a record."""
        return {
            "id": row["id"],
            "parent_id": row["parent_id"],
            "level": row["level"],
            "text": row["text"],
            "embedding": row["embedding"],
            "meta": json.loads(row["meta"]) if row["meta"] is not None else None,
        }

    @classmethod
    def _records(cls, rows: pa.Table, include_embedding: bool) -> List[dict]:
        """The records of doc ``rows``, in order. Without
        ``include_embedding`` a record's ``embedding`` is whether the doc
        has a vector (svs's tri-state field, kb.py:442-473), taken in
        Arrow before the rows become Python objects: vectors the caller
        did not ask for are never turned into Python floats."""
        if not include_embedding:
            i = rows.schema.get_field_index("embedding")
            rows = rows.set_column(i, "embedding", pc.is_valid(rows.column(i)))
        return [cls._to_record(r) for r in rows.to_pylist()]

    def query_doc(self, doc_id: int, include_embedding: bool = False) -> dict:
        """One doc's record, read in the driver from the one bucket that
        can hold it (1/DOCS_BUCKETS of the table)."""
        recs = self._records(self._find("docs", [doc_id]), include_embedding)
        if not recs:
            raise KeyError(f"no such doc: {doc_id}")
        return recs[0]

    def _docs_where(self, col: str, value, include_embedding: bool) -> List[dict]:
        """Records of the docs whose ``col`` equals ``value``, by id: the
        ``id`` and ``col`` columns of the whole table are read and
        filtered in the driver, then the matches' buckets are read."""
        links = self.wh.read_arrow("docs", None, ["id", col])
        ids = links.filter(pc.equal(links.column(col), value)).column("id")
        rows = self._find("docs", ids.to_pylist()).sort_by("id")
        return self._records(rows, include_embedding)

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
        recs = {r["id"]: r for r in self._records(
            self._find("docs", order), include_embedding
        )}
        # unless a concurrent commit deleted it
        return [recs[i] for i in order if i in recs]

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
        until a commit replaces the file, see ``load``) into one score
        vector for the table, selects from it once
        (:func:`_retrieve_candidates`, then the order), and reads the
        winners' fields, without their vectors, from their buckets. The
        vectors themselves are never copied together: at 1M × 1536 that
        would be 6 GB a call. Large-corpus retrieval is
        ``operators.similarity.knn_join_batch`` and the IVF operators."""
        q = np.asarray(self.embedding_func([query])[0], dtype=np.float64)
        if n <= 0:
            return []  # reference get_top_k clamps k<=0 to [] (util.py:190-203)
        # one score vector for the table; the vectors stay in their files
        ids, rank, scores = (np.concatenate(c) for c in zip(
            (np.empty(0, np.int64), np.empty(0, np.int8), np.empty(0)),
            *(_retrieve_scores(decoded, q)
              for decoded in self.wh.map_files("docs", _retrieve_decode)),
        ))
        keep = _retrieve_candidates(rank, scores, n)
        # ids are unique, so this order is total
        top = keep[np.lexsort((ids[keep], scores[keep], rank[keep]))[::-1][:n]]
        ids, rank, scores = ids[top], rank[top], scores[top]
        recs = {r["id"]: r for r in self._records(
            self._find("docs", ids.tolist()), False
        )}
        return [
            {"score": float(s) if c else None, "doc": recs[i]}
            for i, c, s in zip(ids.tolist(), rank.tolist(), scores.tolist())
            if i in recs  # unless a concurrent commit deleted it since
        ]

    def document_top_pairwise_scores(
        self, n: int
    ) -> List[tuple[float, dict, dict]]:
        """kb.py:1642-1671: top-n pairs from the strict upper triangle.
        The pairs come from one matrix of the vectors, as in svs, so
        vectors of more than one length raise ValueError, in the driver
        before any Spark job."""
        from svs_spark.operators.similarity import block_pairwise_topk

        lens = set()
        for _ids, file_lens, _bad, _flat in self.wh.map_files(
            "docs", _retrieve_decode
        ):
            lens.update(np.unique(file_lens).tolist())
        if len(lens) > 1:
            raise ValueError(
                f"the docs hold vectors of lengths {sorted(lens)}: "
                "pairwise scores need one length"
            )
        emb = self.docs.filter(F.col("embedding").isNotNull())
        pairs = block_pairwise_topk(
            emb, n, id_col="id", vec_col="embedding", round_decimals=None
        ).collect()
        docs_by_id = {r["id"]: r for r in self._records(self._find(
            "docs", {p[k] for p in pairs for k in ("id_a", "id_b")}
        ), False)}
        return [
            (p["score"], docs_by_id[p["id_a"]], docs_by_id[p["id_b"]])
            for p in pairs
        ]

    # -- graph (G1-G6) ---------------------------------------------------------

    @contextmanager
    def bulk_graph_update(self):
        """kb.py:1673-1729: transactional edge mutations, each checked and
        applied in order when it is called, as svs does inside its
        transaction (kb.py:651/670): a duplicate (src, dst, rel) raises
        RuntimeError (kb.py:650-651), a missing endpoint or relationship
        doc or an unknown ``del_edge`` id ValueError, at that call. A
        caller that catches the error keeps the rest of the bulk; an
        error that leaves the block writes nothing. A deleted edge's key
        can be added again, and deleting an edge added in this bulk takes
        the add back.

        No call runs a Spark job. The edges writer lock is held from
        entry to the commit, so the stored edges cannot change meanwhile:
        the first call that needs them takes each edges file's key index
        (:func:`_edge_index`). Doc ids are looked up in each docs file's
        ids (:func:`_doc_ids`); docs are not locked, so an id missing
        from them is looked up once more in the current version before
        the call raises. Both are derived once per file and kept beside
        it. The commit rewrites the buckets of the added and deleted
        edge ids only."""
        with self.wh.write_lock("edges"):
            ids = itertools.count(self._next_id("edges"))
            adds: dict[int, tuple] = {}  # edge id -> row, in call order
            live: dict[tuple, int] = {}  # their (src, dst, rel) -> edge id
            deleted: set[int] = set()  # stored edge ids
            docs_ok: set[int] = set()
            # read at the first call that needs them
            stored = functools.cache(
                lambda: list(self.wh.map_files("edges", _edge_index)))
            docs = functools.cache(
                lambda: list(self.wh.map_files("docs", _doc_ids)))

            def check_doc(i: int) -> None:
                if i in docs_ok:
                    return
                for view in (docs(), self.wh.map_files("docs", _doc_ids, [i])):
                    if any(i in part for part in view):
                        docs_ok.add(i)
                        return
                raise ValueError(f"no such doc: {i}")

            def _add(src: int, dst: int, rel: int, weight: Optional[float],
                     directed: bool) -> int:
                key = (src, dst, rel)
                held = next((k[key] for k, _ in stored() if key in k), None)
                if key in live or (held is not None and held not in deleted):
                    raise RuntimeError(
                        f"edge ({src}, {dst}, {rel}) already exists"
                    )
                for i in key:
                    check_doc(i)
                eid = live[key] = next(ids)
                adds[eid] = (eid, src, dst, rel, weight, directed)
                return eid

            def _del(edge_id: int) -> None:
                if edge_id in adds:
                    del live[adds.pop(edge_id)[1:4]]
                elif edge_id in deleted or not any(
                    edge_id in e for _, e in stored()
                ):
                    raise ValueError(f"no such edge: [{edge_id}]")
                else:
                    deleted.add(edge_id)

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

            if adds or deleted:
                added = self.wh.arrow_table("edges", list(adds.values()))
                gone = pa.array(list(deleted), pa.int64())
                self._rewrite("edges", [*adds, *deleted], lambda cur: (
                    pa.concat_tables([cur.filter(pc.invert(pc.is_in(
                        cur.column("edge_id"), value_set=gone
                    ))), added])
                ))

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
        recs = {r["id"]: r for r in self._records(
            self._find("docs", needed), False
        )}
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
