"""Async twin of :class:`svs_spark.kb.KnowledgeBase`.

Parity target: the reference ``AsyncKB``
(/root/reference/src/svs/kb.py:925-1407). The reference builds its
async surface by dispatching every blocking operation to a worker
thread via ``run_in_executor`` under an ``asyncio.Lock``; this module
applies the identical recipe around the Spark-backed sync engine —
the event loop never blocks on a Spark job, concurrent coroutines
serialize exactly like the reference's ``db_lock``, and each bulk
context manager guards its operations with a per-bulk inner lock and
an ``in_context_manager`` flag, matching the reference's semantics
(including "may not call outside the context manager" assertions).

Like the reference, the database opens lazily on first use
(``_ensure_kb`` ≡ ``AsyncKB._ensure_db``), ``close()`` drops the
handle so the next call reopens, and ``force_fresh_db`` applies at
that first open. No query/mutation semantics live here — every
operation delegates to the sync operator, so the whole driver-gated
behavior surface (level calc, cascade guards, (src,dst,rel)
uniqueness, keyval typing, tie-breaks) is inherited, not duplicated.
"""

from __future__ import annotations

import asyncio
from contextlib import asynccontextmanager
from typing import Any, AsyncIterator, List, Optional, Tuple

from pyspark.sql import SparkSession

from svs_spark.kb import KnowledgeBase


async def _to_thread(fn, /, *args, **kwargs):
    loop = asyncio.get_running_loop()
    if kwargs or args:
        from functools import partial

        fn = partial(fn, *args, **kwargs)
    return await loop.run_in_executor(None, fn)


class AsyncKnowledgeBase:
    """``AsyncKB``-shaped facade over the Spark KnowledgeBase."""

    def __init__(
        self,
        spark: SparkSession,
        path_or_url: str,
        embedding_func=None,
        embedding_params: Optional[dict] = None,
        force_fresh_db: bool = False,
    ) -> None:
        self._spark = spark
        self._path_or_url = path_or_url
        self._embedding_func = embedding_func
        self._embedding_params = embedding_params
        self._force_fresh_db = force_fresh_db
        self._kb: Optional[KnowledgeBase] = None
        self._lock: Optional[asyncio.Lock] = None

    # -- lifecycle (reference kb.py:947-996) --------------------------------

    def _get_lock(self) -> asyncio.Lock:
        # lazy like the reference's _get_lock: the loop may not exist
        # at construction time
        if self._lock is None:
            self._lock = asyncio.Lock()
        return self._lock

    async def _ensure_kb(self) -> KnowledgeBase:
        if self._kb is None:

            def heavy() -> KnowledgeBase:
                return KnowledgeBase(
                    self._spark,
                    self._path_or_url,
                    embedding_func=self._embedding_func,
                    embedding_params=self._embedding_params,
                    force_fresh_db=self._force_fresh_db,
                )

            self._kb = await _to_thread(heavy)
            # force_fresh_db applies only to the FIRST open — a
            # DELIBERATE DIVERGENCE from the reference, whose AsyncKB
            # keeps the flag sticky and re-wipes the DB on every reopen
            # after close() (reference kb.py: force_fresh_db is never
            # cleared). Silently destroying data on reopen is a
            # footgun; callers wanting the reference behavior can set
            # ._force_fresh_db = True again before reopening.
            self._force_fresh_db = False
        return self._kb

    async def load(self) -> None:
        async with self._get_lock():
            kb = await self._ensure_kb()
            await _to_thread(kb.load)

    async def close(
        self, vacuum: bool = False, also_gzip: bool = False
    ) -> None:
        async with self._get_lock():
            kb = await self._ensure_kb()
            await _to_thread(kb.close, vacuum=vacuum, also_gzip=also_gzip)
            self._kb = None

    # -- queries ------------------------------------------------------------

    async def count(self) -> int:
        async with self._get_lock():
            kb = await self._ensure_kb()
            return await _to_thread(kb.count)

    async def count_edges(self) -> int:
        async with self._get_lock():
            kb = await self._ensure_kb()
            return await _to_thread(kb.count_edges)

    @asynccontextmanager
    async def bulk_query_docs(self) -> AsyncIterator["AsyncDocQuerier"]:
        """Reference kb.py:1090-1169: a querier whose methods are valid
        only inside the context."""
        async with self._get_lock():
            kb = await self._ensure_kb()
            guard = _CmGuard()
            try:
                yield AsyncDocQuerier(kb, guard)
            finally:
                guard.open = False

    async def retrieve(self, query: str, n: int) -> List[dict]:
        async with self._get_lock():
            kb = await self._ensure_kb()
            return await _to_thread(kb.retrieve, query, n)

    async def document_top_pairwise_scores(
        self, top_n: int
    ) -> List[tuple]:
        async with self._get_lock():
            kb = await self._ensure_kb()
            return await _to_thread(kb.document_top_pairwise_scores, top_n)

    async def fetch_doc_with_emb_id(self, emb_id: int) -> dict:
        async with self._get_lock():
            kb = await self._ensure_kb()
            return await _to_thread(kb.fetch_doc_with_emb_id, emb_id)

    # -- bulk mutations ------------------------------------------------------

    @asynccontextmanager
    async def bulk_add_docs(self) -> AsyncIterator["AsyncDocumentAdder"]:
        """Reference kb.py:1018-1064: stage adds via the async adder;
        the commit (embedding backfill + atomic write) runs in a worker
        thread when the context exits cleanly."""
        async with self._get_lock():
            kb = await self._ensure_kb()
            async with _async_over_sync_cm(kb.bulk_add_docs()) as (
                add_doc,
                guard,
                inner,
            ):
                yield AsyncDocumentAdder(add_doc, guard, inner)

    @asynccontextmanager
    async def bulk_del_docs(self) -> AsyncIterator["AsyncDocumentDeleter"]:
        async with self._get_lock():
            kb = await self._ensure_kb()
            async with _async_over_sync_cm(kb.bulk_del_docs()) as (
                del_doc,
                guard,
                inner,
            ):
                yield AsyncDocumentDeleter(del_doc, guard, inner)

    @asynccontextmanager
    async def bulk_graph_update(self) -> AsyncIterator["AsyncGraphUpdater"]:
        """Reference kb.py:1246-1320: each edge call raises at the call,
        as KnowledgeBase.bulk_graph_update's do."""
        async with self._get_lock():
            kb = await self._ensure_kb()
            async with _async_over_sync_cm(kb.bulk_graph_update()) as (
                updater,
                guard,
                inner,
            ):
                yield AsyncGraphUpdater(kb, updater, guard, inner)

    @asynccontextmanager
    async def bulk_keyval_update(self) -> AsyncIterator["AsyncKeyVal"]:
        async with self._get_lock():
            kb = await self._ensure_kb()
            async with _async_over_sync_cm(kb.bulk_keyval_update()) as (
                kv,
                guard,
                inner,
            ):
                yield AsyncKeyVal(kv, guard, inner)


class _CmGuard:
    """The reference's ``in_context_manager`` flag as an object the
    yielded querier can hold after the closure scope ends."""

    def __init__(self) -> None:
        self.open = True

    def check(self) -> None:
        assert self.open, (
            "You may not call this function outside of the context manager!"
        )


@asynccontextmanager
async def _async_over_sync_cm(cm):
    """Drive a sync @contextmanager from async land: __enter__ and
    __exit__ each run in a worker thread (the exit is where bulk CMs
    commit — file writes that must not block the loop). Yields
    (entered_value, guard, inner_lock); the inner lock serializes the
    bulk's operations like the reference's per-bulk ``lock``."""
    value = await _to_thread(cm.__enter__)
    guard = _CmGuard()
    inner = asyncio.Lock()
    try:
        yield value, guard, inner
    except BaseException as e:
        guard.open = False
        if not await _to_thread(cm.__exit__, type(e), e, e.__traceback__):
            raise
    else:
        guard.open = False
        await _to_thread(cm.__exit__, None, None, None)


class AsyncDocumentAdder:
    """Async twin of the adder (reference AsyncDocumentAdder)."""

    def __init__(self, add_doc, guard: _CmGuard, lock: asyncio.Lock) -> None:
        self._add = add_doc
        self._guard = guard
        self._lock = lock

    async def add_doc(
        self,
        text: str,
        parent_id: Optional[int] = None,
        meta: Optional[dict] = None,
        no_embedding: bool = False,
    ) -> int:
        self._guard.check()
        async with self._lock:
            return await _to_thread(
                self._add,
                text,
                parent_id=parent_id,
                meta=meta,
                no_embedding=no_embedding,
            )

    # the reference adder is also directly awaitable-callable
    __call__ = add_doc


class AsyncDocumentDeleter:
    def __init__(self, del_doc, guard: _CmGuard, lock: asyncio.Lock) -> None:
        self._del = del_doc
        self._guard = guard
        self._lock = lock

    async def del_doc(self, doc_id: int) -> None:
        self._guard.check()
        async with self._lock:
            await _to_thread(self._del, doc_id)

    __call__ = del_doc


class AsyncDocQuerier:
    """Reference kb.py:1090-1169 querier surface."""

    def __init__(self, kb: KnowledgeBase, guard: _CmGuard) -> None:
        self._kb = kb
        self._guard = guard
        self._lock = asyncio.Lock()

    async def _run(self, fn, *args, **kwargs):
        self._guard.check()
        async with self._lock:
            return await _to_thread(fn, *args, **kwargs)

    async def count(self) -> int:
        return await self._run(self._kb.count)

    async def query_doc(
        self, doc_id: int, include_embedding: bool = False
    ) -> dict:
        return await self._run(self._kb.query_doc, doc_id, include_embedding)

    async def query_children(
        self, parent_id: Optional[int], include_embedding: bool = False
    ) -> List[dict]:
        return await self._run(
            self._kb.query_children, parent_id, include_embedding
        )

    async def query_level(
        self, level: int, include_embedding: bool = False
    ) -> List[dict]:
        return await self._run(self._kb.query_level, level, include_embedding)

    async def dfs_traversal(
        self, include_embedding: bool = False
    ) -> List[dict]:
        return await self._run(self._kb.dfs_traversal, include_embedding)

    async def update_doc_meta(
        self, doc_id: int, new_meta: Optional[dict]
    ) -> None:
        return await self._run(self._kb.update_doc_meta, doc_id, new_meta)

    async def set_doc_embedding(self, doc_id: int, embedding) -> None:
        return await self._run(self._kb.set_doc_embedding, doc_id, embedding)

    async def fetch_doc_with_emb_id(self, emb_id: int) -> dict:
        return await self._run(self._kb.fetch_doc_with_emb_id, emb_id)


class AsyncGraphUpdater:
    """Reference kb.py:1246-1320 updater surface (count_edges and
    networkx export are queries the reference exposes on the same
    interface)."""

    def __init__(self, kb, updater, guard: _CmGuard, lock: asyncio.Lock):
        self._kb = kb
        self._u = updater
        self._guard = guard
        self._lock = lock

    async def _run(self, fn, *args, **kwargs):
        self._guard.check()
        async with self._lock:
            return await _to_thread(fn, *args, **kwargs)

    async def add_edge(
        self,
        doc1: int,
        doc2: int,
        relationship: int,
        weight: Optional[float] = None,
    ) -> int:
        return await self._run(self._u.add_edge, doc1, doc2, relationship, weight)

    async def add_directed_edge(
        self,
        from_doc: int,
        to_doc: int,
        relationship: int,
        weight: Optional[float] = None,
    ) -> int:
        return await self._run(
            self._u.add_directed_edge, from_doc, to_doc, relationship, weight
        )

    async def del_edge(self, edge_id: int) -> None:
        return await self._run(self._u.del_edge, edge_id)

    async def count_edges(self) -> int:
        return await self._run(self._kb.count_edges)

    async def build_networkx_graph(self, multigraph: bool = True):
        return await self._run(self._kb.build_networkx_graph, multigraph)


class AsyncKeyVal:
    """Reference kb.py:1322-1399 key-value surface, including the
    async-iterator ``items()``."""

    def __init__(self, kv, guard: _CmGuard, lock: asyncio.Lock) -> None:
        self._kv = kv
        self._guard = guard
        self._lock = lock

    async def _run(self, fn, *args, **kwargs):
        self._guard.check()
        async with self._lock:
            return await _to_thread(fn, *args, **kwargs)

    async def has(self, key: str) -> bool:
        return await self._run(self._kv.has, key)

    async def get(self, key: str, default: Any = KeyError) -> Any:
        # mirror the sync twin's default-vs-Exception dispatch exactly
        # by passing through (the sync side implements kb.py:1339-1352)
        if default is KeyError:
            return await self._run(self._kv.get, key)
        return await self._run(self._kv.get, key, default)

    async def set(self, key: str, val: Any) -> None:
        return await self._run(self._kv.set, key, val)

    async def remove(self, key: str) -> None:
        return await self._run(self._kv.remove, key)

    async def count(self) -> int:
        return await self._run(self._kv.count)

    async def items(self) -> AsyncIterator[Tuple[str, Any]]:
        """Async iterator over (key, value) — the reference streams
        through a queue; the Spark side's keyval table is a bounded
        collect, so the thread fetch happens once and yields cooperate
        with the loop."""
        pairs = await self._run(self._kv.items)
        for kv in pairs:
            await asyncio.sleep(0)
            yield tuple(kv)
