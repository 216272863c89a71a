"""AsyncKnowledgeBase: the reference-AsyncKB-shaped facade
(/root/reference/src/svs/kb.py:925-1407) over the Spark engine.

Semantics are inherited from the sync KnowledgeBase (separately golden-
tested in test_kb.py); these tests pin the ASYNC contract itself: lazy
open, lock serialization, context-manager guards, commit-on-exit,
abort-on-error, and cooperative concurrency."""

from __future__ import annotations

import asyncio

import pytest

from svs_spark.functions.embeddings import make_mock_embeddings_func
from svs_spark.kb_async import AsyncKnowledgeBase


def run(coro):
    return asyncio.run(coro)


@pytest.fixture()
def akb(spark, tmp_path):
    return AsyncKnowledgeBase(
        spark,
        str(tmp_path / "akb"),
        embedding_func=make_mock_embeddings_func(),
        embedding_params={"provider": "mock"},
        force_fresh_db=True,
    )


def test_lazy_open_and_lifecycle(akb):
    async def flow():
        # nothing opened yet (reference: _ensure_db on first use)
        assert akb._kb is None
        async with akb.bulk_add_docs() as adder:
            root = await adder.add_doc("root doc")
            child = await adder.add_doc("child doc", parent_id=root)
        assert akb._kb is not None
        assert await akb.count() == 2
        async with akb.bulk_query_docs() as q:
            d = await q.query_doc(child)
            assert d["parent_id"] == root and d["level"] == 1
            kids = await q.query_children(root)
            assert [k["id"] for k in kids] == [child]
            order = await q.dfs_traversal()
            assert [d["id"] for d in order] == [root, child]
        hits = await akb.retrieve("root doc", 1)
        assert len(hits) == 1
        return True

    assert run(flow())


def test_close_reopen_without_rewipe(akb):
    async def flow():
        async with akb.bulk_add_docs() as adder:
            await adder.add_doc("persist me")
        await akb.close()
        assert akb._kb is None
        # reopen on next use; force_fresh_db must NOT re-apply
        assert await akb.count() == 1

    run(flow())


def test_adder_guard_after_exit(akb):
    async def flow():
        async with akb.bulk_add_docs() as adder:
            await adder.add_doc("a")
        with pytest.raises(AssertionError):
            await adder.add_doc("too late")

    run(flow())


def test_abort_on_error_writes_nothing(akb):
    async def flow():
        with pytest.raises(RuntimeError):
            async with akb.bulk_add_docs() as adder:
                await adder.add_doc("doomed")
                raise RuntimeError("abort")
        assert await akb.count() == 0

    run(flow())


def test_graph_update_and_cascade(akb):
    async def flow():
        async with akb.bulk_add_docs() as adder:
            a = await adder.add_doc("a")
            b = await adder.add_doc("b")
            r = await adder.add_doc("rel")
        async with akb.bulk_graph_update() as g:
            await g.add_edge(a, b, r)
            with pytest.raises(RuntimeError):
                await g.add_edge(a, b, r)  # in-bulk dup
            assert await g.count_edges() == 0  # not committed yet
        assert await akb.count_edges() == 1
        async with akb.bulk_graph_update() as g:
            nx_g = await g.build_networkx_graph()
            assert nx_g.number_of_edges() == 1
        # deleting an endpoint cascades its edges
        async with akb.bulk_del_docs() as deleter:
            await deleter.del_doc(b)
        assert await akb.count_edges() == 0
        assert await akb.count() == 2

    run(flow())


def test_del_parent_guard(akb):
    async def flow():
        async with akb.bulk_add_docs() as adder:
            root = await adder.add_doc("root")
            await adder.add_doc("kid", parent_id=root)
        with pytest.raises(RuntimeError):
            async with akb.bulk_del_docs() as deleter:
                await deleter.del_doc(root)  # still has a child
        assert await akb.count() == 2

    run(flow())


def test_keyval_typed_roundtrip_and_items(akb):
    async def flow():
        async with akb.bulk_keyval_update() as kv:
            await kv.set("i", 7)
            await kv.set("f", 1.5)
            await kv.set("s", "str")
            await kv.set("b", b"\x00\x01")
            assert await kv.get("i") == 7
            assert await kv.get("nope", "dflt") == "dflt"
            with pytest.raises(KeyError):
                await kv.get("nope")
            with pytest.raises(ValueError):
                await kv.get("nope", ValueError)
            with pytest.raises(KeyError):
                await kv.remove("nope")
            assert await kv.count() == 4
            got = {}
            async for k, v in kv.items():
                got[k] = v
            assert got == {"i": 7, "f": 1.5, "s": "str", "b": b"\x00\x01"}
        # persisted: visible in a fresh context
        async with akb.bulk_keyval_update() as kv:
            assert await kv.has("b") and await kv.get("f") == 1.5

    run(flow())


def test_concurrent_adds_serialize(akb):
    """The per-bulk inner lock must serialize concurrent coroutines'
    adds (reference's per-bulk asyncio.Lock): ids all distinct, all
    docs land."""

    async def flow():
        async with akb.bulk_add_docs() as adder:
            ids = await asyncio.gather(
                *[adder.add_doc(f"doc {i}") for i in range(16)]
            )
        assert len(set(ids)) == 16
        assert await akb.count() == 16

    run(flow())


def test_concurrent_queries_outside_bulk(akb):
    async def flow():
        async with akb.bulk_add_docs() as adder:
            await adder.add_doc("x")
        counts = await asyncio.gather(*[akb.count() for _ in range(8)])
        assert counts == [1] * 8

    run(flow())


def test_commit_time_validation_error_propagates_and_recovers(akb):
    """An error raised BY the bulk's exit-commit (bulk_del_docs' check
    of the ids it was given) — as opposed to one thrown INTO the
    context — must propagate out of the async context manager, write
    nothing, and leave the KB lock usable for the next bulk."""

    async def flow():
        async with akb.bulk_add_docs() as adder:
            d1 = await adder.add_doc("a")
            await adder.add_doc("b")
        with pytest.raises(ValueError, match="no such doc: 99999"):
            async with akb.bulk_del_docs() as deleter:
                await deleter.del_doc(d1)
                await deleter.del_doc(99999)  # raises at the exit
        assert await akb.count() == 2
        async with akb.bulk_del_docs() as deleter:
            await deleter.del_doc(d1)
        assert await akb.count() == 1

    run(flow())


def test_call_time_graph_error_writes_nothing_and_recovers(akb):
    """An edge call's error raises at that await; caught, the bulk keeps
    its other edges, and uncaught, it leaves the block, writes nothing,
    and leaves the KB lock usable for the next bulk."""

    async def flow():
        async with akb.bulk_add_docs() as adder:
            d1 = await adder.add_doc("a")
            d2 = await adder.add_doc("b")
        async with akb.bulk_graph_update() as g:
            with pytest.raises(ValueError, match="no such doc: 99999"):
                await g.add_edge(d1, 99999, d2)
            await g.add_edge(d1, d2, d1)
        assert await akb.count_edges() == 1
        with pytest.raises(ValueError, match="no such doc: 99999"):
            async with akb.bulk_graph_update() as g:
                await g.add_edge(d2, d1, d1)
                await g.add_edge(d1, 99999, d2)  # missing endpoint
        assert await akb.count_edges() == 1
        async with akb.bulk_graph_update() as g:
            await g.add_edge(d2, d1, d1)
        assert await akb.count_edges() == 2

    run(flow())
