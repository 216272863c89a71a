"""KnowledgeBase unit tests mirroring the reference's exact-state test
strategy (SURVEY.md §5, FIXTURES.md): deterministic embedding funcs make
ranking exactly predictable; goldens assert ids, levels, tri-state
embedding fields, DFS order, cascade deletes, KV semantics.

Golden sources: reference tests/test_kb.py (cited per test).
"""

from __future__ import annotations

import json

import pytest

from svs_spark.functions.embeddings import (
    make_keyword_embeddings_func,
    make_mock_embeddings_func,
)
from svs_spark.kb import KnowledgeBase


@pytest.fixture()
def kb(spark, tmp_path):
    return KnowledgeBase(
        spark,
        str(tmp_path / "kb"),
        embedding_func=make_mock_embeddings_func(),
        embedding_params={"provider": "mock"},
        force_fresh_db=True,
    )


@pytest.fixture()
def kw_kb(spark, tmp_path):
    return KnowledgeBase(
        spark,
        str(tmp_path / "kwkb"),
        embedding_func=make_keyword_embeddings_func(),
        embedding_params={"provider": "keyword"},
        force_fresh_db=True,
    )


def _add_fixture_docs(kb: KnowledgeBase) -> None:
    # canonical 5-row fixture (FIXTURES.md F1 / reference test_kb.py:147-216)
    with kb.bulk_add_docs() as add:
        d1 = add("first doc")
        d2 = add("second doc", parent_id=d1)
        add("third doc", meta={"test": "stuff"})
        d4 = add("forth doc", parent_id=d2, meta={"test": "again"})
        add("fifth doc", parent_id=d4, meta={"test": 5}, no_embedding=True)


class TestDocStore:
    def test_add_levels_and_ids(self, kb):
        _add_fixture_docs(kb)
        recs = {r["id"]: r for r in kb.query_level(0)}
        assert set(recs) == {1, 3}
        assert kb.query_doc(2)["level"] == 1
        assert kb.query_doc(4)["level"] == 2
        assert kb.query_doc(5)["level"] == 3
        assert kb.count() == 5 and len(kb) == 5

    def test_invalid_parent(self, kb):
        with pytest.raises(ValueError):
            with kb.bulk_add_docs() as add:
                add("orphan", parent_id=999)

    def test_embedding_tristate(self, kb):
        # reference test_kb.py:263-278: bool without include_embedding,
        # vector with it, None/False for no_embedding docs
        _add_fixture_docs(kb)
        assert kb.query_doc(1)["embedding"] is True
        assert kb.query_doc(5)["embedding"] is False
        assert kb.query_doc(1, include_embedding=True)["embedding"] == [1.0, 0.0, 0.0]
        assert kb.query_doc(5, include_embedding=True)["embedding"] is None

    def test_meta_roundtrip_and_update(self, kb):
        # reference test_kb.py:1154-1161
        _add_fixture_docs(kb)
        assert kb.query_doc(3)["meta"] == {"test": "stuff"}
        assert kb.query_doc(5)["meta"] == {"test": 5}
        kb.update_doc_meta(3, {"new": [1, 2]})
        assert kb.query_doc(3)["meta"] == {"new": [1, 2]}
        kb.update_doc_meta(3, None)
        assert kb.query_doc(3)["meta"] is None

    def test_children(self, kb):
        _add_fixture_docs(kb)
        kids = kb.query_children(2)
        assert [k["id"] for k in kids] == [4]

    def test_delete_parent_refused(self, kb):
        # reference test_kb.py:380-395
        _add_fixture_docs(kb)
        with pytest.raises(RuntimeError):
            kb.del_doc(2)
        # child-before-parent in one bulk succeeds (order-sensitive guard)
        with kb.bulk_del_docs() as dd:
            dd(5)
            dd(4)
        assert kb.count() == 3

    def test_delete_missing(self, kb):
        _add_fixture_docs(kb)
        with pytest.raises(ValueError):
            kb.del_doc(99)

    def test_dfs_order(self, kb):
        # golden order: roots ascending, children ascending, depth-first
        # (reference test_kb.py:1117-1153)
        _add_fixture_docs(kb)
        order = [r["id"] for r in kb.dfs_traversal()]
        assert order == [1, 2, 4, 5, 3]

    def test_dfs_order_with_hashed_ids(self, spark, tmp_path):
        """ADVICE r1: xxhash64 corpus ingest produces negative and
        >12-digit doc ids; DFS order must still be numeric-ascending
        (the old lpad-12 path truncated long ids and sorted negatives
        lexically after positives)."""
        kb = KnowledgeBase(
            spark, str(tmp_path / "hashed"),
            embedding_params={"provider": "mock"}, force_fresh_db=True,
        )
        ids = [-9123456789012345678, -5, 3, 42, 8765432109876543210]
        df = spark.createDataFrame(
            [(i, f"doc {i}") for i in ids], "doc_id long, text string"
        )
        kb.add_documents_df(df, no_embedding=True)
        order = [r["id"] for r in kb.dfs_traversal()]
        assert order == sorted(ids)

    def test_persistence_across_reopen(self, spark, tmp_path):
        path = str(tmp_path / "kb2")
        kb = KnowledgeBase(
            spark, path, embedding_params={"provider": "mock"},
            force_fresh_db=True,
        )
        _add_fixture_docs(kb)
        kb.close(vacuum=True)
        # reopen WITHOUT a func: embedding config rebuilt from stored
        # params (reference test_kb.py:922-971)
        kb2 = KnowledgeBase(spark, path)
        assert kb2.count() == 5
        assert kb2.query_doc(4)["meta"] == {"test": "again"}

    def test_no_func_no_params_errors(self, spark, tmp_path):
        with pytest.raises(ValueError):
            KnowledgeBase(spark, str(tmp_path / "kb3"), force_fresh_db=True)

    def test_set_doc_embedding(self, kb):
        _add_fixture_docs(kb)
        kb.set_doc_embedding(5, [0.0, 1.0, 0.0])
        assert kb.query_doc(5, include_embedding=True)["embedding"] == [0.0, 1.0, 0.0]


class TestRetrieval:
    def test_golden_rank_orders(self, kw_kb):
        # reference test_kb.py:1229-1248 golden ranks
        with kw_kb.bulk_add_docs() as add:
            add("third doc")
            add("first doc")
            add("second doc")
        def ids(q):
            return [r["doc"]["text"] for r in kw_kb.retrieve(q, 3)]
        assert ids("first") == ["first doc", "third doc", "second doc"]
        assert ids("second") == ["second doc", "first doc", "third doc"]
        assert ids("third") == ["third doc", "first doc", "second doc"]

    def test_add_then_delete_changes_ranks(self, kw_kb):
        # reference test_kb.py:1268-1318 (cache invalidation on mutation)
        with kw_kb.bulk_add_docs() as add:
            add("third doc")
            add("first doc")
            add("second doc")
        with kw_kb.bulk_add_docs() as add:
            add("forth doc")
        assert kw_kb.retrieve("forth", 1)[0]["doc"]["text"] == "forth doc"
        with kw_kb.bulk_del_docs() as dd:
            dd(1)
            dd(2)
            dd(4)
        assert kw_kb.retrieve("forth", 1)[0]["doc"]["text"] == "second doc"

    def test_pairwise_golden(self, kw_kb):
        # reference test_kb.py:1252-1266: top-2 pairs (1,2) then (2,3)
        with kw_kb.bulk_add_docs() as add:
            add("third doc")
            add("first doc")
            add("second doc")
        pairs = kw_kb.document_top_pairwise_scores(2)
        assert [(p[1]["id"], p[2]["id"]) for p in pairs] == [(1, 2), (2, 3)]

    def test_retrieve_matches_retrieve_topk(self, spark, tmp_path):
        """The driver-side retrieve returns exactly the ids, order and
        scores of ``retrieve_topk`` over ``docs``: tied vectors (id desc
        breaks the tie), negative xxhash64 ids, a doc with no vector,
        and vectors whose length differs from the query's (a null score
        in Spark, ranked after every number)."""
        import zlib

        import numpy as np
        from pyspark.sql import functions as F

        from svs_spark.operators.similarity import retrieve_topk

        def provider(texts):
            # the vector depends on the text's last word only: docs that
            # share it have identical vectors, so their scores tie
            out = []
            for t in texts:
                rng = np.random.default_rng(zlib.crc32(t.split()[-1].encode()))
                v = rng.standard_normal(8)
                out.append((v / np.linalg.norm(v)).tolist())
            return out

        kb = KnowledgeBase(spark, str(tmp_path / "parity"),
                           embedding_func=provider, force_fresh_db=True)
        with kb.bulk_add_docs() as add:
            for i in range(40):
                add(f"doc {i} g{i % 6}", no_embedding=i == 13)
        kb.add_documents_df(
            spark.createDataFrame(
                [(f"ingested {i} g{i % 4}",) for i in range(20)], "text string"
            ),
            id_col=None,
        )
        ids = [r["id"] for r in kb.docs.select("id").collect()]
        assert min(ids) < 0 < max(ids)  # xxhash64(text) ids of both signs
        kb.set_doc_embedding(5, [0.6, 0.8])  # shorter than the query
        kb.set_doc_embedding(7, [0.5] * 9)  # longer than the query
        n_scored = len(ids) - 1
        emb = kb.docs.filter(F.col("embedding").isNotNull())
        for text in ("q g0", "q g3", "q other"):
            qvec = provider([text])[0]
            for n in (1, 4, 7, 20, n_scored - 2, n_scored, n_scored + 5, 0, -1):
                want = [(r["id"], r["score"]) for r in retrieve_topk(
                    emb, qvec, n, id_col="id", vec_col="embedding"
                ).collect()]
                got = [(r["doc"]["id"], r["score"])
                       for r in kb.retrieve(text, n)]
                assert got == want, (text, n)
            assert len(got) == 0
        full = kb.retrieve("q g0", n_scored + 5)
        assert len(full) == n_scored
        assert [r["doc"]["id"] for r in full[-2:]] == [7, 5]
        assert [r["score"] for r in full[-2:]] == [None, None]
        assert all(r["doc"]["embedding"] is True for r in full)

    def test_magnitude_guard(self, spark, tmp_path):
        # reference test_kb.py:1321-1346
        def too_big(texts):
            return [[1.0, 0.1, 0.0] for _ in texts]

        kb = KnowledgeBase(
            spark, str(tmp_path / "mag"), embedding_func=too_big,
            force_fresh_db=True,
        )
        with pytest.raises(Exception, match="magnitude"):
            with kb.bulk_add_docs() as add:
                add("anything")


class TestGraph:
    def _setup(self, kb):
        with kb.bulk_add_docs() as add:
            for i in range(7):
                add(f"doc {i + 1}")

    def test_edge_crud_and_uniqueness(self, kb):
        # reference FIXTURES.md F3 / test_kb.py:511-579
        self._setup(kb)
        with kb.bulk_graph_update() as g:
            e1 = g.add_edge(2, 4, 6)
            g.add_edge(2, 4, 7)
            g.add_edge(1, 4, 6, weight=0.5)
            g.add_edge(1, 3, 7, weight=1.5)
            g.add_directed_edge(2, 3, 6)
            g.add_directed_edge(2, 5, 7, weight=2.5)
        assert e1 == 1
        assert kb.count_edges() == 6
        with pytest.raises(RuntimeError):
            kb.add_edge(2, 4, 6)  # duplicate (src, dst, rel) — kb.py:650-651
        kb.del_edge(1)
        assert kb.count_edges() == 5
        with pytest.raises(ValueError):
            kb.del_edge(99)

    def test_point_edge_mutation_touches_only_its_bucket(self, kb):
        """After the first mutation upgrades the edges table to the
        bucketed layout, a point del_edge rewrites only its edge_id's
        _pb partition — other buckets' files stay byte-identical
        (mtime+inode untouched)."""
        import os

        from svs_spark.kb import EDGES_BUCKETS
        from svs_spark.sources.warehouse import Warehouse

        self._setup(kb)
        with kb.bulk_graph_update() as g:
            for i in range(1, 7):
                g.add_edge(i, 7, i % 3 + 1)
        meta = kb.wh.bucket_meta("edges")
        assert meta == {"key_col": "edge_id", "n_buckets": EDGES_BUCKETS}

        path = kb.wh.table_path("edges")

        def inventory():
            out = {}
            for d in os.listdir(path):
                if not d.startswith("_pb="):
                    continue
                sub = os.path.join(path, d)
                out[d] = {
                    (f, os.stat(os.path.join(sub, f)).st_mtime_ns)
                    for f in os.listdir(sub)
                }
            return out

        before = inventory()
        victim = 3  # edge_id 3
        kb.del_edge(victim)
        after = inventory()
        touched = Warehouse.bucket_of(victim, EDGES_BUCKETS)
        for d in set(before) | set(after):
            if d == f"_pb={touched}":
                continue
            assert before.get(d) == after.get(d), f"{d} was rewritten"
        assert kb.count_edges() == 5

    def test_networkx_export(self, kb):
        pytest.importorskip("networkx")
        self._setup(kb)
        with kb.bulk_graph_update() as g:
            g.add_edge(2, 4, 6)          # undirected
            g.add_directed_edge(2, 3, 7)  # forces directed graph
        g = kb.build_networkx_graph()
        assert g.is_directed()
        # undirected edge expanded to both directions (kb.py:681-722)
        assert g.has_edge(2, 4) and g.has_edge(4, 2) and g.has_edge(2, 3)
        assert not g.has_edge(3, 2)
        # nodes = endpoints only; edge-type docs 6,7 are not nodes
        assert set(g.nodes) == {2, 3, 4}

    def test_edge_cascade_on_doc_delete(self, kb):
        # reference test_kb.py:683-712
        self._setup(kb)
        with kb.bulk_graph_update() as g:
            g.add_edge(2, 4, 6)
            g.add_edge(1, 3, 6)
        kb.del_doc(4)
        assert kb.count_edges() == 1  # (2,4,6) cascaded away

    def test_rel_doc_cascade(self, kb):
        self._setup(kb)
        kb.add_edge(1, 2, 6)
        kb.del_doc(6)  # rel doc delete cascades the edge too
        assert kb.count_edges() == 0

    def test_del_then_readd_same_triplet(self, kb):
        """SQLite applies ops sequentially inside the transaction, so
        deleting an edge frees its (src, dst, rel) key for re-adding in
        the SAME bulk — the executor-side validation must honor in-bulk
        deletes, not just persisted state."""
        self._setup(kb)
        e1 = kb.add_edge(2, 4, 6)
        with kb.bulk_graph_update() as g:
            g.del_edge(e1)
            e2 = g.add_edge(2, 4, 6)  # must NOT raise duplicate
        assert e2 != e1
        assert kb.count_edges() == 1

    def test_in_bulk_add_rollback(self, kb):
        """del_edge of an id added earlier in the same bulk removes the
        pending add (mirrors sequential SQLite execution)."""
        self._setup(kb)
        with kb.bulk_graph_update() as g:
            eid = g.add_edge(1, 2, 6)
            g.del_edge(eid)
            g.add_edge(1, 2, 6)  # key is free again
        assert kb.count_edges() == 1

    def test_rolled_back_add_still_validates(self, kb):
        """Sequential semantics: an add that would have raised raises
        even if a later in-bulk del would have rolled it back — the
        error happened first."""
        self._setup(kb)
        kb.add_edge(2, 4, 6)
        with pytest.raises(RuntimeError, match="already exists"):
            with kb.bulk_graph_update() as g:
                eid = g.add_edge(2, 4, 6)  # duplicate of persisted edge
                g.del_edge(eid)
        assert kb.count_edges() == 1  # nothing written by the failed bulk

    def test_eager_validation_raises_at_call_time(self, kb):
        """Reference-parity mode (ADVICE round 4): with
        eager_validation=True every persisted-state violation raises at
        the CALL, so callers can catch per-call errors, skip the bad
        edge, and keep the rest of the bulk."""
        self._setup(kb)
        kb.add_edge(2, 4, 6)
        kept = []
        with kb.bulk_graph_update(eager_validation=True) as g:
            for args in [(2, 4, 6), (1, 3, 6), (1, 99, 6), (3, 4, 6)]:
                try:
                    kept.append(g.add_edge(*args))
                except (RuntimeError, ValueError):
                    pass  # skip dup (2,4,6) and missing doc 99
        assert len(kept) == 2
        assert kb.count_edges() == 3  # the persisted one + the 2 kept

    def test_eager_validation_del_semantics(self, kb):
        """Eager del: missing ids raise immediately; del-then-re-add of
        the same triplet still works inside one eager bulk."""
        self._setup(kb)
        e1 = kb.add_edge(2, 4, 6)
        with kb.bulk_graph_update(eager_validation=True) as g:
            with pytest.raises(ValueError, match="no such edge"):
                g.del_edge(999)
            g.del_edge(e1)
            g.add_edge(2, 4, 6)  # key freed by the eager del
        assert kb.count_edges() == 1

    def test_bulk_job_count_is_constant(self, spark, kb):
        """The round-3 scale fix: a bulk of N adds runs no Spark job —
        the batched edge-key probe, the doc and del-id lookups and the
        commit all run in the driver — never a per-edge isEmpty/collect
        (100k edges was ~100k driver-dispatched jobs before)."""
        self._setup(kb)
        sc = spark.sparkContext
        sc.setJobGroup("bulk-graph-gate", "bulk job-count gate")
        try:
            with kb.bulk_graph_update() as g:
                for i in range(1, 7):
                    for j in range(i + 1, 8):
                        for rel in (1, 2, 3, 4, 5):
                            g.add_edge(i, j, rel)  # 105 edges
        finally:
            sc.setJobGroup("bulk-graph-gate-done", "")
        jobs = sc.statusTracker().getJobIdsForGroup("bulk-graph-gate")
        assert len(jobs) == 0, f"{len(jobs)} jobs for a 105-edge bulk"
        assert kb.count_edges() == 105
        assert {(r["src"], r["dst"], r["rel"]) for r in kb.edges.collect()} == {
            (i, j, rel) for i in range(1, 7) for j in range(i + 1, 8)
            for rel in (1, 2, 3, 4, 5)
        }

    def test_edge_probe_over_many_keys(self, spark, kb, monkeypatch):
        """The edge-key probe with more than 64 keys in one bulk: a
        stored key repeated raises and writes nothing, a stored key
        deleted and re-added in the same bulk commits, and a read that
        another Warehouse makes after an edges commit replaced the
        manifest, but before it unlinked the replaced bucket file, reads
        the new version, not the replaced file beside it."""
        import os

        from svs_spark.kb import TABLE_SCHEMAS
        from svs_spark.sources.warehouse import Warehouse

        self._setup(kb)
        stored = kb.add_edge(1, 2, 3)
        keys = [(i, j, rel) for i in range(1, 8) for j in range(1, 8)
                for rel in range(1, 8) if (i, j, rel) != (1, 2, 3)][:99]
        before = sorted(kb.edges.collect())
        with pytest.raises(RuntimeError, match=r"edge \(1, 2, 3\) already"):
            with kb.bulk_graph_update() as g:
                for key in keys[:60]:
                    g.add_edge(*key)
                g.add_edge(1, 2, 3)
                for key in keys[60:]:
                    g.add_edge(*key)
        assert sorted(kb.edges.collect()) == before

        with kb.bulk_graph_update() as g:
            g.del_edge(stored)
            readded = g.add_edge(1, 2, 3)
            for key in keys:
                g.add_edge(*key)
        got = {(r["src"], r["dst"], r["rel"]): r["edge_id"]
               for r in kb.edges.collect()}
        assert len(got) == 100 and kb.count_edges() == 100
        assert got[(1, 2, 3)] == readded != stored

        other = Warehouse(spark, kb.wh.root, schemas=TABLE_SCHEMAS)
        unlink, seen = os.unlink, []

        def read_mid_commit(path, *a, **k):
            if path.endswith(".parquet"):
                # the new manifest is in place, the replaced file still there
                assert os.path.exists(path)
                seen.append(other.read_arrow("edges"))
            return unlink(path, *a, **k)

        monkeypatch.setattr(os, "unlink", read_mid_commit)
        added = kb.add_edge(7, 7, 7)
        monkeypatch.undo()
        assert len(seen) == 1
        mid = sorted(zip(seen[0].column("edge_id").to_pylist(),
                         seen[0].column("src").to_pylist()))
        assert mid == sorted((r["edge_id"], r["src"]) for r in kb.edges.collect())
        assert len(mid) == 101 and (added, 7) in mid


class TestKeyval:
    def test_kv_semantics(self, kb):
        # FIXTURES.md F4 / reference test_kb.py:1349-1430
        with kb.bulk_keyval_update() as kv:
            kv.set("reason", "because")
            kv.set("answer", 42)
            kv.set("age", 87.5)
            kv.set("blob", b"\x00\x01")
        with kb.bulk_keyval_update() as kv:
            assert kv.get("reason") == "because"
            assert kv.get("answer") == 42 and isinstance(kv.get("answer"), int)
            assert kv.get("age") == 87.5
            assert kv.get("blob") == b"\x00\x01"
            assert kv.count() == 4 and len(kv) == 4
            assert "answer" in kv and kv.has("answer")
            with pytest.raises(KeyError):
                kv.get("missing")
            with pytest.raises(RuntimeError):
                kv.get("missing", RuntimeError)  # Exception default raises
            assert kv.get("missing", "fallback") == "fallback"
            kv.remove("age")
            with pytest.raises(KeyError):
                kv.remove("age")
        with kb.bulk_keyval_update() as kv:
            assert kv.count() == 3
            assert sorted(kv) == ["answer", "blob", "reason"]

    def test_read_only_block_commits_nothing(self, spark, kb):
        """A block that leaves the state as read commits nothing: the
        keyval stamp stays put, and so does _meta's on a reopen."""
        with kb.bulk_keyval_update() as kv:
            kv.set("a", 1)
        stamp = kb.wh.stamp("keyval")
        with kb.bulk_keyval_update() as kv:
            assert kv.items() == [("a", 1)]
            kv.set("a", 1)  # the same typed value again
        assert kb.wh.stamp("keyval") == stamp
        with kb.bulk_keyval_update() as kv:
            kv.set("a", 1.0)  # equal in Python, stored as another type
        assert kb.wh.stamp("keyval") != stamp
        with kb.bulk_keyval_update() as kv:
            assert isinstance(kv.get("a"), float)
        meta = kb.wh.stamp("_meta")
        KnowledgeBase(spark, kb.wh.root)  # stored params, nothing new
        assert kb.wh.stamp("_meta") == meta


class TestMetaGuards:
    def test_schema_version_mismatch_raises(self, spark, tmp_path):
        # reference kb.py:841-853 / tests/test_kb.py:893-919
        import json
        from svs_spark.kb import KnowledgeBase, KEYVAL_SCHEMA
        from svs_spark.sources.warehouse import Warehouse

        path = str(tmp_path / "vkb")
        KnowledgeBase(
            spark, path, embedding_params={"provider": "mock"},
            force_fresh_db=True,
        )
        wh = Warehouse(spark, path)
        rows = [
            (r["key"], r["val_type"], r["val"])
            for r in wh.read("_meta").collect()
        ]
        rows = [
            ("schema_version", "int", json.dumps(99))
            if k == "schema_version" else (k, t, v)
            for (k, t, v) in rows
        ]
        wh.write("_meta", spark.createDataFrame(rows, KEYVAL_SCHEMA))
        with pytest.raises(RuntimeError, match="schema version"):
            KnowledgeBase(spark, path)

    def test_explicit_func_overrides_with_warning(self, spark, tmp_path):
        # reference kb.py:912-917: explicit func over stored params warns
        import warnings as w
        from svs_spark.functions.embeddings import make_mock_embeddings_func
        from svs_spark.kb import KnowledgeBase

        path = str(tmp_path / "wkb")
        KnowledgeBase(
            spark, path, embedding_params={"provider": "mock"},
            force_fresh_db=True,
        )
        with w.catch_warnings(record=True) as caught:
            w.simplefilter("always")
            KnowledgeBase(
                spark, path, embedding_func=make_mock_embeddings_func()
            )
        assert any("overrides" in str(c.message) for c in caught)


class TestSqlSurface:
    def test_sql_over_kb_views(self, kb):
        _add_fixture_docs(kb)
        kb.add_edge(1, 2, 3, weight=0.5)
        out = kb.sql(
            """
            SELECT d.level, count(*) AS n,
                   count(e.edge_id) AS n_edges_out
            FROM kb_docs d LEFT JOIN kb_edges e ON e.src = d.id
            GROUP BY d.level ORDER BY d.level
            """
        ).collect()
        by_level = {r["level"]: (r["n"], r["n_edges_out"]) for r in out}
        assert by_level[0] == (2, 1)  # docs 1,3; doc 1 has the edge
        assert by_level[1] == (1, 0)


class TestDistributedIngest:
    """add_documents_df: the distributed (no driver loop) bulk ingest
    path bridging sources.corpus frames into the KB."""

    def test_ingest_corpus_df(self, kb, spark, tmp_path):
        from svs_spark.sources.corpus import ingest_jsonl

        p = tmp_path / "dump.jsonl"
        p.write_text(
            '{"text": "spark distributed ingest", "lang": "en"}\n'
            '{"text": "second document body", "lang": "en"}\n'
        )
        n = kb.add_documents_df(ingest_jsonl(spark, str(p), "dump"))
        assert n == 2
        assert kb.count() == 2
        # all root docs, embedded, retrievable
        recs = kb.dfs_traversal()
        assert {r["level"] for r in recs} == {0}
        assert all(r["embedding"] is True for r in recs)
        hits = kb.retrieve("anything", n=2)
        assert len(hits) == 2

    def test_ingest_id_collision_raises(self, kb, spark):
        df = spark.createDataFrame(
            [(1, "first"), (1, "dup id")], "doc_id: long, text: string"
        )
        kb.add_documents_df(df.limit(1))
        import pytest as _pytest

        with _pytest.raises(ValueError, match="already exist"):
            kb.add_documents_df(
                spark.createDataFrame([(1, "again")], "doc_id: long, text: string")
            )

    def test_ingest_mixes_with_driver_loop_docs(self, kb, spark):
        root = kb.add_doc("manual root")
        kb.add_doc("manual child", parent_id=root)
        df = spark.createDataFrame(
            [(9001, "bulk one"), (9002, "bulk two")],
            "doc_id: long, text: string",
        )
        kb.add_documents_df(df, no_embedding=True)
        assert kb.count() == 4
        rec = kb.query_doc(9001)
        assert rec["embedding"] is False and rec["level"] == 0


class TestBucketedDml:
    """Point mutations must touch only their hash bucket — the
    Spark-native analogue of MERGE's touched-files-only rewrite (round-1
    verdict: every M1-M4 call rewrote the whole docs table)."""

    def _bucket_dirs(self, kb):
        import os

        path = kb.wh.table_path("docs")
        return {
            d: os.path.getmtime(os.path.join(path, d))
            for d in os.listdir(path)
            if d.startswith("_pb=")
        }

    def test_point_update_touches_one_bucket(self, spark, tmp_path):
        import time

        kb = KnowledgeBase(
            spark, str(tmp_path / "bkt"),
            embedding_params={"provider": "mock"}, force_fresh_db=True,
        )
        with kb.bulk_add_docs() as add:
            for i in range(40):
                add(f"doc number {i}", no_embedding=True)
        before = self._bucket_dirs(kb)
        assert len(before) > 4  # layout really is bucketed
        time.sleep(1.05)  # mtime resolution
        kb.update_doc_meta(5, {"touched": True})
        after = self._bucket_dirs(kb)
        from svs_spark.sources.warehouse import Warehouse
        from svs_spark.kb import DOCS_BUCKETS

        hot = f"_pb={Warehouse.bucket_of(5, DOCS_BUCKETS)}"
        changed = {d for d in after if after[d] != before.get(d)}
        assert changed == {hot}, changed
        assert kb.query_doc(5)["meta"] == {"touched": True}
        # the other docs are untouched
        assert kb.query_doc(6)["meta"] is None
        assert len(kb) == 40

    def test_delete_touches_only_deleted_buckets(self, spark, tmp_path):
        import time

        kb = KnowledgeBase(
            spark, str(tmp_path / "bktd"),
            embedding_params={"provider": "mock"}, force_fresh_db=True,
        )
        with kb.bulk_add_docs() as add:
            for i in range(40):
                add(f"doc number {i}", no_embedding=True)
        before = self._bucket_dirs(kb)
        time.sleep(1.05)
        kb.del_doc(7)  # id 8 lives in bucket 8 % 16
        after = self._bucket_dirs(kb)
        changed = {d for d in after if after[d] != before.get(d)}
        from svs_spark.sources.warehouse import Warehouse
        from svs_spark.kb import DOCS_BUCKETS

        assert changed == {f"_pb={Warehouse.bucket_of(7, DOCS_BUCKETS)}"}
        assert len(kb) == 39

    def test_vacuum_preserves_bucketing(self, spark, tmp_path):
        kb = KnowledgeBase(
            spark, str(tmp_path / "bktv"),
            embedding_params={"provider": "mock"}, force_fresh_db=True,
        )
        with kb.bulk_add_docs() as add:
            for i in range(20):
                add(f"doc {i}", no_embedding=True)
        kb.close(vacuum=True)
        kb2 = KnowledgeBase(spark, str(tmp_path / "bktv"))
        assert kb2.wh.bucket_meta("docs") is not None
        assert len(kb2) == 20
        kb2.update_doc_meta(3, {"ok": 1})
        assert kb2.query_doc(3)["meta"] == {"ok": 1}


class TestEmptyKb:
    """A KB with no docs and no edges — fresh, or with every doc deleted
    — answers every call: its bucketed tables read empty through the
    driver, through Spark and through a SQLite export."""

    @pytest.fixture(params=["fresh", "emptied"])
    def empty_kb(self, request, kb):
        if request.param == "emptied":
            _add_fixture_docs(kb)
            kb.add_edge(1, 3, 2)
            with kb.bulk_del_docs() as dd:
                for doc_id in (5, 4, 3, 2, 1):
                    dd(doc_id)
        return kb

    @staticmethod
    def _check_empty(kb):
        for table in ("docs", "edges"):
            assert kb.wh.bucket_meta(table) is not None
        assert kb.count() == 0 and kb.count_edges() == 0
        assert kb.retrieve("first doc", 3) == []
        assert kb.query_children(1) == []
        assert kb.dfs_traversal() == []
        assert kb.build_networkx_graph().number_of_nodes() == 0
        assert kb.document_top_pairwise_scores(3) == []
        assert kb.docs.count() == 0 and kb.edges.count() == 0
        assert kb.sql("select count(*) c from kb_docs").first()["c"] == 0

    def test_every_call_answers_empty(self, spark, empty_kb, tmp_path):
        from svs_spark.sources.svs_import import (
            export_svs_sqlite, import_svs_sqlite,
        )

        self._check_empty(empty_kb)
        empty_kb.close(vacuum=True)
        reopened = KnowledgeBase(spark, empty_kb.wh.root)
        self._check_empty(reopened)
        db = str(tmp_path / "empty.db")
        export_svs_sqlite(spark, reopened.wh.root, db)
        imported = str(tmp_path / "imported")
        import_svs_sqlite(spark, db, imported)
        back = KnowledgeBase(spark, imported)
        self._check_empty(back)
        assert back.add_doc("first doc") == 1
        assert [r["id"] for r in back.dfs_traversal()] == [1]


def _jobs_in(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` runs, counted through its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(f"{group}-done", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


class TestDriverCommits:
    """Single-doc calls read and commit their buckets in the driver with
    pyarrow; Spark must read back exactly what a Python model of the
    acknowledged calls holds."""

    @staticmethod
    def _provider(texts):
        import zlib

        import numpy as np

        out = []
        for t in texts:
            v = np.random.default_rng(zlib.crc32(t.encode())).standard_normal(5)
            out.append((v / np.linalg.norm(v)).tolist())
        return out

    def test_mixed_commits_read_back_through_spark(self, spark, tmp_path):
        import os

        import numpy as np

        from svs_spark.kb import DOCS_BUCKETS
        from svs_spark.sources.warehouse import Warehouse

        kb = KnowledgeBase(spark, str(tmp_path / "mixed"),
                           embedding_func=self._provider, force_fresh_db=True)

        def bits(v):
            return None if v is None else np.asarray(v, np.float32).tobytes()

        docs: dict[int, list] = {}  # id -> [parent, level, text, bits, meta]
        edges: dict[int, tuple] = {}  # edge_id -> (src, dst, rel, w, directed)
        stamps = [kb.wh.stamp("docs")]

        def add(text, parent=None, meta=None, skip=False):
            with kb.bulk_add_docs() as a:
                d = a(text, parent_id=parent, meta=meta, no_embedding=skip)
            level = 0 if parent is None else docs[parent][1] + 1
            vec = None if skip else self._provider([text])[0]
            docs[d] = [parent, level, text, bits(vec), meta]
            stamps.append(kb.wh.stamp("docs"))
            return d

        with kb.bulk_add_docs() as a:
            for i in range(24):
                parent = None if i < 4 else 1 + i % 4
                meta = {"i": i} if i % 3 == 0 else None
                d = a(f"doc {i}", parent_id=parent, meta=meta,
                      no_embedding=i % 5 == 2)
                level = 0 if parent is None else docs[parent][1] + 1
                vec = None if i % 5 == 2 else self._provider([f"doc {i}"])[0]
                docs[d] = [parent, level, f"doc {i}", bits(vec), meta]
        stamps.append(kb.wh.stamp("docs"))
        # a negative (xxhash64-style) id, added through the Spark path
        kb.add_documents_df(
            spark.createDataFrame([(-7, "negative doc")], "doc_id long, text string"),
            no_embedding=True,
        )
        docs[-7] = [None, 0, "negative doc", None, None]
        stamps.append(kb.wh.stamp("docs"))
        kid = add("child of negative", parent=-7, meta={"neg": True})
        add("leaf without vector", parent=kid, skip=True)
        for doc_id, meta in ((-7, {"m": 1}), (3, None), (6, {"m": [1, 2]})):
            kb.update_doc_meta(doc_id, meta)
            docs[doc_id][4] = meta
            stamps.append(kb.wh.stamp("docs"))
        for doc_id, vec in ((4, [0.1, 0.2, 0.3]), (7, None), (-7, [1 / 3, 2 / 3])):
            kb.set_doc_embedding(doc_id, vec)
            docs[doc_id][3] = bits(vec)
            stamps.append(kb.wh.stamp("docs"))
        with kb.bulk_graph_update() as g:
            for src, dst, rel, w in ((1, 2, 3, 0.5), (-7, 9, 3, None),
                                     (2, 24, 1, 1.5), (10, 11, 12, None)):
                edges[g.add_edge(src, dst, rel, weight=w)] = (src, dst, rel, w, False)
            e = g.add_directed_edge(kid, 1, 2)
            edges[e] = (kid, 1, 2, None, True)
        kb.del_edge(1)
        del edges[1]
        kb.del_doc(24)  # a leaf, the dst of edge 3: the edge cascades
        del docs[24]
        edges = {k: v for k, v in edges.items() if 24 not in v[:3]}
        stamps.append(kb.wh.stamp("docs"))

        # every commit moved the stamp, however quickly it followed
        assert len(set(stamps)) == len(stamps)
        got = {
            r["id"]: [r["parent_id"], r["level"], r["text"],
                      bits(r["embedding"]),
                      json.loads(r["meta"]) if r["meta"] is not None else None]
            for r in kb.docs.collect()
        }
        assert got == docs
        assert {
            r["edge_id"]: (r["src"], r["dst"], r["rel"], r["weight"], r["directed"])
            for r in kb.edges.collect()
        } == edges
        assert kb.query_doc(-7, include_embedding=True)["embedding"] == [
            float(x) for x in np.asarray([1 / 3, 2 / 3], np.float32)
        ]
        # each row sits in the _pb bucket of pmod(id), negative ids too
        raw = spark.read.parquet(kb.wh.table_path("docs"))
        placed = {(r["id"], r["_pb"]) for r in raw.select("id", "_pb").collect()}
        assert (-7, Warehouse.bucket_of(-7, DOCS_BUCKETS)) in placed
        assert all(pb == Warehouse.bucket_of(i, DOCS_BUCKETS) for i, pb in placed)
        # one parquet file per bucket directory, for docs and for edges
        for table in ("docs", "edges"):
            path = kb.wh.table_path(table)
            for d in os.listdir(path):
                if d.startswith("_pb="):
                    files = [f for f in os.listdir(os.path.join(path, d))
                             if f.endswith(".parquet") and f[0] not in "._"]
                    assert len(files) == 1, (table, d, files)

    def test_legacy_plain_docs_upgraded_on_first_point_write(
        self, spark, tmp_path
    ):
        """A docs table written plain by Spark (as older KBs were) is
        read whole by the driver at the next open and committed in the
        bucketed layout, before the first point write."""
        from svs_spark.kb import DOCS_BUCKETS, DOCS_SCHEMA

        path = str(tmp_path / "legacy")
        kb = KnowledgeBase(spark, path, embedding_params={"provider": "mock"},
                           force_fresh_db=True)
        rows = [(i, None, 0, f"legacy {i}", [float(i), 0.5, 0.25],
                 json.dumps({"i": i}) if i % 2 else None) for i in range(1, 21)]
        kb.wh.write("docs", spark.createDataFrame(rows, DOCS_SCHEMA).repartition(3))
        assert kb.wh.bucket_meta("docs") is None
        kb = KnowledgeBase(spark, path)
        assert kb.wh.bucket_meta("docs") == {"key_col": "id", "n_buckets": DOCS_BUCKETS}
        assert kb.add_doc("fresh", parent_id=4, no_embedding=True) == 21
        got = {r["id"]: r for r in kb.docs.collect()}
        assert sorted(got) == list(range(1, 22))
        for i, parent, level, text, emb, meta in rows:
            r = got[i]
            assert (r["parent_id"], r["level"], r["text"], r["meta"]) == (
                parent, level, text, meta)
            assert list(r["embedding"]) == emb
        assert (got[21]["parent_id"], got[21]["level"]) == (4, 1)
        assert got[21]["embedding"] is None


class TestCallCost:
    def test_two_instances_take_turns(self, spark, kb):
        """A second instance's commits are seen by the first: handles and
        id counters are keyed by the table version, not held forever."""
        other = KnowledgeBase(spark, kb.wh.root)

        def both_see(n_docs: int, kids: list) -> None:
            for x in (kb, other):
                assert x.count() == n_docs
                assert [r["id"] for r in x.query_children(1)] == kids
                assert len(x.retrieve("anything", 10)) == n_docs

        assert kb.add_doc("first doc") == 1
        both_see(1, [])  # both instances now hold a docs handle
        assert other.add_doc("second doc", parent_id=1) == 2
        both_see(2, [2])
        assert kb.add_doc("third doc", parent_id=1) == 3
        both_see(3, [2, 3])
        assert kb.add_edge(1, 2, 3) == 1
        assert other.count_edges() == 1
        assert other.add_edge(2, 3, 1) == 2
        assert kb.count_edges() == 2
        assert kb.add_edge(3, 1, 2) == 3
        assert other.count_edges() == 3
        other.update_doc_meta(1, {"by": "other"})
        assert kb.query_doc(1)["meta"] == {"by": "other"}
        kb.update_doc_meta(3, {"by": "kb"})
        assert other.query_doc(3)["meta"] == {"by": "kb"}
        assert other.add_doc("forth doc", parent_id=3) == 4
        assert kb.add_doc("fifth doc", parent_id=4) == 5
        assert other.query_doc(5)["level"] == 3
        both_see(5, [2, 3])

    def test_bulk_contexts_lock_from_entry(self, spark, kb):
        """bulk_add_docs, bulk_graph_update and bulk_keyval_update hold
        their table's writer lock from entry to commit, as a SQLite
        transaction does: a second instance's call, made in a thread
        while the first block is open, waits for its commit, then takes
        the next doc or edge id, or keeps the first block's key."""
        import threading
        import time

        other = KnowledgeBase(spark, kb.wh.root)
        _add_fixture_docs(kb)

        def while_open(block, call):
            got: list = []
            with block() as b:
                first = call(kb, b)
                t = threading.Thread(target=lambda: got.append(call(other)))
                t.start()
                time.sleep(0.5)
                assert got == []  # waits for the first block's commit
            t.join(30)
            return first, got

        def add_doc(x, add=None):
            return (add or x.add_doc)("another doc")

        def add_edge(x, g=None):
            return (g or x).add_edge(1, 3 + (g is None), 2)

        def set_key(x, kv=None):
            if kv is None:
                with x.bulk_keyval_update() as kv:
                    kv["b"] = 2
            else:
                kv["a"] = 1

        assert while_open(kb.bulk_add_docs, add_doc) == (6, [7])
        assert while_open(kb.bulk_graph_update, add_edge) == (1, [2])
        while_open(kb.bulk_keyval_update, set_key)
        for x in (kb, other):
            assert x.count() == 7 and x.count_edges() == 2
            with x.bulk_keyval_update() as kv:
                assert kv.items() == [("a", 1), ("b", 2)]

    def test_add_documents_df_job_count(self, spark, kb):
        """On a warm KB, add_documents_df runs the jobs of its id-clash
        check, of its count of new docs and of the one write of the new
        files, embedded or not: the commit only adds those files to the
        docs manifest, with no bucket probe, no re-read of the touched
        buckets and no persist before the write."""
        with kb.bulk_add_docs() as add:
            for i in range(8):
                add(f"doc {i}")

        def ingest(p, **kw):
            df = spark.createDataFrame(
                [(1000 + 10 * p + i, f"bulk {p} {i}") for i in range(4)],
                "doc_id long, text string",
            )
            return lambda: kb.add_documents_df(df, **kw)

        _jobs_in(spark, "add-df-warm", ingest(0))
        assert _jobs_in(spark, "add-df", ingest(1)) == 11
        assert _jobs_in(spark, "add-df-bare", ingest(2, no_embedding=True)) == 11
        assert kb.count() == 8 + 3 * 4

    def test_warm_call_job_budget(self, spark, kb):
        """A call that takes Python values runs no Spark job: keyed calls
        read and commit their buckets in the driver with pyarrow, and
        predicate reads (children, levels, retrieve, counts, the
        edge-key probe, the delete guard and cascade, the next id after
        a delete) read the columns they test from the whole table. The
        whole-table calls that collect their answer (DFS, the networkx
        graph) read in the driver too, and load() has nothing to warm."""
        with kb.bulk_add_docs() as add:
            roots = [add(f"doc {i}") for i in range(8)]
            for i in range(8):
                add(f"child {i}", parent_id=roots[i % 3])
            spare = [add(f"spare {i}") for i in range(2)]
        for s in spare:  # each del_doc below cascades one edge
            kb.add_edge(s, roots[0], roots[1])

        def kv_set():
            with kb.bulk_keyval_update() as kv:
                kv.set("key", 1)

        # del_doc drops the cached next id, so add_doc after it reads max(id)
        calls = {
            "query_doc": lambda p: kb.query_doc(roots[1]),
            "query_children": lambda p: kb.query_children(roots[0]),
            "query_level": lambda p: kb.query_level(1),
            "retrieve": lambda p: kb.retrieve("doc", 5),
            "count": lambda p: kb.count(),
            "del_doc": lambda p: kb.del_doc(spare[p]),
            "add_doc": lambda p: kb.add_doc("new", parent_id=roots[2]),
            "update_doc_meta": lambda p: kb.update_doc_meta(roots[3], {"pass": p}),
            "add_edge": lambda p: kb.add_edge(roots[0], roots[1], roots[p]),
            "keyval_set": lambda p: kv_set(),
            "dfs_traversal": lambda p: kb.dfs_traversal(),
            "build_networkx_graph": lambda p: kb.build_networkx_graph(),
            "load": lambda p: kb.load(),
        }
        for p in (0, 1):  # pass 0 warms the KB's id counters
            for name, call in calls.items():
                jobs = _jobs_in(spark, f"kb-budget-{name}-{p}", lambda: call(p))
                if p == 1:
                    assert jobs == 0, f"{name}: {jobs} jobs"
        assert kb.count() == 8 + 8 + 2
        assert kb.count_edges() == 2

    def test_commit_after_load_is_seen_by_every_instance(self, spark, kb):
        """load() pins nothing: after instance A loads and instance B
        commits an add and a meta update, A's and B's Spark reads, SQL
        views and pairwise scores all see B's commit."""
        _add_fixture_docs(kb)
        kb.load()
        other = KnowledgeBase(spark, kb.wh.root)
        new = other.add_doc("sixth doc", parent_id=1)
        other.update_doc_meta(1, {"by": "other"})
        for x in (kb, other):
            assert x.docs.count() == 6
            assert x.sql("select count(*) c from kb_docs").first()["c"] == 6
            assert json.loads(
                x.docs.filter("id = 1").first()["meta"]) == {"by": "other"}
            pairs = x.document_top_pairwise_scores(10)  # all 5 vectors
            assert len(pairs) == 10
            seen = {d["id"]: d for p in pairs for d in p[1:]}
            assert new in seen and seen[1]["meta"] == {"by": "other"}

    def test_id_allocation_is_max_plus_one(self, kb):
        """Cached id counters give exactly the ids max(id) + 1 gives,
        including reuse of a deleted max id."""
        a, b = kb.add_doc("first doc"), kb.add_doc("second doc")
        assert (a, b) == (1, 2)
        kb.del_doc(b)
        assert kb.add_doc("third doc") == 2  # the deleted max id again
        kb.update_doc_meta(a, {"x": 1})
        assert kb.add_doc("forth doc") == 3
        kb.del_doc(1)  # not the max: the next id does not move
        assert kb.add_doc("fifth doc") == 4
        e1, e2 = kb.add_edge(2, 3, 4), kb.add_edge(3, 4, 2)
        assert (e1, e2) == (1, 2)
        kb.del_edge(e2)
        assert kb.add_edge(4, 2, 3) == 2
        with kb.bulk_graph_update() as g:
            g.add_edge(2, 4, 3)  # 3
            rolled_back = g.add_edge(2, 4, 2)  # 4, never stored
            g.del_edge(rolled_back)
        assert kb.add_edge(3, 2, 4) == 4

    def test_driver_embedding_matches_embed_df(self, spark, tmp_path):
        """bulk_add_docs embeds on the driver in ≤ 200-text chunks and
        stores the same float32 bits the distributed embed_df stores."""
        import zlib

        import numpy as np

        from svs_spark.functions.embeddings import embed_df

        class Provider:
            def __init__(self):
                self.chunks: list[int] = []

            def __call__(self, texts):
                self.chunks.append(len(texts))
                out = []
                for t in texts:
                    rng = np.random.default_rng(zlib.crc32(t.encode()))
                    v = rng.standard_normal(24)
                    out.append((v / np.linalg.norm(v)).tolist())
                return out

        provider = Provider()
        kb = KnowledgeBase(spark, str(tmp_path / "emb"),
                           embedding_func=provider, force_fresh_db=True)
        texts = [f"text number {i}" for i in range(450)]
        with kb.bulk_add_docs() as add:
            for i, t in enumerate(texts):
                add(t, no_embedding=(i % 50 == 7))
        embedded = [t for i, t in enumerate(texts) if i % 50 != 7]
        assert max(provider.chunks) <= 200
        assert sum(provider.chunks) == len(embedded)
        stored = {r["text"]: r["embedding"] for r in kb.docs.collect()}
        want = embed_df(
            spark.createDataFrame([(t,) for t in embedded], "text string"),
            provider,
        ).collect()
        assert len(want) == len(embedded)
        for r in want:
            got = np.asarray(stored[r["text"]], dtype=np.float32)
            assert got.tobytes() == np.asarray(
                r["embedding"], dtype=np.float32
            ).tobytes()
        assert sum(v is None for v in stored.values()) == 9


def _decoded_files(kb: KnowledgeBase) -> int:
    """Data files the KB's warehouse holds decoded."""
    return sum(len(files) for files in kb.wh._decoded.values())


def _decoded_in(kb: KnowledgeBase, bucket: int) -> int:
    """Files of docs bucket ``bucket`` the KB's warehouse holds decoded."""
    return sum(f.startswith(f"_pb={bucket}/") for f in kb.wh._decoded["docs"])


def _live_files(kb: KnowledgeBase) -> int:
    """Data files in the KB's table directories."""
    import os

    return sum(f.endswith(".parquet") and f[0] not in "._"
               for _dir, _sub, files in os.walk(kb.wh.root) for f in files)


class TestDecodeCache:
    """Each Warehouse decodes a data file once and serves it until a
    commit replaces the file; no data-file name is ever reused, and the
    cache holds no file that is no longer listed."""

    @staticmethod
    def _provider(texts):
        """The vector depends on the text's last word only."""
        import zlib

        import numpy as np

        out = []
        for t in texts:
            rng = np.random.default_rng(zlib.crc32(t.split()[-1].encode()))
            v = rng.standard_normal(6)
            out.append((v / np.linalg.norm(v)).tolist())
        return out

    def _kb(self, spark, path, n_docs=20):
        kb = KnowledgeBase(spark, path, embedding_func=self._provider,
                           force_fresh_db=True)
        with kb.bulk_add_docs() as add:
            for i in range(n_docs):
                add(f"doc {i} w{i % 7}", parent_id=1 if i == 9 else None)
        return kb

    def _reopen(self, spark, kb):
        """A second instance over ``kb``'s warehouse."""
        with pytest.warns(UserWarning, match="overrides stored params"):
            return KnowledgeBase(spark, kb.wh.root, embedding_func=self._provider)

    def test_commit_by_another_instance_is_read(self, spark, tmp_path):
        """Instance A has read (and decoded) bucket 2 of docs and the
        keyval table; B commits a meta update and an add to that bucket
        and a keyval set; A's next query_doc, retrieve and keyval read
        return B's commits."""
        from svs_spark.kb import DOCS_BUCKETS

        a = self._kb(spark, str(tmp_path / "kb"), n_docs=17)
        b = self._reopen(spark, a)
        with a.bulk_keyval_update() as kv:
            kv["k"] = 1
        assert a.query_doc(2)["meta"] is None
        assert a.retrieve("q fresh", 1)[0]["doc"]["id"] != 18
        with a.bulk_keyval_update() as kv:
            assert kv["k"] == 1
        assert _decoded_in(a, 2 % DOCS_BUCKETS) == 1  # A holds bucket 2 decoded

        b.update_doc_meta(2, {"by": "b"})
        assert b.add_doc("new fresh") == 18  # 18 lands in bucket 2 too
        with b.bulk_keyval_update() as kv:
            kv["k"] = 2
        assert a.query_doc(2)["meta"] == {"by": "b"}
        top = a.retrieve("q fresh", 2)
        assert top[0]["doc"]["id"] == 18 and top[0]["doc"]["text"] == "new fresh"
        assert a.query_doc(18)["text"] == "new fresh"
        with a.bulk_keyval_update() as kv:
            assert kv["k"] == 2

    def test_driver_commits_never_reuse_a_file_name(self, spark, tmp_path):
        """Two driver commits to one docs bucket, and two keyval
        commits, each leave a data file under a new name."""
        import os

        kb = self._kb(spark, str(tmp_path / "kb"))
        bucket = os.path.join(kb.wh.table_path("docs"), "_pb=3")
        keyval = kb.wh.table_path("keyval")

        def data_files(d):
            return {f for f in os.listdir(d)
                    if f.endswith(".parquet") and f[0] not in "._"}

        seen_bucket, seen_kv = [data_files(bucket)], [data_files(keyval)]
        for i in range(2):
            kb.update_doc_meta(3, {"i": i})
            with kb.bulk_keyval_update() as kv:
                kv["k"] = i
            seen_bucket.append(data_files(bucket))
            seen_kv.append(data_files(keyval))
        for seen in (seen_bucket, seen_kv):
            assert all(len(files) == 1 for files in seen)
            assert len(set.union(*seen)) == len(seen), seen

    def test_cache_holds_only_listed_files(self, spark, tmp_path):
        """After 200 meta updates interleaved with reads, and a delete
        that empties a bucket, the cache holds no more decoded files
        than the live tables have data files."""
        kb = self._kb(spark, str(tmp_path / "kb"))
        for i in range(200):
            kb.update_doc_meta(2 + i % 7, {"i": i})
            if i % 5 == 0:
                kb.retrieve("q w3", 3)
                kb.query_children(1)
        with kb.bulk_keyval_update() as kv:
            kv["k"] = 1
        kb.del_doc(15)  # alone in bucket 15: the bucket goes
        assert kb.count() == 19
        assert kb.query_doc(3)["meta"] == {"i": 197}
        assert _decoded_in(kb, 15) == 0
        assert 0 < _decoded_files(kb) <= _live_files(kb)
        assert len(kb.wh._decoded["docs"]) == 15  # every other docs bucket, once

    def test_retrieve_equals_retrieve_topk_across_writes(self, spark, tmp_path):
        """retrieve stays bit-equal to ``retrieve_topk`` over ``docs``
        while another instance adds, deletes, re-embeds (null, short
        and long vectors) and updates docs between the calls."""
        from pyspark.sql import functions as F

        from svs_spark.operators.similarity import retrieve_topk

        kb = self._kb(spark, str(tmp_path / "kb"))
        other = self._reopen(spark, kb)
        writes = [
            lambda: other.add_doc("late w3"),
            lambda: other.set_doc_embedding(4, None),
            lambda: other.set_doc_embedding(5, [0.6, 0.8]),  # short
            lambda: kb.del_doc(8),
            lambda: other.set_doc_embedding(6, [0.5] * 9),  # long
            lambda: other.update_doc_meta(3, {"m": 1}),
            lambda: other.del_doc(2),
            lambda: kb.add_doc("later w0", no_embedding=True),
            lambda: other.set_doc_embedding(4, self._provider(["x w5"])[0]),
        ]
        for step, write in enumerate(writes):
            write()
            emb = kb.docs.filter(F.col("embedding").isNotNull())
            for text, n in (("q w3", 4), ("q w5", 30)):
                want = [(r["id"], r["score"]) for r in retrieve_topk(
                    emb, self._provider([text])[0], n, id_col="id",
                    vec_col="embedding").collect()]
                got = [(r["doc"]["id"], r["score"]) for r in kb.retrieve(text, n)]
                assert got == want, (step, text)

    def test_warm_reads_decode_only_replaced_files(self, spark, tmp_path,
                                                   monkeypatch):
        """Once every file is decoded, a read opens no parquet file, and
        after a single-doc commit neither does the next whole-table
        read: the commit entered the file it wrote as decoded."""
        import pyarrow.parquet as pq

        kb = self._kb(spark, str(tmp_path / "kb"))
        kb.retrieve("q w1", 3)
        opened = []
        parquet_file = pq.ParquetFile

        def counting(path, *a, **k):
            opened.append(path)
            return parquet_file(path, *a, **k)

        monkeypatch.setattr(pq, "ParquetFile", counting)
        first = kb.retrieve("q w1", 3)
        kb.query_children(1)
        assert opened == []
        kb.update_doc_meta(5, {"x": 1})
        again = kb.retrieve("q w1", 3)
        assert opened == []
        assert [(r["doc"]["id"], r["score"]) for r in again] == [
            (r["doc"]["id"], r["score"]) for r in first]

    def test_load_warms_and_close_empties(self, spark, tmp_path):
        """load() decodes every docs file and its vectors with no Spark
        job; close() lets every decoded file go, and the next call
        decodes again."""
        from svs_spark.kb import _retrieve_decode

        kb = self._kb(spark, str(tmp_path / "kb"))
        kb.close()
        assert kb.wh._decoded == {}
        assert _jobs_in(spark, "decode-cache-load", kb.load) == 0
        docs = kb.wh._decoded["docs"]
        assert len(docs) == 16
        assert all(_retrieve_decode in e.memo for e in docs.values())
        kb.close()
        assert _decoded_files(kb) == 0
        assert kb.query_doc(4)["text"] == "doc 3 w3"
        assert _decoded_files(kb) == 1
