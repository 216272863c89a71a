"""kb_mixed: the KnowledgeBase façade plus frozen registry queries.

Set-up opens a fresh KnowledgeBase in the run's scratch directory,
bulk-ingests seeded docs with a parent/child hierarchy, embedded by a
cheap seeded table-lookup provider, and warms up with one untimed
pass. Each pass runs one of each KB op (point read, children read,
top-10 retrieve, add_doc, update_doc_meta, an edge add, a keyval set)
and each frozen registry query, with seeded arguments. Writes
invalidate the KB's cached docs view, so reads after a write pay for
re-reading it. The order is fixed, so every run and seed puts that cost
on the same ops.

Checks, after the timed window: every read returned what the model of
acknowledged writes says it should, every retrieve equals a NumPy
brute-force top-10 over the vectors present at call time, and the final
docs, edges and keyvals equal the model.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

import gen
from harness import Loop, warm_pass
from registry_names import TIMED
from registry_ops import Registry

N_DOCS = 500
DIM = 384


class Model:
    """What the KB must contain: every acknowledged write, applied."""

    def __init__(self):
        self.docs: dict[int, dict] = {}
        self.children: dict[int, list[int]] = {}
        self.edges: set[tuple[int, int, int]] = set()
        self.kv: dict[str, object] = {}

    def add(self, doc_id: int, text: str, parent: int | None) -> None:
        level = 0 if parent is None else self.docs[parent]["level"] + 1
        self.docs[doc_id] = {"text": text, "parent_id": parent,
                             "level": level, "meta": None}
        if parent is not None:
            self.children.setdefault(parent, []).append(doc_id)


def _dir_bytes_since(path: str, t0: float) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            if st.st_mtime >= t0 and not f.startswith("."):
                total += st.st_size
    return total


def run(env, seconds: float) -> dict:
    spark, tracer, seed = env.spark, env.tracer, env.seed
    sc = spark.sparkContext
    from svs_spark.kb import KnowledgeBase
    from svs_spark.sources import warehouse

    rng = np.random.default_rng([seed, 20])
    t0 = time.perf_counter()
    docs = gen.kb_docs(seed, N_DOCS)
    embed = gen.TableEmbedder(seed, DIM)
    env.setup_parts["generate_docs_s"] = time.perf_counter() - t0
    embed.calls, embed.texts = sc.accumulator(0), sc.accumulator(0)
    embed.func_s = sc.accumulator(0.0)
    reg = Registry(env, TIMED)

    written = {"bytes": 0, "user": 0}
    if tracer.enabled:
        import svs_spark.operators.similarity as sim

        tracer.patch(sim, "retrieve_topk", "operators.similarity.retrieve_topk")
        for meth in ("write_bucketed", "overwrite_buckets", "write"):
            inner = getattr(warehouse.Warehouse, meth)

            def counted(self, name, *a, _inner=inner, **k):
                t = time.time() - 0.05  # the file clock is coarser than time()
                out = _inner(self, name, *a, **k)
                written["bytes"] += _dir_bytes_since(self.table_path(name), t)
                return out

            setattr(warehouse.Warehouse, meth, counted)
        for meth in ("write_bucketed", "overwrite_buckets", "read_buckets"):
            tracer.patch(warehouse.Warehouse, meth, f"warehouse.{meth}")

    model = Model()
    kb_root = env.scratch("kb")
    t0 = time.perf_counter()
    kb = KnowledgeBase(spark, kb_root, embedding_func=embed,
                       embedding_params={"provider": "perfbench-table"},
                       force_fresh_db=True)
    env.setup_parts["kb_open_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tracer.span("kb.bulk_add_docs"):
        with kb.bulk_add_docs() as add:
            ids = [None] * len(docs)
            for i, (text, parent) in enumerate(docs):
                pid = None if parent is None else ids[parent]
                ids[i] = add(text, parent_id=pid)
    for i, (text, parent) in enumerate(docs):
        model.add(ids[i], text, None if parent is None else ids[parent])
        written["user"] += len(text) + 4 * DIM
    env.setup_parts["ingest_s"] = time.perf_counter() - t0
    added = [len(docs)]

    # ---- ops; each appends what it saw to ``seen`` for the checks
    seen: list[tuple] = []
    n_new, n_pass = [0], [0]

    def query_doc(doc_id):
        def go():
            want = dict(model.docs[doc_id])
            got = kb.query_doc(doc_id)
            seen.append(("doc", doc_id, want, got))
        return go

    def query_children(doc_id):
        def go():
            want = sorted(model.children.get(doc_id, []))
            got = [r["id"] for r in kb.query_children(doc_id)]
            seen.append(("children", doc_id, want, got))
        return go

    def retrieve(text):
        def go():
            present = list(model.docs)
            got = kb.retrieve(text, 10)
            seen.append(("retrieve", text, present, got))
        return go

    def add_doc(parent):
        def go():
            text = f"new {seed} {n_new[0]} " + docs[int(rng.integers(N_DOCS))][0]
            n_new[0] += 1
            new_id = kb.add_doc(text, parent_id=parent)
            model.add(new_id, text, parent)
            added[0] += 1
            written["user"] += len(text) + 4 * DIM
        return go

    def update_meta(doc_id):
        def go():
            meta = {"seed": seed, "v": int(rng.integers(1 << 30))}
            kb.update_doc_meta(doc_id, meta)
            model.docs[doc_id]["meta"] = meta
            written["user"] += len(json.dumps(meta))
        return go

    def add_edge(src, dst, rel):
        def go():
            with kb.bulk_graph_update() as g:
                g.add_edge(src, dst, rel)
            model.edges.add((src, dst, rel))
            written["user"] += 33
        return go

    def set_kv(key, val):
        def go():
            with kb.bulk_keyval_update() as kv:
                kv.set(key, val)
            model.kv[key] = val
            written["user"] += len(key) + len(str(val))
        return go

    def ops_for_pass(_i: int):
        n_pass[0] += 1
        ids_now = list(model.docs)
        pick = lambda: ids_now[int(rng.integers(len(ids_now)))]  # noqa: E731
        parents = [p for p in model.children if model.children[p]]
        while True:
            edge = (pick(), pick(), pick())
            if edge not in model.edges:
                break
        ops = [
            ("kb.query_doc", query_doc(pick())),
            ("kb.query_children", query_children(parents[int(rng.integers(len(parents)))])),
            ("kb.retrieve", retrieve(docs[int(rng.integers(N_DOCS))][0])),
            ("kb.add_doc", add_doc(pick())),
            ("kb.update_doc_meta", update_meta(pick())),
            ("kb.bulk_graph_update", add_edge(*edge)),
            ("kb.bulk_keyval_update", set_kv(f"k{n_pass[0]}", int(rng.integers(1 << 30)))),
        ]
        ops += [reg.op(name) for name in TIMED]
        return ops

    # warm-up: the first passes after ingest are still a third slower
    # (JIT, first Python workers of each op), so one untimed pass is set-up
    t0 = time.perf_counter()
    warm = warm_pass(tracer, ops_for_pass)
    env.setup_parts["warm_s"] = time.perf_counter() - t0
    env.setup_done()
    tracer.phase = "run"
    loop = Loop(tracer)
    loop.run(ops_for_pass, seconds, alternate=tracer.enabled, min_passes=2)
    tracer.phase = "check"

    # before the checks: the keyval check rewrites the keyval table
    layer = {
        "embeddings.calls": embed.calls.value,
        "embeddings.texts_per_doc_added": embed.texts.value / added[0],
        "embeddings.func_s": embed.func_s.value,
        "warehouse.files": sum(
            f.endswith(".parquet") for _d, _s, fs in os.walk(kb_root) for f in fs
        ),
        "warehouse.bytes_per_user_byte": written["bytes"] / max(written["user"], 1),
    }
    problems = reg.check() + check(kb, embed, model, seen)
    kb.close()
    return {"loop": loop, "warm": warm, "problems": problems, "layer": layer,
            "record": {"docs_added": added[0]}}


def check(kb, embed, model, seen) -> list[str]:
    problems = []
    vec = {}

    def vector(doc_id):
        if doc_id not in vec:
            v = embed.vector(model.docs[doc_id]["text"])
            vec[doc_id] = v.astype(np.float32).astype(np.float64)
        return vec[doc_id]

    for kind, key, want, got in seen:
        if kind == "doc":
            fields = {k: got[k] for k in ("text", "parent_id", "level", "meta")}
            if fields != want or got["embedding"] is not True:
                problems.append(f"query_doc({key}): {fields} != {want}")
        elif kind == "children":
            if got != want:
                problems.append(f"query_children({key}): {got} != {want}")
        else:
            q = embed.vector(key)
            scores = np.array([vector(d) @ q for d in want])
            order = np.lexsort((-np.array(want), -scores))[:11]
            got_ids = [r["doc"]["id"] for r in got]
            got_scores = np.array([r["score"] for r in got])
            top = [want[j] for j in order[:10]]
            exact = np.array([vector(d) @ q for d in got_ids])
            kth, nxt = scores[order[9]], scores[order[10]]
            near_tie = abs(kth - nxt) < 1e-9
            if len(got_ids) != 10 or np.abs(exact - got_scores).max() > 1e-9:
                problems.append(f"retrieve({key!r}): wrong scores")
            elif got_ids != top and not near_tie:
                problems.append(f"retrieve({key!r}): {got_ids} != {top}")
    # every acknowledged write is readable afterwards
    rows = {r["id"]: r for r in kb.docs.collect()}
    if set(rows) != set(model.docs):
        problems.append(f"docs: {len(rows)} stored vs {len(model.docs)} acknowledged")
    for doc_id, want in model.docs.items():
        r = rows.get(doc_id)
        if r is None:
            continue
        got = {"text": r["text"], "parent_id": r["parent_id"], "level": r["level"],
               "meta": json.loads(r["meta"]) if r["meta"] is not None else None}
        if got != want or not np.array_equal(r["embedding"], vector(doc_id)):
            problems.append(f"doc {doc_id}: {got} != {want} or wrong embedding")
            break
    edges = {(r["src"], r["dst"], r["rel"]) for r in kb.edges.collect()}
    if edges != model.edges:
        problems.append(f"edges: {len(edges)} stored vs {len(model.edges)} acknowledged")
    with kb.bulk_keyval_update() as kv:
        stored = dict(kv.items())
    if stored != model.kv:
        problems.append(f"keyval: {stored} != {model.kv}")
    return problems
