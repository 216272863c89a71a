"""curation_corpus: one batch curation pipeline over seeded inputs.

Inputs: a templated near-duplicate text corpus with planted exact
copies and PII, and clustered unit vectors with planted 0.95-cosine
pairs (``gen.curation_docs`` / ``gen.curation_vectors``), both persisted
as the pipeline's source frames. Each pass runs, in order: exact dedup,
MinHash-LSH pairs, SimHash-64 pairs, PII scrub, IVF centroid training
and index build, batch kNN for 64 queries, IVF probes, and SemDeDup
within-cluster pairs.

Checks, after the timed window: the exact-dup count equals the
generator's; every exact copy is found by MinHash (Jaccard 1) and
SimHash (Hamming 0); the scrub leaves no PII and redacts every planted
item; batch kNN equals NumPy; every planted pair is found by kNN with
its exact score; IVF scores are exact for the rows returned and
recall@100 against NumPy is reported; SemDeDup pairs carry exact
scores and include every planted pair whose halves share a cluster.
"""

from __future__ import annotations

import re
import time

import numpy as np
import pyarrow as pa

import gen
from harness import Loop, warm_pass

N_DOCS = 5_000
N_VECS = 5_000
DIM = 256
N_CLUSTERS = 32
KNN_QUERIES = 64
IVF_QUERIES = 2
K = 100
PII_RE = re.compile(
    r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    r"|\b\d{3}-\d{3}-\d{4}\b|\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
)
PLACEHOLDER = ("<EMAIL>", "<PHONE>", "<IP>")


def run(env, seconds: float) -> dict:
    spark, tracer, seed = env.spark, env.tracer, env.seed
    from pyspark.sql import functions as F

    from svs_spark.functions.text import scrub_pii
    from svs_spark.operators.clustering import within_cluster_pairs
    from svs_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs
    from svs_spark.operators.index_build import (
        build_ivf_index, ivf_assigned_frame, read_index_meta,
        search_ivf_index, train_centroids_sample,
    )
    from svs_spark.operators.similarity import knn_join_batch

    t0 = time.perf_counter()
    texts, truth = gen.curation_docs(seed, N_DOCS)
    mat, planted = gen.curation_vectors(seed, N_VECS, DIM)
    data = env.scratch("curation")
    # one file per input, as one writer leaves it: at this size Spark reads
    # it as one task, so a stage does not wait on its slowest core
    gen.write_parquet(data, "docs", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64), "text": texts})
    gen.write_parquet(data, "vecs", {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(mat.ravel(), DIM).cast(
            pa.list_(pa.float32())),
    })
    docs = spark.read.parquet(f"{data}/docs.parquet").persist()
    vecs = spark.read.parquet(f"{data}/vecs.parquet").persist()
    docs.count(), vecs.count()
    env.setup_parts["generate_s"] = time.perf_counter() - t0

    rng = np.random.default_rng([seed, 30])
    planted_q = [i for i, _ in planted[:KNN_QUERIES]]
    # query ids must be distinct: the batch join keys its window on them
    extra = rng.choice(np.setdiff1d(np.arange(N_VECS), planted_q),
                       KNN_QUERIES - len(planted_q), replace=False)
    knn_ids = planted_q + [int(i) for i in extra]
    knn_q = [(i, mat[i].astype(np.float64).tolist()) for i in knn_ids]
    index_path = f"{data}/ivf"
    out: dict = {}

    def exact_dedup():
        groups = docs.groupBy("text").agg(F.count("*").alias("n"))
        out["exact_dups"] = groups.agg(F.sum(F.col("n") - 1)).first()[0]

    def minhash():
        out["minhash"] = [tuple(r) for r in minhash_lsh_pairs(
            docs, jaccard_threshold=0.7).collect()]

    def simhash():
        out["simhash"] = [tuple(r) for r in simhash_pairs(
            docs, bits=64, max_hamming=3).collect()]

    def scrub():
        out["scrubbed"] = [tuple(r) for r in docs.select(
            "doc_id", scrub_pii("text")).collect()]

    def train():
        out["centroids"] = train_centroids_sample(
            vecs, N_CLUSTERS, sample_rows=5000, seed=seed % 1000)

    def build():
        build_ivf_index(vecs, index_path, out["centroids"])
        out["ivf_df"] = spark.read.parquet(index_path)
        out["ivf_meta"] = read_index_meta(index_path)

    def knn():
        out["knn"] = [tuple(r) for r in knn_join_batch(
            vecs, knn_q, K).select("query_id", "vec_id", "score").collect()]

    def ivf_query(j):
        def go():
            q = mat[knn_ids[j]].astype(np.float64).tolist()
            out[f"ivf{j}"] = [tuple(r) for r in search_ivf_index(
                out["ivf_df"], out["ivf_meta"], q, K).select(
                    "vec_id", "score").collect()]
        return go

    def semdedup():
        assigned = ivf_assigned_frame(spark, index_path)
        out["semdedup"] = [tuple(r) for r in within_cluster_pairs(
            assigned, threshold=0.9).select("id_a", "id_b", "score").collect()]

    # op kinds name the layer each op calls, so an op's span is its layer's
    def ops_for_pass(_i: int):
        return [
            ("curation.exact_dedup", exact_dedup),
            ("operators.dedup.minhash_lsh_pairs", minhash),
            ("operators.dedup.simhash_pairs", simhash),
            ("functions.text.scrub_pii", scrub),
            ("operators.index_build.train_centroids_sample", train),
            ("operators.index_build.build_ivf_index", build),
            ("operators.similarity.knn_join_batch", knn),
            *[("operators.index_build.search_ivf_index", ivf_query(j))
              for j in range(IVF_QUERIES)],
            ("operators.clustering.within_cluster_pairs", semdedup),
        ]

    t0 = time.perf_counter()
    warm = warm_pass(tracer, ops_for_pass)
    env.setup_parts["warm_s"] = time.perf_counter() - t0
    env.setup_done()
    tracer.phase = "run"
    loop = Loop(tracer)
    loop.run(ops_for_pass, seconds, alternate=tracer.enabled, min_passes=2)
    tracer.phase = "check"

    problems, recall = check(out, texts, truth, mat, planted, knn_ids)
    docs.unpersist(), vecs.unpersist()
    layer = {"ivf.recall_at_100": recall}

    def pair_layer() -> dict:
        """Pairs out and shuffle bytes per pair of the two hash joins
        (needs the engine counters, so runs after ``engine_metrics``)."""
        spans = [s for name in ("operators.dedup.minhash_lsh_pairs",
                                "operators.dedup.simhash_pairs")
                 for s in tracer.by_name(name) if s["phase"] == "run"]
        passes = max(loop.traced_passes, 1)
        pairs = len(out.get("minhash", [])) + len(out.get("simhash", []))
        shuffle = sum(tracer.inclusive(s, "shuffle_write_bytes") for s in spans)
        return {"operators.dedup.pairs_out": pairs,
                "engine.shuffle_bytes_per_pair": shuffle / passes / max(pairs, 1)}

    return {"loop": loop, "warm": warm, "problems": problems, "layer": layer,
            "layer_after_engine": pair_layer}


def check(out, texts, truth, mat, planted, knn_ids) -> tuple[list[str], float]:
    problems = []
    copies = sorted((i - 1, i) for i in range(1, len(texts))
                    if texts[i] == texts[i - 1])
    if out.get("exact_dups") != truth["n_exact_dups"]:
        problems.append(f"exact dups {out.get('exact_dups')} != {truth['n_exact_dups']}")
    minhash = {(a, b): j for a, b, j in out.get("minhash", [])}
    if any(minhash.get(c) != 1.0 for c in copies):
        problems.append("minhash: an exact copy was missed or scored below 1")
    simhash = {(a, b): h for a, b, h in out.get("simhash", [])}
    if any(simhash.get(c) != 0 for c in copies):
        problems.append("simhash: an exact copy was missed or scored above 0")
    clean = dict(out.get("scrubbed", []))
    left = sum(bool(PII_RE.search(t)) for t in clean.values())
    scrubbed = {d: t for d, t in clean.items() if t != texts[d]}
    if left or len(clean) != len(texts) or set(scrubbed) != set(truth["pii"]):
        problems.append(f"scrub_pii: {left} left, "
                        f"{len(scrubbed)} vs {len(truth['pii'])} redacted")
    elif any(PLACEHOLDER[k] not in scrubbed[d] for d, k in truth["pii"].items()):
        problems.append("scrub_pii: wrong placeholder")

    m64 = mat.astype(np.float64)
    by_q: dict[int, list] = {}
    for q, v, s in out.get("knn", []):
        by_q.setdefault(q, []).append((v, s))
    partner = dict(planted)
    for q in knn_ids:
        scores = np.round(m64 @ m64[q], 6)
        order = np.lexsort((-np.arange(len(scores)), -scores))[:K]
        got = sorted(by_q.get(q, []), key=lambda t: (-t[1], -t[0]))
        if [v for v, _ in got] != [int(i) for i in order] or any(
            s != scores[v] for v, s in got
        ):
            problems.append(f"knn_join_batch: query {q} differs from NumPy")
            break
        if q in partner and (partner[q], scores[partner[q]]) not in got:
            problems.append(f"knn_join_batch: planted pair {q} missed")
    recalls = []
    for j in range(IVF_QUERIES):
        q = m64[knn_ids[j]]
        exact = m64 @ q
        top = set(np.argsort(-exact)[:K].tolist())
        rows = out.get(f"ivf{j}", [])
        recalls.append(len(top & {v for v, _ in rows}) / K)
        if any(abs(s - exact[v]) > 1e-5 for v, s in rows):
            problems.append(f"search_ivf_index: query {j} scores not exact")
    pairs = out.get("semdedup", [])
    for a, b, s in pairs:
        if abs(s - round(float(m64[a] @ m64[b]), 6)) > 1e-6 or s < 0.9:
            problems.append(f"within_cluster_pairs: ({a}, {b}) score {s}")
            break
    if out.get("centroids") is None:
        problems.append("train_centroids_sample: never completed")
    else:
        cent = np.asarray(out["centroids"], dtype=np.float32)
        label = np.argmax(mat @ cent.T, axis=1)
        found = {(a, b) for a, b, _ in pairs} | {(b, a) for a, b, _ in pairs}
        lost = [p for p in planted
                if label[p[0]] == label[p[1]] and p not in found]
        if lost:
            problems.append(f"within_cluster_pairs: {len(lost)} planted pairs lost")
    return problems, float(np.mean(recalls)) if recalls else 0.0
