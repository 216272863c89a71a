"""Approximate-nearest-neighbor operators over embedding columns.

Spark builds/refreshes the index structures in batch (bucket
assignments, centroids) — the reference has no index at all (pure brute
force, ``src/svs/kb.py:1623``), so these are the mandated scale path:

- brute-force k-NN join: the exact baseline (per-query TakeOrdered)
- hyperplane LSH: deterministic rational hyperplanes → sign-bit bucket;
  search only the query's bucket
- IVF: coarse quantization by a cluster/label column; probe the top-p
  nearest centroids, rerank exactly within them

Hyperplanes use pure rational literals (no libm), so the same doubles
appear in Spark, Python, and the DuckDB oracle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from svs_spark.functions.vector import dot, dot_literal
from svs_spark.operators.similarity import ranked_topk


def hyperplane(bit: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: exact rational values."""
    return [
        ((bit * 8191 + i * 127) % 997) / 997.0 - 0.5 for i in range(dim)
    ]


def hyperplane_bucket(
    vec_col: str, nbits: int, dim: int
) -> F.Column:
    """Sign-bit bucket id from nbits hyperplane dot products."""
    bucket = F.lit(0).cast("long")
    for bit in range(nbits):
        h = hyperplane(bit, dim)
        bucket = bucket + F.when(
            dot_literal(vec_col, h) > 0, F.lit(2**bit).cast("long")
        ).otherwise(0)
    return bucket


def query_bucket(qvec: Sequence[float], nbits: int) -> int:
    """Driver-side bucket of the query vector — same arithmetic as
    hyperplane_bucket (sequential left-to-right double fold)."""
    dim = len(qvec)
    bucket = 0
    for bit in range(nbits):
        h = hyperplane(bit, dim)
        acc = 0.0
        for x, y in zip(qvec, h):
            acc += float(x) * y
        if acc > 0:
            bucket += 2**bit
    return bucket


def lsh_topk(
    embeddings: DataFrame,
    qvec: Sequence[float],
    k: int,
    nbits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN search: filter to the query's LSH bucket, exact rerank inside.

    The bucket expression is a pure column function, so at scale you
    materialize it once (partition the table by bucket) and the filter
    becomes partition pruning — the scan touches 1/2^nbits of the data.
    """
    dim = len(qvec)
    qb = query_bucket(qvec, nbits)
    bucketed = embeddings.withColumn(
        "bucket", hyperplane_bucket(vec_col, nbits, dim)
    ).filter(F.col("bucket") == qb)
    return (
        bucketed.select(
            id_col,
            F.round(dot_literal(vec_col, qvec), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.desc(id_col))
        .limit(k)
    )


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force k-NN join: per-query top-k via ranked window.

    Baseline for ANN recall measurement. The window partitions by query,
    so work distributes across queries; for few queries × huge corpus,
    prefer broadcasting the queries and a per-partition heap (the
    retrieve_topk shape) per query.
    """
    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("qvec")
    )
    c = candidates.select(
        F.col(cand_id), F.col(vec_col).alias("cvec")
    )
    scored = q.crossJoin(c).select(
        query_id,
        cand_id,
        F.round(dot("qvec", "cvec"), 6).alias("score"),
    )
    return ranked_topk(scored, [query_id], cand_id, k)


def ivf_centroids(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    cluster_col: str = "label",
) -> dict[int, list[float]]:
    """Distributed IVF centroid build: posexplode → groupBy(cluster, pos)
    avg → collect.  The collected result is index *metadata* — n_clusters
    × dim doubles (a few KB), not data — exactly what
    ``index_build.build_two_level_index`` persists to ``meta.json``.

    At 100 TB this runs once per index (re)build, amortized over every
    subsequent query; it is the only corpus-touching scan the build needs.
    """
    rows = (
        embeddings.select(
            F.col(cluster_col).alias("cl"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "pos", "x"
            ),
        )
        .groupBy("cl", "pos")
        .agg(F.avg("x").alias("c"))
        .groupBy("cl")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("cl", F.col("pc.c").alias("centroid"))
        .collect()
    )
    return {r["cl"]: list(r["centroid"]) for r in rows}


def rank_clusters(
    centroids: dict[int, list[float]], qvec: Sequence[float], probes: int
) -> list[int]:
    """Top-`probes` cluster ids by centroid·query (desc, ties → higher
    id).  Scores are rounded to 6 decimals before comparison so the
    probe set is stable against last-ulp summation-order drift between
    engines (mirrors the oracle's ``round(cscore, 6)``)."""
    scored = [
        (round(sum(float(c) * float(q) for c, q in zip(cent, qvec)), 6), cl)
        for cl, cent in centroids.items()
    ]
    scored.sort(key=lambda t: (-t[0], -t[1]))
    return [cl for _, cl in scored[:probes]]


def ivf_topk(
    embeddings: DataFrame,
    qvec: Sequence[float],
    k: int,
    probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    centroids: dict[int, list[float]] | None = None,
    meta_filter: Column | None = None,
) -> DataFrame:
    """IVF-style ANN: rank coarse clusters by centroid·query, search only
    the top-`probes` clusters, exact rerank inside.

    ``meta_filter`` restricts candidates by a metadata predicate
    (filtered vector search — recency windows, source allowlists): it
    conjoins with the cluster-IN-probes predicate BEFORE scoring, so
    both reach the scan together (PushedFilters) and prune files when
    the layout partitions on either column. Centroids still rank over
    the full index — the filter narrows candidates, not the coarse
    geometry.

    When ``centroids`` is supplied (from ``ivf_centroids`` or the
    ``index_build`` metadata), cluster ranking happens driver-side over
    the tiny metadata and the query plan touches the corpus exactly
    once: a scan filtered by ``cluster IN (probe set)`` — a literal
    pushdown predicate that becomes partition pruning when the table is
    laid out by cluster (``build_two_level_index``).  Without centroids
    it falls back to computing them first (one extra scan — the
    index-build cost paid inline; fine for one-off queries, wrong for a
    query loop, which is why the serving path reads metadata).
    """
    if centroids is None:
        centroids = ivf_centroids(embeddings, vec_col, cluster_col)
    probe_clusters = rank_clusters(centroids, qvec, probes)
    cands = embeddings.filter(F.col(cluster_col).isin(probe_clusters))
    if meta_filter is not None:
        cands = cands.filter(meta_filter)
    return (
        cands.select(
            id_col,
            F.col(cluster_col),
            F.round(dot_literal(vec_col, qvec), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.desc(id_col))
        .limit(k)
    )
