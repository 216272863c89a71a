"""Distributed PCA over an embedding column.

Embedding whitening / dimensionality reduction needs the d x d
covariance of the corpus. At 100 TB the data matrix never fits
anywhere, but the covariance is just moments:

    C = (G - s s^T / n) / (n - 1),   G = X^T X,  s = column sums

and G/s are associative partial sums: each partition folds its Arrow
batches into one local (n, s, G) accumulator (NumPy ``x.T @ x``, BLAS,
zero Python per-row work), the partials reduce by elementwise addition,
and only the d x d result ever moves. For d = 1536 a partial is ~18 MB
of float64 — thousands of partitions reduce Spark-side (posexplode to
(pos, val) and sum per pos: one exchange keyed on the d^2-bounded
position, never on rows) before a single d x d collect. The
eigendecomposition of a d x d symmetric matrix is driver-trivial
(d <= a few thousand for every embedding model in use).

Float note: partials are float64 sums of float32 inputs; cross-
partition addition is order-dependent in the last ulps, which is why
the *registered* covariance query (query_defs.q_embedding_covariance)
uses fixed-point BIGINT moments instead — this module is the
full-matrix serving path, tested against direct NumPy to 1e-9.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from svs_spark.functions.vector import array_lit
from svs_spark.session import drop_zip_importers


def _partial_moments(dim: int):
    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        n = 0
        s = np.zeros(dim, dtype=np.float64)
        g = np.zeros((dim, dim), dtype=np.float64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            n += x.shape[0]
            s += x.sum(axis=0)
            g += x.T @ x
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    return fold


def moments(df: DataFrame, col: str, dim: int) -> tuple[int, np.ndarray, np.ndarray]:
    """(n, column sums, Gram matrix) of ``df[col]`` (array<float>, len=dim)."""
    partials = df.select(F.col(col).alias("embedding")).mapInPandas(
        _partial_moments(dim), "n long, s array<double>, g array<double>"
    )
    # Spark-side elementwise reduce: one exchange keyed on the bounded
    # (d + d^2) position domain, so the collect is a single partial no
    # matter how many input partitions contributed.
    red = (
        partials.select(
            "n", F.posexplode(F.concat("s", "g")).alias("pos", "v")
        )
        .groupBy("pos")
        .agg(F.sum("v").alias("v"), F.sum(F.when(F.col("pos") == 0, F.col("n"))).alias("_n"))
        .orderBy("pos")
    )
    rows = red.collect()
    flat = np.array([r["v"] for r in rows], dtype=np.float64)
    n = int(next(r["_n"] for r in rows if r["pos"] == 0) or 0)
    s = flat[:dim]
    g = flat[dim:].reshape(dim, dim)
    return n, s, g


def covariance(df: DataFrame, col: str, dim: int) -> np.ndarray:
    n, s, g = moments(df, col, dim)
    if n < 2:
        raise ValueError(f"covariance needs >= 2 rows, got {n}")
    return (g - np.outer(s, s) / n) / (n - 1)


def pca(
    df: DataFrame, col: str, dim: int, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k principal axes of the embedding corpus.

    Returns ``(explained_variance_ratio[k], components[k, dim])`` in
    descending eigenvalue order. Component sign is normalized so each
    row's largest-magnitude entry is positive (eigenvector sign is
    otherwise arbitrary, which would break determinism tests).
    """
    c = covariance(df, col, dim)
    vals, vecs = np.linalg.eigh(c)  # ascending
    order = np.argsort(vals)[::-1][:k]
    vals_k = vals[order]
    comps = vecs[:, order].T.copy()
    for i in range(comps.shape[0]):
        j = int(np.abs(comps[i]).argmax())
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total = float(vals.sum())
    ratio = vals_k / total if total > 0 else np.zeros_like(vals_k)
    return ratio, comps


def project(
    df: DataFrame, col: str, components: Iterable[Iterable[float]]
) -> DataFrame:
    """Append ``pc`` (array<double>): the row's projection onto the
    given components — a pure per-row map (scan-stage, no shuffle)."""
    comp = [list(map(float, c)) for c in components]
    exprs = [
        F.aggregate(
            F.zip_with(
                F.col(col),
                array_lit(row),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for row in comp
    ]
    return df.withColumn("pc", F.array(*exprs))
