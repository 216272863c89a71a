"""Distributed logistic regression for quality classification.

The standard curation move after hand-labeling a few thousand docs is
a cheap linear classifier over engineered quality features (length,
entropy, stopword ratio, ...). Feature count d is tiny (< 100); row
count is the corpus. That asymmetry picks the algorithm: Newton/IRLS,
where each iteration needs only the d-vector gradient and d x d
Hessian — associative partial sums over partitions, exactly the
moments shape of operators/pca.py:

    g = X^T (p - y) + lambda w          (d floats)
    H = X^T diag(p (1 - p)) X + lambda I  (d^2 floats)

Each partition folds its Arrow batches into one (g, H) pair with BLAS
(zero per-row Python), partials reduce by addition, and the d x d
solve happens on the driver. A fixed iteration count with L2
regularization keeps the optimum unique and the run deterministic.

Convergence note: IRLS on a strictly convex (lambda > 0) objective
converges quadratically; tests/test_logreg.py verifies the fit against
an independent NumPy implementation of the same objective and checks
the gradient norm at the solution.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from svs_spark.functions.vector import array_lit


def _partial_newton(w: np.ndarray, dim: int):
    wl = w.copy()

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        g = np.zeros(dim + 1, dtype=np.float64)  # [+ intercept]
        h = np.zeros((dim + 1, dim + 1), dtype=np.float64)
        loss = 0.0
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["features"]]
            )
            x = np.hstack([x, np.ones((x.shape[0], 1))])
            y = pdf["label"].to_numpy(dtype=np.float64)
            z = x @ wl
            # numerically-stable sigmoid + log-loss
            p = np.where(z >= 0, 1.0 / (1.0 + np.exp(-z)),
                         np.exp(z) / (1.0 + np.exp(z)))
            loss += float(
                np.sum(np.maximum(z, 0) - z * y + np.log1p(np.exp(-np.abs(z))))
            )
            g += x.T @ (p - y)
            r = p * (1.0 - p)
            h += (x * r[:, None]).T @ x
            n += x.shape[0]
        if n:
            yield pd.DataFrame(
                {
                    "n": [n],
                    "loss": [loss],
                    "g": [g.tolist()],
                    "h": [h.ravel().tolist()],
                }
            )

    return fold


def fit(
    df: DataFrame,
    features_col: str = "features",
    label_col: str = "label",
    dim: int | None = None,
    iters: int = 8,
    l2: float = 1e-3,
) -> dict:
    """Newton-fit a binary logistic model.

    ``features_col``: array<float/double> of fixed length ``dim``
    (inferred from the first row if omitted); ``label_col``: 0/1.
    Returns {"weights": [d], "intercept": float, "loss": float,
    "n": int, "grad_norm": float} — grad_norm at the returned weights,
    so callers can assert convergence.
    """
    base = df.select(
        F.col(features_col).cast("array<double>").alias("features"),
        F.col(label_col).cast("double").alias("label"),
    )
    if dim is None:
        first = base.select(F.size("features")).first()
        if first is None:
            raise ValueError("empty input")
        dim = int(first[0])

    w = np.zeros(dim + 1, dtype=np.float64)
    stats: dict = {}
    for _ in range(iters + 1):  # final pass only evaluates the gradient
        partials = base.mapInPandas(
            _partial_newton(w, dim),
            "n long, loss double, g array<double>, h array<double>",
        ).collect()
        if not partials:
            raise ValueError("empty input")
        n = sum(r["n"] for r in partials)
        loss = sum(r["loss"] for r in partials)
        g = np.sum([np.asarray(r["g"]) for r in partials], axis=0)
        h = np.sum(
            [np.asarray(r["h"]).reshape(dim + 1, dim + 1) for r in partials],
            axis=0,
        )
        reg = l2 * np.ones(dim + 1)
        reg[dim] = 0.0  # don't penalize the intercept
        g = g + reg * w
        loss += 0.5 * l2 * float(np.dot(w[:dim], w[:dim]))
        stats = {
            "n": int(n),
            "loss": float(loss),
            "grad_norm": float(np.linalg.norm(g)),
        }
        if _ == iters:
            break
        h_reg = h + np.diag(reg)
        w = w - np.linalg.solve(h_reg, g)
    stats["weights"] = w[:dim].tolist()
    stats["intercept"] = float(w[dim])
    return stats


def predict(df: DataFrame, model: dict, features_col: str = "features") -> DataFrame:
    """Append ``score`` = P(label=1 | features): a scan-stage
    zip_with/aggregate fold over the weight literal — no shuffle, no
    Python."""
    wts = [float(v) for v in model["weights"]]
    z = F.aggregate(
        F.zip_with(
            F.col(features_col).cast("array<double>"),
            array_lit(wts),
            lambda a, b: a * b,
        ),
        F.lit(float(model["intercept"])),
        lambda acc, x: acc + x,
    )
    return df.withColumn("score", F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))
