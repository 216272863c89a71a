"""Multi-round Lloyd k-means driver over the distributed assignment /
recompute kernels (round-4 verdict, Next round #8).

The loop composes two already-driver-gated stages:

  assign   — ``operators/similarity.centroid_assign``: map-only GEMM
             argmax, zero joins, corpus never shuffled
             (driver-checked by ``kmeans_assign_profile``);
  recompute — posexplode to (cluster, dim) keys + one hash exchange of
             8-byte-keyed integer-nano partial sums
             (driver-checked by ``kmeans_lloyd_round``).

Per iteration exactly ONE Spark job runs (assignment + mean recompute
fused in one plan, collecting k×d doubles to the driver — kilobytes),
centroids round-trip through the driver (no lineage growth, no
checkpointing needed), and the loop stops when the max centroid L2
shift drops below ``tol`` or ``max_iter`` rounds elapse. Empty
clusters keep their previous centroid (the standard Lloyd fallback).

Determinism: scores round to 6 decimals with ties to the lowest
centroid id (centroid_assign's oracle-checked rule) and the mean uses
the same order-independent integer-nano fixed-point sum as the
registered ``kmeans_lloyd_round`` query, so a run is reproducible
across partitionings and cluster sizes.

100 TB shape: per round, one corpus scan (map-only assignment — the
(k × d) centroid matrix ships in the task closure) plus one exchange
of n·d (cluster, dim, nano) rows with map-side partial aggregation.
Nothing corpus-sized is broadcast, collected, or cached beyond the
caller-provided DataFrame.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from svs_spark.functions.vector import stack_rows
from svs_spark.operators.similarity import centroid_assign
from svs_spark.session import drop_zip_importers

_NANO = 1_000_000_000


def _screen_margin(dim: int) -> float:
    """Safety margin for the float32 GEMM screen, derived from the
    vector dimension: the worst-case float32 dot error for unit
    vectors grows ~linearly with dim (≈ dim · 2⁻²⁴), so a fixed 1e-3
    is ample at dim 1536 (~1e-4) but would silently drop true
    near-threshold pairs at dim ≳ 10k. 8× headroom over the bound,
    floored at the historical 1e-3 so emitted scores stay identical
    at the dims already benchmarked."""
    return max(1e-3, 8.0 * dim * 2.0 ** -24)


def _screened_pairs(a, b, threshold: float, round_decimals: int):
    """(i, j, score) of every row pair with round(a_i·b_j,
    round_decimals) ≥ threshold; ``b=None`` pairs ``a`` with itself,
    upper triangle only (i < j). Two precisions: the O(n·m·d) GEMM
    screens in float32 (half the bytes/FLOP cost), and only candidates
    within ``_screen_margin`` of the threshold are re-scored exactly in
    float64, so the scores are bit-identical to an all-float64 kernel
    after rounding."""
    import numpy as np

    cut = threshold - _screen_margin(a.shape[1])
    a32 = a.astype(np.float32)
    if b is None:
        b = a
        i, j = np.triu_indices(len(a), k=1)
        cand = (a32 @ a32.T)[i, j] >= cut
        i, j = i[cand], j[cand]
    else:
        i, j = np.nonzero(a32 @ b.astype(np.float32).T >= cut)
    exact = np.round(np.einsum("ij,ij->i", a[i], b[j]), round_decimals)
    keep = exact >= threshold
    return i[keep], j[keep], exact[keep]


def _recompute_means(assigned: DataFrame, vec_col: str) -> DataFrame:
    """(cluster_id, dim, n_assigned, centroid_v) from an assignment
    that carried the vector through (keep_vec=True)."""
    exploded = assigned.select(
        "cluster_id",
        F.posexplode(F.col(vec_col).cast("array<double>")),
    ).withColumnsRenamed({"pos": "dim", "col": "v"})
    v_nanos = F.floor(F.col("v") * F.lit(float(_NANO)) + F.lit(0.5)).cast(
        "long"
    )
    return (
        exploded.withColumn("v_nanos", v_nanos)
        .groupBy("cluster_id", "dim")
        .agg(F.count("*").alias("n_assigned"), F.sum("v_nanos").alias("s"))
        .select(
            "cluster_id",
            "dim",
            "n_assigned",
            (F.col("s").cast("double") / F.col("n_assigned") / _NANO).alias(
                "centroid_v"
            ),
        )
    )


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    max_iter: int = 20,
    tol: float = 1e-6,
    seed_ids: Sequence[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = False,
) -> tuple[list[tuple[int, list[float]]], dict]:
    """Run Lloyd's algorithm to convergence.

    Seeds are the vectors of ``seed_ids`` (default: the ``k`` lowest
    ids — deterministic, matching ``kmeans_lloyd_round``'s seed rule).
    ``normalize=True`` re-normalizes each centroid to unit length after
    the mean (spherical k-means — appropriate for the unit-norm cosine
    geometry the svs reference uses; reference kb.py retrieval is
    dot-product on unit vectors).

    Returns ``(centroids, info)`` where centroids is ``[(cluster_id,
    vector)]`` sorted by id and info records ``n_iter``, ``converged``,
    ``shifts`` (max L2 centroid movement per iteration) and
    ``cluster_sizes`` for the final assignment.
    """
    base = embeddings.select(id_col, vec_col)
    if seed_ids is None:
        seed_rows = base.orderBy(id_col).limit(k).collect()
    else:
        seed_rows = (
            base.filter(F.col(id_col).isin(list(seed_ids)))
            .orderBy(id_col)
            .collect()
        )
        if len(seed_rows) != len(seed_ids):
            raise ValueError("some seed_ids not present in embeddings")
    cents: dict[int, list[float]] = {
        int(r[id_col]): [float(x) for x in r[vec_col]] for r in seed_rows
    }

    shifts: list[float] = []
    sizes: dict[int, int] = {}
    converged = False
    for _ in range(max_iter):
        assigned = centroid_assign(
            base,
            sorted(cents.items()),
            id_col=id_col,
            vec_col=vec_col,
            keep_vec=True,
        )
        rows = _recompute_means(assigned, vec_col).collect()
        new_cents: dict[int, list[float]] = {}
        sizes = {}
        for r in rows:
            cid = int(r["cluster_id"])
            vec = new_cents.setdefault(cid, [0.0] * len(next(iter(cents.values()))))
            vec[int(r["dim"])] = float(r["centroid_v"])
            sizes[cid] = int(r["n_assigned"])
        # empty clusters keep their previous centroid
        for cid, old in cents.items():
            if cid not in new_cents:
                new_cents[cid] = list(old)
                sizes.setdefault(cid, 0)
        if normalize:
            for cid, vec in new_cents.items():
                nrm = math.sqrt(sum(x * x for x in vec))
                if nrm > 0:
                    new_cents[cid] = [x / nrm for x in vec]
        shift = max(
            math.sqrt(
                sum((a - b) ** 2 for a, b in zip(cents[cid], new_cents[cid]))
            )
            for cid in cents
        )
        shifts.append(shift)
        cents = new_cents
        if shift < tol:
            converged = True
            break

    centroids = sorted((cid, vec) for cid, vec in cents.items())
    info = {
        "n_iter": len(shifts),
        "converged": converged,
        "shifts": shifts,
        "cluster_sizes": {c: sizes.get(c, 0) for c, _ in centroids},
    }
    return centroids, info


def within_cluster_pairs(
    assigned: DataFrame,
    threshold: float,
    cluster_cap: int | None = None,
    skip_report: dict | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster_id",
    round_decimals: int = 6,
    auto_split: bool = False,
    max_split_depth: int = 3,
) -> DataFrame:
    """SemDeDup pair stage (Abbas et al. 2023): given (id, cluster,
    vector) rows from ``centroid_assign``/``kmeans_lloyd``, emit every
    within-cluster pair with rounded cosine >= ``threshold`` as
    (cluster_id, id_a, id_b, score), id_a < id_b. Each cluster's
    pairwise block runs as ONE local BLAS GEMM inside applyInPandas —
    the corpus crosses exactly one cluster_id exchange and the
    all-pairs work never touches the shuffle.

    ``cluster_cap``: per-cluster row ceiling for the adversarial case
    (a mega-cluster makes C(c,2) explode). With ``auto_split=False``
    over-cap clusters are SKIPPED ENTIRELY and reported via
    ``skip_report`` (keys ``skipped_clusters`` / ``skipped_rows``) —
    the hot-bucket discipline of operators/dedup: no silent caps. With
    ``auto_split=True`` (the production mode, round-6 verdict ask #4)
    an over-cap cluster is RECURSED instead of skipped: a spherical
    sub-k-means (k sized so mean sub-clusters land at ~cap/2) re-
    partitions the hot cluster and the pair kernel re-runs within the
    sub-clusters, up to ``max_split_depth`` levels, so no mass is left
    uncompared unless the mass is literally inseparable (identical
    vectors — k-means can't split a point; those leaves fall back to
    skip-and-report). Pairs found inside a split cluster report the
    ORIGINAL top-level cluster_id, so the output contract is unchanged.
    ``skip_report`` gains ``split_clusters`` / ``split_rows``
    accumulators; skipped counters accumulate across recursion levels
    (pass a fresh dict per call).

    Scale shape: one hash exchange on cluster_id; per-task memory is
    O(cap * dim + cap^2) floats (choose cap so the score block fits);
    only pairs above threshold leave the task. The split path adds,
    PER over-cap cluster, one bounded Lloyd fit (≤5 scans of that
    cluster's rows, cached) — mega-clusters are rare by construction
    (k grows with the corpus), so this is guard-rail cost, not plan
    cost. Note the split inherits SemDeDup's own approximation one
    level down: near-dup pairs straddling two SUB-clusters are lost
    exactly as pairs straddling top-level clusters are; the recall
    probe measures both."""
    import numpy as np
    import pandas as pd

    if cluster_cap is not None:
        sizes = assigned.groupBy(cluster_col).agg(
            F.count("*").alias("_cn")
        )
        hot = sizes.filter(F.col("_cn") > cluster_cap).collect()
        hot_ids = {r[cluster_col] for r in hot}
        if skip_report is not None and not (auto_split and hot_ids):
            skip_report["skipped_clusters"] = (
                skip_report.get("skipped_clusters", 0) + len(hot)
            )
            skip_report["skipped_rows"] = skip_report.get(
                "skipped_rows", 0
            ) + int(sum(r["_cn"] for r in hot))
        if hot_ids and auto_split:
            from svs_spark.cache_hooks import persist_tracked
            from svs_spark.operators.similarity import centroid_assign

            cold = assigned.filter(~F.col(cluster_col).isin(list(hot_ids)))
            out = within_cluster_pairs(
                cold, threshold, cluster_cap=None, id_col=id_col,
                vec_col=vec_col, cluster_col=cluster_col,
                round_decimals=round_decimals,
            )
            for r in hot:
                cid, cn = r[cluster_col], int(r["_cn"])
                sub = persist_tracked(
                    assigned.filter(F.col(cluster_col) == cid).select(
                        id_col, vec_col
                    )
                )
                splittable = max_split_depth > 0
                if splittable:
                    k_sub = max(2, -(-2 * cn // cluster_cap))
                    cents, info = kmeans_lloyd(
                        sub, k=min(k_sub, cn), max_iter=5,
                        id_col=id_col, vec_col=vec_col, normalize=True,
                    )
                    # no-progress guard: identical vectors all tie to
                    # the lowest centroid id — k-means cannot split
                    # them, so don't burn depth re-fitting the same set
                    splittable = (
                        max(info["cluster_sizes"].values() or [cn]) < cn
                    )
                if not splittable:
                    if skip_report is not None:
                        skip_report["skipped_clusters"] = (
                            skip_report.get("skipped_clusters", 0) + 1
                        )
                        skip_report["skipped_rows"] = (
                            skip_report.get("skipped_rows", 0) + cn
                        )
                    continue
                if skip_report is not None:
                    skip_report["split_clusters"] = (
                        skip_report.get("split_clusters", 0) + 1
                    )
                    skip_report["split_rows"] = (
                        skip_report.get("split_rows", 0) + cn
                    )
                sub_asg = centroid_assign(
                    sub, cents, id_col=id_col, vec_col=vec_col,
                    keep_vec=True,
                )
                sub_pairs = within_cluster_pairs(
                    sub_asg, threshold, cluster_cap=cluster_cap,
                    skip_report=skip_report, id_col=id_col,
                    vec_col=vec_col, cluster_col="cluster_id",
                    round_decimals=round_decimals, auto_split=True,
                    max_split_depth=max_split_depth - 1,
                ).withColumn(
                    "cluster_id",
                    F.lit(cid).cast("long"),
                )
                out = out.unionByName(sub_pairs)
            return out
        if hot_ids:
            assigned = assigned.filter(
                ~F.col(cluster_col).isin(list(hot_ids))
            )

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_zip_importers()
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        mat = stack_rows(pdf[vec_col].to_numpy()[order], np.float64)
        ia, ib, exact = _screened_pairs(mat, None, threshold, round_decimals)
        return pd.DataFrame(
            {
                "cluster_id": np.full(len(ia), pdf[cluster_col].iloc[0]),
                "id_a": ids[ia],
                "id_b": ids[ib],
                "score": exact,
            }
        )

    return assigned.select(cluster_col, id_col, vec_col).groupBy(
        cluster_col
    ).applyInPandas(
        pairs,
        schema="cluster_id long, id_a long, id_b long, score double",
    )


def semdedup_recall_probe(
    assigned: DataFrame,
    threshold: float,
    sample_rows: int = 500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster_id",
    round_decimals: int = 6,
) -> dict:
    """Recall telemetry for the SemDeDup partition: the cluster-
    restriction is the pipeline's only lossy step (the pair stage is
    exact within a cluster), and its loss — true near-dup pairs whose
    members landed in DIFFERENT clusters — depends on the centroid
    layout, so it can drift as k, the data, or the trainer changes.
    This probe measures it directly, the same way
    ``dedup.minhash_index_recall_telemetry`` audits the banded join:

    ground truth = exact rounded-cosine pairs between a DETERMINISTIC
    ``sample_rows``-vector sample and the whole corpus (one map-only
    GEMM scan with the sample matrix in the task closure — bounded at
    |corpus| × sample work, telemetry-sized); found = the
    within-cluster pairs touching the sample. Verification is exact on
    both sides, so recall = the fraction of true pairs the cluster
    partition keeps comparable. Returns {"true_pairs", "found_pairs",
    "recall"} (1.0 on an empty truth set: nothing was missed).

    Wire it next to the k schedule in an ingestion loop and alert on a
    falling trend — falling recall means k outgrew the data (clusters
    slice through near-dup neighborhoods) and the centroids need
    retraining."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    samp_rows = (
        assigned.select(id_col, vec_col)
        .withColumn(
            "_k", (F.col(id_col) * F.lit(2654435761)) % F.lit(4294967296)
        )
        .orderBy("_k", id_col)
        .limit(sample_rows)
        .collect()
    )
    if not samp_rows:
        return {"true_pairs": 0, "found_pairs": 0, "recall": 1.0}
    s_ids = np.asarray([r[id_col] for r in samp_rows], dtype=np.int64)
    s_mat = stack_rows([r[vec_col] for r in samp_rows], np.float64)

    def truth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            mat = stack_rows(pdf[vec_col].to_numpy(), np.float64)
            ci, sj, _ = _screened_pairs(mat, s_mat, threshold, round_decimals)
            if not len(ci):
                continue
            keep = ids[ci] != s_ids[sj]
            a = np.minimum(ids[ci][keep], s_ids[sj][keep])
            b = np.maximum(ids[ci][keep], s_ids[sj][keep])
            yield pd.DataFrame({"id_a": a, "id_b": b})

    true_pairs = {
        (r["id_a"], r["id_b"])
        for r in assigned.select(id_col, vec_col)
        .mapInPandas(truth, schema="id_a long, id_b long")
        .collect()
    }
    sample_set = set(int(i) for i in s_ids)
    found_pairs = {
        (r["id_a"], r["id_b"])
        for r in within_cluster_pairs(
            assigned,
            threshold,
            id_col=id_col,
            vec_col=vec_col,
            cluster_col=cluster_col,
            round_decimals=round_decimals,
        )
        .filter(
            F.col("id_a").isin(sample_set) | F.col("id_b").isin(sample_set)
        )
        .collect()
    }
    found_in_universe = found_pairs & true_pairs
    recall = (
        len(found_in_universe) / len(true_pairs) if true_pairs else 1.0
    )
    return {
        "true_pairs": len(true_pairs),
        "found_pairs": len(found_in_universe),
        "recall": recall,
    }


# selected-id exclusion switches from an InSet literal filter to a
# broadcast left-anti join past this many centers (see kcenter_greedy)
_ANTI_JOIN_CUTOFF = 128


def kcenter_greedy(
    embeddings: DataFrame,
    k: int,
    batch_candidates: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "tuple[list[int], list[float], int]":
    """Greedy (Gonzalez) k-center selection over cosine scores: seed =
    lowest id, then repeatedly pick the point FARTHEST from its nearest
    chosen center (max-min), ties to lowest id — the diversity-coreset
    selector behind ``kcenter_coreset``. Returns (center ids in
    selection order, coverage radii before each selection from round 2
    on, number of corpus passes).

    ``batch_candidates = 0`` is the sequential form: one corpus pass
    per round (k − 1 passes) — each pass is a map-only
    ``centroid_assign`` GEMM over the current centers plus a 1-row
    TakeOrdered.

    ``batch_candidates = m > 0`` is the BATCHED form: each pass
    collects the top-m farthest rows as (id, score) only — the
    TakeOrdered heaps carry 16-byte rows, never 8·dim-byte payloads —
    fetches the m candidate vectors with one pruned InSet scan, then
    selects centers locally, updating only the m candidates' scores per
    selection. Local selection is EXACT by a pigeonhole guard: every
    non-collected row's (score, id) pair was lexicographically greater
    than the m-th candidate's at collection time, and scores only
    INCREASE as centers are added — so while the best remaining
    candidate's UPDATED pair is still ≤ the m-th candidate's ORIGINAL
    pair, no outside row can beat it, and the selection equals the
    sequential greedy's. When the guard trips, a fresh corpus pass
    re-collects.

    Where it pays (measured at 1M×1536, PROBES_r07): the LARGE-k
    coreset regime — k=64 takes 7 passes / 220 s vs the sequential's
    63 passes / 1774 s (8.1×, identical output). At small k over
    clustered data the guard trips after ~2 local picks (the farthest
    candidates co-locate, and one selection re-covers its neighbors),
    so k=8 stays on the sequential form — pick by k, not by default.

    Determinism matches the sequential form: scores are rounded to 6dp
    before any comparison (the repo-wide GEMM contract), and the local
    update's per-center GEMV is the same float64 BLAS reduction as the
    kernel's GEMM column; rounding to 6dp swamps any last-ulp blocking
    difference. Collecting m (id, score) rows plus one m·dim vector
    fetch is the only driver transfer (m is a tuning constant, never
    data-sized).

    If ``k`` exceeds the corpus row count, selection stops at corpus
    exhaustion and FEWER than k centers are returned (each pass
    excludes already-selected ids — a scan-stage InSet filter up to
    128 centers, a broadcast left-anti join beyond that so per-pass
    plan-compile cost stays bounded instead of quadratic in k — so the
    greedy can never re-emit a chosen id)."""
    import numpy as np

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    seed = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.asc(id_col))
        .limit(1)
        .collect()[0]
    )
    center_ids = [int(seed[id_col])]
    centers = [(0, [float(x) for x in seed[vec_col]])]
    radii: list[float] = []
    n_passes = 0

    def _remaining() -> DataFrame:
        # already-selected ids can never be re-picked: without this,
        # k > |corpus| silently loops emitting duplicate center ids.
        # Small selected sets use an InSet literal (scan-stage filter,
        # no exchange); past _ANTI_JOIN_CUTOFF ids the literal list
        # makes each pass's plan-compile cost quadratic in k (ADVICE
        # r8), so large-k runs switch to a broadcast left-anti join
        # against the selected-ids frame — same rows, bounded plans.
        if len(center_ids) <= _ANTI_JOIN_CUTOFF:
            return embeddings.filter(
                ~F.col(id_col).isin([int(i) for i in center_ids])
            )
        sel = embeddings.sparkSession.createDataFrame(
            [(int(i),) for i in center_ids], f"{id_col} long"
        )
        return embeddings.join(F.broadcast(sel), id_col, "left_anti")

    if batch_candidates <= 0:
        while len(center_ids) < k:
            n_passes += 1
            picked = (
                centroid_assign(_remaining(), centers, id_col=id_col,
                                vec_col=vec_col, keep_vec=True)
                .orderBy(F.asc("score"), F.asc(id_col))
                .limit(1)
                .collect()
            )
            if not picked:
                break  # corpus exhausted: fewer than k centers exist
            top = picked[0]
            radii.append(round(1.0 - float(top["score"]), 6))
            center_ids.append(int(top[id_col]))
            centers.append((len(centers), [float(x) for x in top[vec_col]]))
        return center_ids, radii, n_passes

    m = int(batch_candidates)
    while len(center_ids) < k:
        n_passes += 1
        # top-m (score asc, id asc) WITHOUT vectors: the TakeOrdered
        # heaps then carry 16-byte rows instead of 8·dim-byte ones (at
        # dim 1536 the payload-carrying sort dominated the pass cost —
        # measured slower than the sequential form at 1M×1536)
        rows = (
            centroid_assign(_remaining(), centers, id_col=id_col,
                            vec_col=vec_col)
            .orderBy(F.asc("score"), F.asc(id_col))
            .limit(m)
            .select(id_col, "score")
            .collect()
        )
        if not rows:
            break  # corpus smaller than the selected set
        cand_ids = np.asarray([int(r[id_col]) for r in rows], dtype=np.int64)
        scores = np.asarray([float(r["score"]) for r in rows])
        # one pruned fetch of the m candidate vectors (InSet filter at
        # the scan — m·dim doubles cross the driver, never the corpus)
        vec_rows = (
            embeddings.select(id_col, vec_col)
            .filter(F.col(id_col).isin([int(i) for i in cand_ids]))
            .collect()
        )
        vec_of = {int(r[id_col]): r[vec_col] for r in vec_rows}
        cand_mat = np.asarray(
            [[float(x) for x in vec_of[int(i)]] for i in cand_ids],
            dtype=np.float64,
        )
        # guard threshold: the LAST collected row's pair at collection
        # time; None when the whole remaining corpus fit in m rows
        # (then every row is in hand and the guard never trips)
        bound = (
            None
            if len(rows) < m
            else (float(rows[-1]["score"]), int(rows[-1][id_col]))
        )
        alive = np.ones(len(rows), dtype=bool)
        while len(center_ids) < k and alive.any():
            idx_alive = np.nonzero(alive)[0]
            order = np.lexsort((cand_ids[idx_alive], scores[idx_alive]))
            best = idx_alive[order[0]]
            pair = (float(scores[best]), int(cand_ids[best]))
            if bound is not None and pair > bound:
                break  # an uncollected row could be farther — rescan
            radii.append(round(1.0 - pair[0], 6))
            center_ids.append(pair[1])
            cvec = cand_mat[best]
            centers.append((len(centers), cvec.tolist()))
            alive[best] = False
            if alive.any():
                upd = np.round(cand_mat[alive] @ cvec, 6)
                scores[alive] = np.maximum(scores[alive], upd)
    return center_ids, radii, n_passes
