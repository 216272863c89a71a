"""Focused first-position probe for single MILLION_BENCH metrics.

The full bench runs ~15 stages in one process, so late stages inherit
page-cache / JIT / persisted-frame state from earlier ones — the r7
verdict-prep found semdedup's two compositions swapping rank purely by
run ORDER, and bulk_64q drifting with background load. This tool runs
exactly ONE op, first-position, in a fresh process over the identical
deterministic corpus (million_bench.synth_corpus), reporting
median-of-3 — the adjudicator for any full-run number under suspicion.

Usage: python tools/serving_probe.py <op> [n_docs] [dim]
  op ∈ bulk64 | hardneg64 | ndcg64 | semdedup_reuse |
       semdedup_standalone | kcenter | kcenter64 | ivf |
       int8_rerank | pq
Prints ONE JSON line.

Every probe is COOLDOWN-GATED (r8 verdict ask #1/#2): before the
session starts, the probe spins the calibration workloads and waits —
up to SPARK_GRAFT_COOLDOWN_MAX seconds (default 900) — until the host
is back at healthy throughput (single-core calib ≤ 0.75 s, all-core
≤ 0.60 s, both ~1.3× the idle-host values). The gate's outcome
(waited seconds, attempts, pass/fail, final calib) is embedded in the
output, so a number taken on a still-degraded host is flagged
in-artifact instead of adjudicated from notes. SPARK_GRAFT_NO_COOLDOWN=1
skips the wait (the stamp still records the state it saw).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# healthy-host ceilings for the calibration workloads (idle host:
# single-core ~0.44-0.57 s, all-core ~0.28-0.45 s — DEVNOTES r8)
COOLDOWN_CALIB_MAX = 0.75
COOLDOWN_ALLCORE_MAX = 0.60


def _cooldown_gate() -> dict:
    """Block until the host's calibration spins are back under the
    healthy ceilings, or the max wait elapses. Returns the gate record
    to embed in the artifact."""
    from bench import _calibration_spin, _calibration_spin_allcore

    max_wait = float(os.environ.get("SPARK_GRAFT_COOLDOWN_MAX", "900"))
    skip = bool(os.environ.get("SPARK_GRAFT_NO_COOLDOWN"))
    t0 = time.perf_counter()
    attempts = 0
    while True:
        attempts += 1
        calib = _calibration_spin()
        allcore = _calibration_spin_allcore()
        ok = calib <= COOLDOWN_CALIB_MAX and (
            allcore < 0 or allcore <= COOLDOWN_ALLCORE_MAX
        )
        waited = time.perf_counter() - t0
        if ok or skip or waited >= max_wait:
            return {
                "passed": ok,
                "skipped": skip,
                "attempts": attempts,
                "waited_sec": round(waited, 1),
                "calib_sec": calib,
                "calib_allcore_sec": allcore,
            }
        time.sleep(30)


def main() -> None:
    op = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    dim = int(sys.argv[3]) if len(sys.argv) > 3 else 1536

    from svs_spark.session import driver_java_opts, get_session
    from tools.million_bench import make_query, synth_corpus

    from bench import _calibration_spin, _host_provenance

    cooldown = _cooldown_gate()
    host_start = _host_provenance(_calibration_spin())
    spark = get_session(
        "serving_probe",
        extra_conf={
            "spark.driver.extraJavaOptions": "-Xlog:disable "
            + driver_java_opts()
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    emb = synth_corpus(spark, n, dim)
    out: dict = {
        "metric": f"probe_{op}",
        "n_docs": n,
        "dim": dim,
        "cooldown": cooldown,
    }

    def median3(once, reps=3):
        vals = sorted(once() for _ in range(reps))
        return {
            "median": round(vals[len(vals) // 2], 3),
            "min": round(vals[0], 3),
            "max": round(vals[-1], 3),
        }

    if op == "bulk64":
        from svs_spark.operators.similarity import knn_join_batch

        qbatch = [(i, make_query(100 + i, dim)) for i in range(64)]
        knn_join_batch(emb, qbatch[:2], 100).count()  # warm
        assert knn_join_batch(emb, qbatch, 100).count() == 64 * 100

        def once():
            t0 = time.perf_counter()
            knn_join_batch(emb, qbatch, 100).count()
            return time.perf_counter() - t0

        out["bulk_64q_stats"] = median3(once)

    elif op == "hardneg64":
        # masked bulk retrieval (hard-negative mining shape): same
        # one-scan GEMM as bulk64 plus the per-batch label mask —
        # measures what the mask costs at 1M×1536. Labels derive
        # scan-stage from vec_id (the corpus generator's cluster id).
        from pyspark.sql import functions as F

        from svs_spark.operators.similarity import hard_negative_join
        from tools.million_bench import N_CENTERS

        labeled = emb.withColumn(
            "label", F.pmod(F.col("vec_id"), F.lit(N_CENTERS)).cast("int")
        )
        qbatch = [
            (i, i % N_CENTERS, make_query(100 + i, dim)) for i in range(64)
        ]
        hard_negative_join(labeled, qbatch[:2], 100).count()  # warm
        assert hard_negative_join(labeled, qbatch, 100).count() == 64 * 100

        def once():
            t0 = time.perf_counter()
            hard_negative_join(labeled, qbatch, 100).count()
            return time.perf_counter() - t0

        out["hardneg_64q_stats"] = median3(once)

    elif op in ("semdedup_reuse", "semdedup_standalone"):
        import tempfile

        from svs_spark.operators import index_build as IX
        from svs_spark.operators.clustering import within_cluster_pairs
        from svs_spark.operators.similarity import centroid_assign

        cent = IX.train_centroids_sample(
            emb, n_clusters=min(512, max(8, n // 1000)),
            sample_rows=min(10_000, n), iters=6,
        )
        if op == "semdedup_reuse":
            idx_path = os.path.join(
                tempfile.gettempdir(), f"probe_ivf_{n}_{dim}"
            )
            IX.build_ivf_index(emb, idx_path, cent)
            assigned = lambda: IX.ivf_assigned_frame(spark, idx_path)  # noqa: E731
        else:
            assigned = lambda: centroid_assign(  # noqa: E731
                emb, list(enumerate(cent.tolist())), keep_vec=True
            )
        t0 = time.perf_counter()
        pairs = within_cluster_pairs(
            assigned(), threshold=0.95, cluster_cap=20_000, auto_split=True
        ).count()
        out["pair_stage_sec_first_position"] = round(
            time.perf_counter() - t0, 3
        )
        out["pairs_found"] = pairs
    elif op == "kcenter":
        # greedy k-center diversity selection at 1M×1536 — the scale
        # shape of the registered kcenter_coreset query: every round is
        # ONE scan of the persisted corpus evaluating least() over the
        # chosen centers as array LITERALS (Catalyst collapses the
        # per-round projections to exactly this), plus one bounded
        # single-row collect.
        from pyspark.sql import functions as F

        from svs_spark.operators.similarity import centroid_assign

        # At dim 1536 the query-path array-literal form explodes janino
        # codegen (8 × 1536 float literals in a least() chain), so the
        # probe uses the repo's Arrow-GEMM kernel: per round, ONE
        # map-only centroid_assign pass gives each row its max-dot over
        # the chosen centers (mindist = 1 - score, same rounded-6
        # contract), then TakeOrdered(asc score, asc vec_id) picks the
        # farthest row — identical greedy sequence, GEMM-speed.
        def run_kcenter(k):
            seed = emb.orderBy("vec_id").limit(1).collect()[0]
            centers = [(0, list(seed.embedding))]
            radii = []
            for r in range(2, k + 1):
                top = (
                    centroid_assign(emb, centers)
                    .orderBy(F.asc("score"), F.asc("vec_id"))
                    .limit(1)
                    .collect()[0]
                )
                radii.append(round(1.0 - float(top.score), 6))
                cvec = (
                    emb.filter(F.col("vec_id") == int(top.vec_id))
                    .select("embedding")
                    .collect()[0][0]
                )
                centers.append((r - 1, list(cvec)))
            return radii

        run_kcenter(3)  # warm (JIT + broadcastless literal plan cache)

        def once():
            t0 = time.perf_counter()
            run_kcenter(8)
            return time.perf_counter() - t0

        out["kcenter_k8_stats"] = median3(once)
        out["coverage_radii_k8"] = [round(r, 4) for r in run_kcenter(8)]

        # batched candidate form (operators/clustering.kcenter_greedy):
        # top-m farthest rows collected per pass, centers selected
        # locally under the pigeonhole guard — same greedy sequence
        # (equality asserted below against the sequential radii),
        # ~2 corpus passes instead of k−1
        from svs_spark.operators.clustering import kcenter_greedy

        passes_seen = []

        def once_batched():
            t0 = time.perf_counter()
            _, radii_b, n_passes = kcenter_greedy(
                emb, 8, batch_candidates=4096
            )
            passes_seen.append(n_passes)
            out["kcenter_batched_radii_equal"] = [
                round(r, 4) for r in radii_b
            ] == out["coverage_radii_k8"]
            return time.perf_counter() - t0

        out["kcenter_k8_batched_stats"] = median3(once_batched)
        out["kcenter_k8_batched_passes"] = passes_seen[-1]
    elif op == "ndcg64":
        # retrieval-eval shape at scale (r7 verdict ask #7): a bounded
        # labeled eval set (64 queries) scored against the full corpus
        # with the one-scan GEMM, then nDCG@10 / RR arithmetic over the
        # 640 surviving rows — the registered retrieval_ndcg_eval's
        # 100 TB shape (eval sets are bounded; the corpus side is the
        # same one-pass scan the bulk path uses). Labels derive
        # scan-stage from vec_id (the corpus generator's cluster id),
        # relevance = candidate shares the query's label.
        import math

        from pyspark.sql import functions as F

        from svs_spark.operators.similarity import knn_join_batch
        from tools.million_bench import N_CENTERS

        labeled = emb.withColumn(
            "label", F.pmod(F.col("vec_id"), F.lit(N_CENTERS)).cast("int")
        )
        qbatch = [(i, make_query(100 + i, dim)) for i in range(64)]
        # make_query(seed) draws near centers[seed % N_CENTERS], and a
        # corpus row's label is vec_id % N_CENTERS — so the query's
        # true label is (100+i) % N_CENTERS (a well-ranked corpus
        # yields nDCG ~1, making the metric a sanity check, not noise)
        qlabel = {i: (100 + i) % N_CENTERS for i in range(64)}
        knn_join_batch(labeled, qbatch[:2], 10).count()  # warm

        ndcgs: list = []

        def once():
            t0 = time.perf_counter()
            rows = (
                knn_join_batch(labeled, qbatch, 10)
                .join(labeled.select("vec_id", "label"), "vec_id")
                .select("query_id", "rank", "label")
                .collect()
            )
            dt = time.perf_counter() - t0
            if not ndcgs:
                per_q: dict = {}
                for r in rows:
                    if r["label"] == qlabel[r["query_id"]]:
                        per_q.setdefault(r["query_id"], []).append(r["rank"])
                idcg = sum(1.0 / math.log2(i + 1) for i in range(1, 11))
                for i in range(64):
                    dcg = sum(
                        1.0 / math.log2(rk + 1) for rk in per_q.get(i, [])
                    )
                    ndcgs.append(dcg / idcg)
            return dt

        out["ndcg64_eval_stats"] = median3(once)
        out["ndcg64_mean_ndcg10"] = round(sum(ndcgs) / len(ndcgs), 4)
    elif op == "kcenter64":
        # the LARGE-k coreset regime, where batching is the difference
        # between feasible and not: sequential greedy = k−1 = 63 full
        # corpus passes; the batched form re-collects only when its
        # pigeonhole guard trips. Single rep per form (the gap is
        # x-fold, not noise-scale); batched runs FIRST so any residual
        # cache warmth favors the sequential baseline, not the claim.
        from pyspark.sql import functions as F  # noqa: F401

        from svs_spark.operators.clustering import kcenter_greedy

        kcenter_greedy(emb, 3, batch_candidates=4096)  # warm both paths
        t0 = time.perf_counter()
        ids_b, radii_b, passes_b = kcenter_greedy(
            emb, 64, batch_candidates=4096
        )
        out["kcenter_k64_batched_sec"] = round(time.perf_counter() - t0, 3)
        out["kcenter_k64_batched_passes"] = passes_b
        t0 = time.perf_counter()
        ids_s, radii_s, passes_s = kcenter_greedy(emb, 64)
        out["kcenter_k64_sequential_sec"] = round(
            time.perf_counter() - t0, 3
        )
        out["kcenter_k64_sequential_passes"] = passes_s
        out["kcenter_k64_equal"] = ids_b == ids_s and radii_b == radii_s
    elif op == "matryoshka":
        # the one-GEMM multiwidth fusion at scale (r8 verdict ask #3):
        # top-100 for 64 queries at prefix widths 96/384/1536 — fused
        # (ONE corpus scan, segment GEMMs with partial-sum snapshots)
        # vs the per-width composition (one scan per width). The win is
        # the scan count: at 100 TB the corpus read dominates, so the
        # composition pays ~len(widths)× the I/O and Arrow transfer.
        from pyspark.sql import functions as F

        from svs_spark.operators.similarity import (
            knn_join_batch,
            knn_join_multiwidth,
        )

        widths = [96, 384, dim] if dim >= 768 else [8, 16, dim]
        qbatch = [(i, make_query(100 + i, dim)) for i in range(64)]
        knn_join_multiwidth(emb, qbatch[:2], 100, widths).count()  # warm

        def once_fused():
            t0 = time.perf_counter()
            knn_join_multiwidth(emb, qbatch, 100, widths).count()
            return time.perf_counter() - t0

        out["fused_stats"] = median3(once_fused)

        def once_composed():
            t0 = time.perf_counter()
            for w in widths:
                dfw = emb.select(
                    "vec_id", F.slice("embedding", 1, w).alias("embedding")
                )
                qw = [(qid, v[:w]) for qid, v in qbatch]
                knn_join_batch(dfw, qw, 100).count()
            return time.perf_counter() - t0

        out["composed_stats"] = median3(once_composed)
        out["widths"] = widths
        out["speedup"] = round(
            out["composed_stats"]["median"] / out["fused_stats"]["median"], 2
        )
        # row-for-row equality on one pass (ids+scores+ranks per width)
        fused_rows = {
            (r["dims"], r["query_id"], r["vec_id"], r["score"], r["rank"])
            for r in knn_join_multiwidth(emb, qbatch, 100, widths).collect()
        }
        comp_rows = set()
        for w in widths:
            dfw = emb.select(
                "vec_id", F.slice("embedding", 1, w).alias("embedding")
            )
            qw = [(qid, v[:w]) for qid, v in qbatch]
            for r in knn_join_batch(dfw, qw, 100).collect():
                comp_rows.add(
                    (w, r["query_id"], r["vec_id"], r["score"], r["rank"])
                )
        out["fused_equals_composition"] = fused_rows == comp_rows
    elif op in ("ivf", "int8_rerank", "pq"):
        # the single-query serving paths, first-position (r8 verdict
        # ask #1: the pure-Spark IVF probe was the one headline metric
        # without a cooled datum). Each probe measures the per-query
        # warm latency of ONE path: 'ivf' = the plain Spark job over
        # the float32 index (MILLION's ivf_warm_query_sec), the path
        # the 2×-of-baseline gate rides on; 'int8_rerank' = int8
        # screen + float32 rerank; 'pq' = ADC screen + exact rerank.
        import tempfile

        import numpy as np
        from pyspark.sql import functions as F

        from svs_spark.operators import index_build as IX
        from svs_spark.operators.similarity import with_scores_batch
        from tools.million_bench import N_CENTERS

        # the corpus is deterministic (synth_corpus: identical bytes
        # across processes) and centroid training is seeded, so a
        # previously built index at this path is byte-equivalent —
        # reuse it unless SPARK_GRAFT_REBUILD_INDEX=1
        idx_path = os.path.join(tempfile.gettempdir(), f"probe_ivf_{n}_{dim}")
        reuse = not os.environ.get("SPARK_GRAFT_REBUILD_INDEX")
        cent = None
        try:
            if reuse:
                cent = np.asarray(
                    IX.read_index_meta(idx_path)["centroids"],
                    dtype=np.float32,
                )
                out["index_reused"] = True
        except (OSError, KeyError, ValueError):
            cent = None
        if cent is None:
            t0 = time.perf_counter()
            cent = IX.train_centroids_sample(
                emb, n_clusters=min(N_CENTERS, max(8, n // 1000)),
                sample_rows=min(10_000, n), iters=6,
            )
            out["ivf_train_sec"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            IX.build_ivf_index(emb, idx_path, cent)
            out["ivf_build_sec"] = round(time.perf_counter() - t0, 3)
            out["index_reused"] = False
        meta = IX.read_index_meta(idx_path)
        probes = 8
        qs = [make_query(i, dim) for i in range(5)]

        # recall's exact reference sets are computed AFTER the timed
        # section (r9): the 5 full-corpus exact scans are ~30 s of
        # all-core load, and running them right before the measurement
        # heats the host the cooldown gate just cooled. The timed reps
        # store their result sets; recall is scored post-hoc.
        def _exacts():
            return [
                {
                    r["vec_id"]
                    for r in with_scores_batch(emb, q)
                    .orderBy(F.desc("score"), F.desc("vec_id"))
                    .limit(100)
                    .collect()
                }
                for q in qs
            ]

        if op == "pq":
            pq_path = os.path.join(
                tempfile.gettempdir(), f"probe_pq_{n}_{dim}"
            )
            m_sub = 96 if dim >= 768 and dim % 96 == 0 else 8
            built = False
            if not reuse or not os.path.isdir(
                os.path.join(pq_path, "_index_meta")
            ):
                sample = (
                    emb.select("embedding")
                    .sample(min(1.0, 20_000 * 1.2 / max(n, 1)), seed=7)
                    .limit(20_000)
                    .collect()
                )
                t0 = time.perf_counter()
                books = IX.train_pq_codebooks_residual(
                    np.array([r[0] for r in sample], dtype=np.float32),
                    cent, m=m_sub, ksub=256, iters=6,
                )
                out["pq_train_sec"] = round(time.perf_counter() - t0, 3)
                t0 = time.perf_counter()
                IX.build_pq_index(emb, pq_path, cent, books)
                out["pq_build_sec"] = round(time.perf_counter() - t0, 3)
                built = True
            out["pq_index_reused"] = not built
            pq_meta = IX.read_index_meta(pq_path)
            pq_idx = spark.read.parquet(pq_path)
            IX.search_pq_index(pq_idx, pq_meta, qs[0], 100, probes).count()
            gots: list = []

            def once():
                tot = 0.0
                first = not gots
                for q in qs:
                    t0 = time.perf_counter()
                    got = {
                        r["vec_id"]
                        for r in IX.search_pq_index(
                            pq_idx, pq_meta, q, 100, probes, rerank_mult=32
                        ).collect()
                    }
                    tot += time.perf_counter() - t0
                    if first:
                        gots.append(got)
                return tot / len(qs)

            out["pq_warm_query_stats"] = median3(once)
            recalls = [
                len(g & e) / 100.0 for g, e in zip(gots, _exacts())
            ]
            out["pq_recall_at_100"] = round(sum(recalls) / len(recalls), 4)
        else:
            prec = "float32" if op == "ivf" else "int8_rerank"
            idx = spark.read.parquet(idx_path)
            IX.search_ivf_index(idx, meta, qs[0], 100, probes, prec).count()
            gots = []

            def once():
                tot = 0.0
                first = not gots
                for q in qs:
                    t0 = time.perf_counter()
                    got = {
                        r["vec_id"]
                        for r in IX.search_ivf_index(
                            idx, meta, q, 100, probes, prec
                        ).collect()
                    }
                    tot += time.perf_counter() - t0
                    if first:
                        gots.append(got)
                return tot / len(qs)

            key = "ivf_warm_query" if op == "ivf" else "ivf_int8_rerank_warm_query"
            out[f"{key}_stats"] = median3(once)
            recalls = [
                len(g & e) / 100.0 for g, e in zip(gots, _exacts())
            ]
            out[f"{key.replace('_warm_query', '')}_recall_at_100"] = round(
                sum(recalls) / len(recalls), 4
            )
    else:
        raise SystemExit(f"unknown op: {op}")

    out["host"] = {
        "start": host_start,
        "end": _host_provenance(_calibration_spin()),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
