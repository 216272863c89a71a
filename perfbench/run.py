"""svs_spark benchmark: one closed-loop client per run, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads:

- ``kb_mixed``: a fresh KnowledgeBase, bulk ingest of seeded docs, then
  passes of point reads, a top-10 retrieve, writes (add_doc,
  update_doc_meta, an edge add, a keyval set) and frozen registry
  queries over seeded sf0.1-sized tables, in a fixed order. Checked against
  a model of acknowledged writes, NumPy top-k and DuckDB oracles.
- ``curation_corpus``: a seeded near-duplicate corpus and clustered
  vectors through exact dedup, MinHash, SimHash, PII scrub, IVF
  train/build/probe, batch kNN and SemDeDup; checked against the
  generator's ground truth and NumPy.

Every run starts Spark on the library's defaults (``SPARK_GRAFT_CPUS``
= nproc), generates its inputs from ``--seed`` into a scratch directory
inside the checkout, warms up with one untimed pass, then runs whole
passes over the workload's op list (at least two) until ``--seconds``
have elapsed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` alternates untraced and traced passes and
reports the per-layer metrics, including the tracing overhead. Each
run also leaves a full record (provenance, per-op timings, engine
counters) and, when traced, its spans under ``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kb_mixed", "curation_corpus")

END_TO_END = {
    "setup_s": "s",
    "op_gmean_s": "s",
    "pass_s": "s",
}

# per-layer metric -> unit. ``*_s`` op timers are the median seconds per
# call in traced passes; ``engine.*`` counters are per traced pass.
KB_METHODS = (
    "bulk_add_docs", "query_doc", "query_children", "retrieve", "add_doc",
    "update_doc_meta", "bulk_graph_update", "bulk_keyval_update",
)
SPAN_TIMERS = {
    "queries.build_s": "queries.build",
    "engine.plan_s": "engine.plan",
    "operators.dedup.minhash_lsh_pairs_s": "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.simhash_pairs_s": "operators.dedup.simhash_pairs",
    "functions.text.scrub_pii_s": "functions.text.scrub_pii",
    "operators.index_build.train_s": "operators.index_build.train_centroids_sample",
    "operators.index_build.build_ivf_index_s": "operators.index_build.build_ivf_index",
    "operators.index_build.search_ivf_index_s": "operators.index_build.search_ivf_index",
    "operators.similarity.knn_join_batch_s": "operators.similarity.knn_join_batch",
    "operators.clustering.within_cluster_pairs_s": "operators.clustering.within_cluster_pairs",
    "operators.similarity.retrieve_topk_s": "operators.similarity.retrieve_topk",
    "warehouse.write_bucketed_s": "warehouse.write_bucketed",
    "warehouse.overwrite_buckets_s": "warehouse.overwrite_buckets",
    "warehouse.read_buckets_s": "warehouse.read_buckets",
    **{f"kb.{m}_s": f"kb.{m}" for m in KB_METHODS},
}
SPAN_JOBS = {
    "queries.build_jobs": "queries.build",
    **{f"kb.{m}_jobs": f"kb.{m}" for m in KB_METHODS},
}
ENGINE = {
    "engine.jobs": ("jobs", "count"),
    "engine.stages": ("stages", "count"),
    "engine.tasks": ("tasks", "count"),
    "engine.failed_tasks": ("failed_tasks", "count"),
    "engine.executor_cpu_s": ("executor_cpu_s", "s"),
    "engine.gc_s": ("gc_s", "s"),
    "engine.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "engine.spill_bytes": ("spill_bytes", "bytes"),
    "engine.scheduler_delay_s": ("scheduler_delay_s", "s"),
}
WORKLOAD_LAYER = {  # reported by the workload itself; 0 where not exercised
    "operators.dedup.pairs_out": "count",
    "engine.shuffle_bytes_per_pair": "bytes",
    "ivf.recall_at_100": "ratio",
    "warehouse.files": "count",
    "warehouse.bytes_per_user_byte": "ratio",
    "embeddings.calls": "count",
    "embeddings.texts_per_doc_added": "ratio",
    "embeddings.func_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    **{k: "s" for k in SPAN_TIMERS},
    **{k: "count" for k in SPAN_JOBS},
    **{k: u for k, (_, u) in ENGINE.items()},
    **WORKLOAD_LAYER,
    "host.calib_s": "s",
    "host.cpu_s": "s",
    "host.steal_s": "s",
    "host.peak_rss_mb": "MB",
    "host.loadavg": "load",
    "trace.overhead_op_s": "s",
    "trace.overhead_pass_s": "s",
    "trace.self_s": "s",
}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(env, res) -> dict:
    """Built from each op kind's median latency over the timed passes,
    so every run weighs the mix alike, whatever its pass count.

    ``op_gmean_s`` is the geometric mean over op kinds of each kind's
    median latency: the typical op of the mix, every kind weighted
    alike. ``pass_s`` is one pass over the fixed op list with every op
    at its kind's median. A run holds too few ops (about twenty) for a
    tail percentile to rest on ten samples, so none is reported. A
    metric whose kinds lack a successful call is left out, and the run
    is then marked incorrect."""
    loop = res["loop"]
    by_kind: dict[str, list[float]] = {}
    for kind, dt, _traced in loop.log:
        by_kind.setdefault(kind, []).append(dt)
    m = {"setup_s": env.setup_s}
    if by_kind:
        med = {k: statistics.median(v) for k, v in by_kind.items()}
        m["op_gmean_s"] = statistics.geometric_mean(med.values())
        if all(k in med for k in loop.mix):
            m["pass_s"] = sum(med[k] for k in loop.mix)
    return m


def per_layer(env, res, prov) -> dict:
    from harness import engine_metrics

    tracer, loop = env.tracer, res["loop"]
    totals = engine_metrics(env.spark, tracer)
    passes = max(loop.traced_passes, 1)
    kids = tracer.children()
    m = {"session.start_s": env.setup_parts["session_start_s"]}
    for metric, span in SPAN_TIMERS.items():
        m[metric] = _median([s["end"] - s["start"] for s in tracer.by_name(span)])
    for metric, span in SPAN_JOBS.items():
        m[metric] = _median(
            [tracer.inclusive(s, "jobs", kids) for s in tracer.by_name(span)]
        )
    for metric, (key, _unit) in ENGINE.items():
        m[metric] = totals[key] / passes
    layer = dict(res.get("layer", {}))
    if "layer_after_engine" in res:
        layer.update(res["layer_after_engine"]())
    for metric in WORKLOAD_LAYER:
        m[metric] = float(layer.get(metric, 0.0))
    m["host.calib_s"] = prov["calib_s"][0]
    m["host.cpu_s"] = prov["container_cpu_s"] or 0.0
    m["host.loadavg"] = prov["loadavg"][0]
    m["host.steal_s"] = prov["steal_s"]
    # traced minus untraced, paired by op kind
    by_kind: dict[str, tuple[list, list]] = {}
    for kind, dt, traced in loop.log:
        by_kind.setdefault(kind, ([], []))[traced].append(dt)
    m["trace.overhead_op_s"] = _median(
        [statistics.median(t) - statistics.median(u)
         for u, t in by_kind.values() if u and t]
    )
    if loop.pass_s and loop.untraced_pass_s:
        m["trace.overhead_pass_s"] = statistics.median(
            loop.pass_s
        ) - statistics.mean(loop.untraced_pass_s)
    m["trace.self_s"] = tracer.self_s / passes
    res.setdefault("record", {})["engine_totals"] = totals
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "svs_spark")):
        print(
            f"perfbench: no svs_spark package next to {HERE}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [HERE, ROOT]

    # Spark, the JVM and Python workers inherit fd 1; send everything
    # they print to stderr and keep the real stdout for the result line
    result_fd = os.dup(1)
    os.dup2(2, 1)

    from harness import OUT_DIR, Env, log

    # NumPy seeds must be non-negative; any int maps to one input set
    env = Env(args.workload, args.seed % 2**63, bool(args.trace))
    record: dict = {"args": vars(args)}
    try:
        env.start_session()
        if args.workload == "kb_mixed":
            import kb_wl as wl
        else:
            import curation_wl as wl
        res = wl.run(env, args.seconds)
        loop, warm = res["loop"], res["warm"]
        prov = env.provenance()
        if args.trace:
            metrics = per_layer(env, res, prov)
            units = PER_LAYER
        else:
            metrics = end_to_end(env, res)
            units = END_TO_END
        log("provenance:", json.dumps(prov))
        record.update(res.get("record", {}))
        record["provenance"] = prov
        record["warm_ops"] = warm.log
        record["ops"] = loop.log  # (kind, seconds, traced)
        record["pass_s"] = loop.pass_s
        record["op_steal_s"] = loop.op_steal_s
        record["problems"] = res["problems"]
        record["errors"] = warm.errors + loop.errors
        if args.trace:
            spans = os.path.join(
                OUT_DIR, "runs", f"{args.workload}-{args.seed}-spans.jsonl"
            )
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            env.tracer.write(spans)
            record["spans"] = spans
    finally:
        env.close()
    # peak RSS is final only once the sampler has stopped
    record["peak_rss_mb"] = env.rss.peak_mb
    if args.trace:
        metrics["host.peak_rss_mb"] = env.rss.peak_mb
    record["metrics"] = metrics
    os.makedirs(os.path.join(OUT_DIR, "runs"), exist_ok=True)
    with open(
        os.path.join(
            OUT_DIR, "runs", f"{args.workload}-{args.seed}-t{args.trace}.json"
        ),
        "w",
    ) as f:
        json.dump(record, f, indent=1, default=str)
    for p in res["problems"]:
        log("check failed:", p)
    # a metric without samples (every op of a kind failed) is left out
    # and the run is not correct; its counts are still reported
    out = {
        "correct": not res["problems"] and set(metrics) == set(units),
        "attempted": warm.attempted + loop.attempted,
        "failed": warm.failed + loop.failed,
        "metrics": {
            k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
        },
    }
    os.write(result_fd, (json.dumps(out) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
