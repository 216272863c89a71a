"""Python workers keep no zip importer between tasks.

Before every task PySpark's worker calls ``importlib.invalidate_caches()``,
which makes each ``zipimporter`` in ``sys.path_importer_cache`` re-read
its archive directory (``pyspark.zip``, the Spark core jar). Every
svs_spark kernel first calls ``session.drop_zip_importers()``, so a
reused worker has nothing left to re-read. These tests check that
mechanism inside real workers (no timing assertion), that the grouped
kernels still run with their arity intact, and that no kernel in the
package starts without the call.
"""

from __future__ import annotations

import ast
import math
import pathlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from conftest import SF_DIR

PKG = pathlib.Path(__file__).resolve().parent.parent / "svs_spark"
KERNEL_CALLS = {"mapInPandas", "applyInPandas", "applyInPandasWithState", "pandas_udf"}


def test_reused_worker_rereads_no_archive(spark):
    from svs_spark.operators.dedup import simhash_pairs

    text = "python workers read their archives once per process lifetime"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "an unrelated line about warehouse swaps and locks")],
        "doc_id long, text string",
    ).coalesce(1)
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_pairs(docs).collect()}
    assert pairs == {(1, 2)}

    def probe(batches):
        """Count the archive reads one ``invalidate_caches()`` makes at
        kernel entry (what this task's set-up paid), then behave like an
        svs_spark kernel."""
        import importlib
        import os
        import time
        import zipimport

        from svs_spark.session import drop_zip_importers

        reads = 0
        read_directory = zipimport._read_directory

        def counting(archive):
            nonlocal reads
            reads += 1
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        t_ns = time.monotonic_ns()
        drop_zip_importers()
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "t_ns": [t_ns], "reads": [reads]})

    frame = spark.range(0, 8, 1, 8)
    seen = []
    for _ in range(4):
        seen += frame.mapInPandas(probe, "pid long, t_ns long, reads long").collect()
    by_pid: dict[int, list] = {}
    for r in sorted(seen, key=lambda r: (r["pid"], r["t_ns"])):
        by_pid.setdefault(r["pid"], []).append(r["reads"])
    assert max(len(v) for v in by_pid.values()) >= 3, by_pid
    # a worker's first task may still find importers made before it ran
    # any kernel, or made by imports after the drop; from its third task
    # on nothing is left for invalidate_caches() to re-read
    assert all(v[2:] == [0] * (len(v) - 2) for v in by_pid.values()), by_pid


def test_grouped_kernel_results_unchanged(spark):
    from svs_spark.operators.clustering import within_cluster_pairs

    rows = []
    for cid in range(3):
        for j in range(6):
            v = [1.0 if d == cid else 0.05 * ((j * 7 + d) % 5) for d in range(4)]
            n = math.sqrt(sum(x * x for x in v))
            rows.append((cid, cid * 10 + j, [x / n for x in v]))
    asg = spark.createDataFrame(rows, "cluster_id long, vec_id long, embedding array<float>")
    got = {
        (r["cluster_id"], r["id_a"], r["id_b"]): r["score"]
        for r in within_cluster_pairs(asg, threshold=0.98).collect()
    }
    want = {}
    for ca, ia, ea in rows:
        for cb, ib, eb in rows:
            s = round(float(np.float32(ea).astype(float) @ np.float32(eb).astype(float)), 6)
            if ca == cb and ia < ib and s >= 0.98:
                want[(ca, ia, ib)] = s
    assert want and got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) <= 1e-6 for k in want)


def test_stateful_kernel_results_unchanged(spark):
    from svs_spark.queries import load
    from svs_spark.streaming.sessions import (
        run_to_memory,
        running_user_totals,
        stream_events,
    )

    run_to_memory(
        running_user_totals(stream_events(spark, SF_DIR)),
        "pyworker_user_totals",
        output_mode="update",
    )
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.table("pyworker_user_totals").collect()
    }
    want = {
        r["user_id"]: (r["n"], r["t"])
        for r in load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("t"))
        .collect()
    }
    assert got.keys() == want.keys()
    for uid, (n, t) in want.items():
        assert got[uid][0] == n and abs(got[uid][1] - t) < 1e-6


def _kernels():
    """Yield (site, kernel FunctionDef) for every function the package
    hands to mapInPandas, applyInPandas, applyInPandasWithState or
    pandas_udf; a factory call's kernel is the inner def it returns."""
    trees = {p: ast.parse(p.read_text()) for p in sorted(PKG.rglob("*.py"))}
    top = {n.name: n for t in trees.values() for n in t.body if isinstance(n, ast.FunctionDef)}

    def local(scope, name, line):
        defs = [
            n for n in ast.walk(scope)
            if isinstance(n, ast.FunctionDef) and n.name == name and n is not scope and n.lineno < line
        ]
        return max(defs, key=lambda n: n.lineno) if defs else top.get(name)

    for path, tree in trees.items():
        scopes = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        for call in ast.walk(tree):
            fn = getattr(call, "func", None)
            name = getattr(fn, "attr", getattr(fn, "id", None))
            if not isinstance(call, ast.Call) or name not in KERNEL_CALLS or not call.args:
                continue
            enclosing = [s for s in scopes if s.lineno <= call.lineno <= s.end_lineno]
            scope = max(enclosing, key=lambda s: s.lineno) if enclosing else tree
            arg = call.args[0]
            if isinstance(arg, ast.Call):
                factory_name = getattr(arg.func, "attr", getattr(arg.func, "id", None))
                factory = local(scope, factory_name, call.lineno)
                ret = next(n for n in ast.walk(factory) if isinstance(n, ast.Return))
                kernel = local(factory, ret.value.id, ret.lineno)
            else:
                kernel = local(scope, arg.id, call.lineno)
            yield f"{path.relative_to(PKG)}:{call.lineno}", kernel


def test_every_kernel_first_drops_zip_importers():
    sites = list(_kernels())
    assert len(sites) >= 50
    missing = []
    for site, kernel in sites:
        body = kernel.body
        if isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
            body = body[1:]
        if ast.unparse(body[0]) != "drop_zip_importers()":
            missing.append(f"{site} -> {kernel.name}")
    assert not missing, missing
