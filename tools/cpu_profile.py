"""Throttle-invariant per-query cost: CPU-seconds consumed by the whole
container (cgroup v1 cpuacct, else cgroup v2 cpu.stat — driver + JVM +
python workers) around each query's bench-style collect, next to the
wall clock.

The sandbox host suffers hypervisor steal that inflates WALL times 3-30x
a few minutes into any sustained run (round-9/10 characterization), but
steal does not consume our utime: cpuacct deltas stay comparable across
throttle states (modulo frequency scaling), so A/B decisions about HOW
MUCH WORK a plan does can use cpu_sec even when the wall clock is
garbage. Wall-time confirmation still needs a clean window.

Usage: python tools/cpu_profile.py [query ...]   (default: bench HEADLINE)
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)

Prints one JSON line per query: {"q": name, "cpu_sec": s, "wall_sec": s}
(best of 2 runs after one warm-up, mirroring bench.py). ``cpu_sec`` is
null when neither cgroup file is readable.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_CPUACCT = "/sys/fs/cgroup/cpuacct/cpuacct.usage"  # cgroup v1, ns
_CPU_STAT = "/sys/fs/cgroup/cpu.stat"  # cgroup v2, usage_usec line


def cpu_ns() -> int | None:
    """Container CPU time in ns: cgroup v1, then v2, else None."""
    try:
        with open(_CPUACCT) as f:
            return int(f.read())
    except (OSError, ValueError):
        pass
    try:
        with open(_CPU_STAT) as f:
            for line in f:
                key, _, val = line.partition(" ")
                if key == "usage_usec":
                    return int(val) * 1000
    except (OSError, ValueError):
        pass
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from svs_spark.session import get_session

    total_bytes = sum(
        os.path.getsize(os.path.join(sf_dir, f))
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )
    shuffle_parts = max(8, min(1024, total_bytes // (64 * 1024 * 1024)))
    spark = get_session(
        "svs_cpu_profile",
        shuffle_partitions=int(shuffle_parts),
        extra_conf={
            "spark.driver.extraJavaOptions":
            "-Xlog:disable -XX:CICompilerCount=4"
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from svs_spark.queries import queries

    registry = queries()
    names = sys.argv[1:]
    if not names:
        import bench

        names = [n for n in bench.HEADLINE if n in registry]

    from pyspark import StorageLevel

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.persist(StorageLevel.MEMORY_AND_DISK).count()

    out = []
    for n in names:
        try:
            registry[n](spark, sf_dir).count()  # warm-up (plan + JIT)
        except Exception as e:  # noqa: BLE001
            print(json.dumps({"q": n, "err": str(e)[:200]}))
            continue
        cpus = []
        best_wall = 9e9
        for _ in range(2):
            spark.sparkContext.setJobDescription(f"cpu_profile:{n}")
            c0 = cpu_ns()
            t0 = time.perf_counter()
            df = registry[n](spark, sf_dir)
            rows = df.collect()
            assert rows is not None
            best_wall = min(best_wall, time.perf_counter() - t0)
            c1 = cpu_ns()
            if c0 is not None and c1 is not None:
                cpus.append((c1 - c0) / 1e9)
        best_cpu = round(min(cpus), 3) if cpus else None
        rec = {"q": n, "cpu_sec": best_cpu, "wall_sec": round(best_wall, 4)}
        out.append(rec)
        print(json.dumps(rec), flush=True)

    from svs_spark.queries import release_caches

    release_caches()
    print(
        json.dumps(
            {
                "q": "_TOTAL",
                "cpu_sec": (
                    round(sum(r["cpu_sec"] for r in out), 2)
                    if all(r["cpu_sec"] is not None for r in out) else None
                ),
                "wall_sec": round(sum(r["wall_sec"] for r in out), 3),
                "n": len(out),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
