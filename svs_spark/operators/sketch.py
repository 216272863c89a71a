"""KLL mergeable quantile sketch — the 100 TB path for percentiles.

Exact ``percentile()`` forces a total sort (or a full collect of the
group) and Spark's built-in ``approx_percentile`` (Greenwald-Khanna) is
accuracy-bounded but not *mergeable across arbitrary splits with a
uniform guarantee*; the KLL sketch (Karnin, Lang, Liberty, FOCS 2016)
gives an O(k·log(n/k)) -space summary with additive rank error
~1.65/k·sqrt(log n) that merges associatively — the property that makes
it THE quantile structure for map-side partial aggregation: each input
partition builds its own sketch over its local rows (one corpus scan,
zero shuffle), and only the tiny fixed-size sketches travel through the
exchange.

Execution shape on Spark:

  scan → mapInPandas (one sketch per key per partition, NumPy kernel)
       → groupBy(key) applyInPandas (merge ≤ n_partitions sketches/key)
       → quantile rows

The shuffle carries ``n_partitions × n_keys`` rows of ≈ 8·k·levels
bytes each — constant in the data size. Compare the exact twin
(``percentile``) whose shuffle carries every row.

Not expressible in ANSI SQL (randomized compaction state), so this is
pytest-gated (tests/test_approx.py) rather than driver-oracle-gated,
like the HLL / approx_percentile accuracy contracts.

Compaction randomness is derived deterministically from the sketch's
own state (splitmix64 of (level, compaction counter)) so the operator
is reproducible run-to-run for a fixed partitioning — same discipline
as the MinHash coefficient family (operators/dedup.py).
"""

from __future__ import annotations

from typing import Iterator, List, Sequence

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from svs_spark.functions.text import poly_hash_many

__all__ = [
    "KLL",
    "kll_quantiles",
    "kll_quantiles_by",
    "frequent_items",
    "CountMin",
    "count_min",
]

_MASK = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """splitmix64 finalizer (public-domain PRNG constants) — decorrelates
    consecutive seeds into independent-looking 64-bit values. Seeds the
    MinHash coefficients (dedup.minhash_coeffs) and the KLL coin flips."""
    x = (x + 0x9E3779B97F4A7C15) & _MASK
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK
    return x ^ (x >> 31)


class KLL:
    """A single-machine KLL sketch over doubles.

    ``levels[i]`` holds items of weight ``2**i``. Level capacities decay
    geometrically toward the top (c = 2/3): the highest level keeps
    ``k`` items, lower levels progressively fewer — the KLL trick that
    beats the classic MRL sketch's uniform buffers.
    """

    C = 2.0 / 3.0

    def __init__(self, k: int = 200) -> None:
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = k
        self.levels: List[List[float]] = [[]]
        self.n = 0
        self._compactions = 0

    # -- building -----------------------------------------------------

    def _capacity(self, level: int) -> int:
        height = len(self.levels) - 1
        return max(2, int(self.k * (self.C ** (height - level)) + 0.5))

    def update_many(self, values) -> None:
        import numpy as np

        vals = np.asarray(values, dtype=np.float64)
        vals = vals[~np.isnan(vals)]
        if len(vals) == 0:
            return
        self.n += int(len(vals))
        # feed level 0 in capacity-sized slabs; _compress() after each
        # slab keeps every buffer O(k) no matter how large the Arrow
        # batch is (the level-0 buffer may transiently hold up to
        # 2·cap − 1 items before the compress)
        cap = max(self._capacity(0), 2)
        i = 0
        while i < len(vals):
            self.levels[0].extend(vals[i : i + cap].tolist())
            i += cap
            self._compress()

    def _compress(self) -> None:
        lvl = 0
        while lvl < len(self.levels):
            if len(self.levels[lvl]) <= self._capacity(lvl):
                lvl += 1
                continue
            items = sorted(self.levels[lvl])
            # deterministic coin: keep odd or even ranks
            self._compactions += 1
            coin = _splitmix64((lvl << 32) ^ self._compactions) & 1
            promoted = items[coin::2]
            self.levels[lvl] = []
            if lvl + 1 == len(self.levels):
                self.levels.append([])
            self.levels[lvl + 1].extend(promoted)
            # growing the height changes capacities; recheck from here
        # trailing pass: growing height may have made a lower level
        # newly over-capacity relative to its shrunken budget
        for lvl in range(len(self.levels)):
            while len(self.levels[lvl]) > self._capacity(lvl):
                items = sorted(self.levels[lvl])
                self._compactions += 1
                coin = _splitmix64((lvl << 32) ^ self._compactions) & 1
                promoted = items[coin::2]
                self.levels[lvl] = []
                if lvl + 1 == len(self.levels):
                    self.levels.append([])
                self.levels[lvl + 1].extend(promoted)

    # -- merging ------------------------------------------------------

    def merge(self, other: "KLL") -> "KLL":
        if other.n == 0:
            return self
        self.n += other.n
        while len(self.levels) < len(other.levels):
            self.levels.append([])
        for lvl, items in enumerate(other.levels):
            self.levels[lvl].extend(items)
        self._compactions = max(self._compactions, other._compactions)
        self._compress()
        return self

    # -- querying -----------------------------------------------------

    def quantiles(self, probs: Sequence[float]) -> List[float]:
        import numpy as np

        if self.n == 0:
            return [float("nan")] * len(probs)
        vals: List[float] = []
        wts: List[float] = []
        for lvl, items in enumerate(self.levels):
            vals.extend(items)
            wts.extend([float(1 << lvl)] * len(items))
        order = np.argsort(np.asarray(vals), kind="mergesort")
        v = np.asarray(vals)[order]
        w = np.asarray(wts)[order]
        cum = np.cumsum(w) - 0.5 * w  # midpoint rank of each item
        total = w.sum()
        out = []
        for p in probs:
            target = p * total
            idx = int(np.searchsorted(cum, target, side="left"))
            idx = min(max(idx, 0), len(v) - 1)
            out.append(float(v[idx]))
        return out

    # -- serialization (rows through the exchange) --------------------

    def to_row(self) -> dict:
        return {"n": self.n, "levels": [list(l) for l in self.levels]}

    @classmethod
    def from_row(cls, k: int, n: int, levels: Sequence[Sequence[float]]) -> "KLL":
        sk = cls(k)
        sk.n = int(n)
        sk.levels = [list(l) for l in levels]
        while len(sk.levels) == 0:
            sk.levels = [[]]
        return sk


_SKETCH_SCHEMA = "key string, n long, levels array<array<double>>"


def _partial_sketches(
    value_col: str, key_col: str | None, k: int
):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketches: dict[str, KLL] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if key_col is None:
                sk = sketches.setdefault("", KLL(k))
                sk.update_many(pdf[value_col].to_numpy())
            else:
                for key, grp in pdf.groupby(key_col, sort=False):
                    sk = sketches.setdefault(str(key), KLL(k))
                    sk.update_many(grp[value_col].to_numpy())
        rows = [
            {"key": key, **sk.to_row()}
            for key, sk in sketches.items()
            if sk.n > 0
        ]
        yield pd.DataFrame(
            rows, columns=["key", "n", "levels"]
        ) if rows else pd.DataFrame(
            {"key": pd.Series(dtype="object"),
             "n": pd.Series(dtype="int64"),
             "levels": pd.Series(dtype="object")}
        )

    return kernel


def _merge_and_query(probs: Sequence[float], k: int):
    cols = ["key", "n"] + [f"q{i}" for i in range(len(probs))]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=cols)
        merged: KLL | None = None
        for _, row in pdf.iterrows():
            sk = KLL.from_row(k, row["n"], row["levels"])
            merged = sk if merged is None else merged.merge(sk)
        qs = merged.quantiles(probs)
        out = {"key": [pdf["key"].iloc[0]], "n": [merged.n]}
        for i, q in enumerate(qs):
            out[f"q{i}"] = [q]
        return pd.DataFrame(out, columns=cols)

    return kernel


def kll_quantiles(
    df: DataFrame,
    value_col: str,
    probs: Sequence[float],
    k: int = 200,
) -> DataFrame:
    """Global quantiles of ``value_col`` via one scan + constant-size
    shuffle. Returns one row: (n, q0..qm) with ``qi`` ≈ the
    ``probs[i]``-quantile (additive rank error O(1/k))."""
    probs = [float(p) for p in probs]
    partials = df.select(F.col(value_col).cast("double").alias(value_col)).mapInPandas(
        _partial_sketches(value_col, None, k), schema=_SKETCH_SCHEMA
    )
    out_schema = "key string, n long, " + ", ".join(
        f"q{i} double" for i in range(len(probs))
    )
    return (
        partials.groupBy("key")
        .applyInPandas(_merge_and_query(probs, k), schema=out_schema)
        .drop("key")
    )


def kll_quantiles_by(
    df: DataFrame,
    key_col: str,
    value_col: str,
    probs: Sequence[float],
    k: int = 200,
) -> DataFrame:
    """Per-key quantiles: map-side partial sketches per (partition, key),
    then a merge keyed on ``key`` — the exchange carries sketches, not
    rows. Returns (key, n, q0..qm)."""
    probs = [float(p) for p in probs]
    partials = df.select(
        F.col(key_col).cast("string").alias(key_col),
        F.col(value_col).cast("double").alias(value_col),
    ).mapInPandas(_partial_sketches(value_col, key_col, k), schema=_SKETCH_SCHEMA)
    out_schema = "key string, n long, " + ", ".join(
        f"q{i} double" for i in range(len(probs))
    )
    return (
        partials.groupBy("key")
        .applyInPandas(_merge_and_query(probs, k), schema=out_schema)
        .withColumnRenamed("key", key_col)
    )


# ---------------------------------------------------------------------------
# Misra-Gries frequent items ("heavy hitters") — bounded-memory top items.
# Exact groupBy-count of a 100 TB token stream shuffles every distinct
# item; the MG summary keeps <= capacity counters per partition and
# guarantees every item with true frequency > n/capacity survives, with
# estimates undercounting by at most n/capacity. Same execution shape
# as the KLL sketch above: map-side partial summaries, merge of
# n_partitions tiny summaries, constant shuffle.
# ---------------------------------------------------------------------------


def _mg_reduce(counts: dict, capacity: int) -> dict:
    """Misra-Gries reduction: if more than ``capacity`` counters, strip
    the (capacity+1)-th largest count from all and drop non-positive."""
    if len(counts) <= capacity:
        return counts
    dec = sorted(counts.values(), reverse=True)[capacity]
    return {k: v - dec for k, v in counts.items() if v > dec}


def frequent_items(
    df: DataFrame,
    item_col: str,
    capacity: int = 64,
) -> DataFrame:
    """Items with frequency > n/capacity, with lower-bound estimates.

    Returns (item, est_count, n_total): ``est_count`` undercounts the
    true frequency by at most ``n_total/capacity`` (classic MG bound;
    summing per-partition summaries preserves it — Agarwal et al.,
    "Mergeable Summaries", PODS 2012). The output keeps items with
    ``est_count > n_total/capacity``, so any item with true frequency
    above ``2·n_total/capacity`` is guaranteed present, and at most
    ``capacity`` items survive (their estimates sum to ≤ n_total).
    """

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vc = pdf[item_col].astype(str).value_counts()
            n += int(vc.sum())
            for item, c in vc.items():
                counts[item] = counts.get(item, 0) + int(c)
            counts = _mg_reduce(counts, capacity)
        if n == 0:
            yield pd.DataFrame(
                {
                    "item": pd.Series(dtype="object"),
                    "cnt": pd.Series(dtype="int64"),
                }
            )
            return
        # one NULL-item sentinel row per partition carries the
        # partition's TOTAL row count n. A partition whose MG summary
        # ends empty (every counter cancelled by the reduction — e.g.
        # near-uniform singletons) emits only the sentinel; piggybacking
        # n on the counter rows (the previous form) silently dropped
        # such partitions from n_total, loosening the survivor
        # threshold below the documented n_total/capacity bound.
        yield pd.DataFrame(
            {
                "item": pd.Series([None] + list(counts), dtype="object"),
                "cnt": pd.Series(
                    [n] + [int(v) for v in counts.values()], dtype="int64"
                ),
            }
        )

    partials = df.select(F.col(item_col).cast("string").alias(item_col)).mapInPandas(
        partial, schema="item string, cnt long"
    )

    # merge = sum the partial lower bounds per item (the partials table
    # is ≤ n_partitions × (capacity+1) rows — tiny); the NULL sentinel
    # group sums to exactly n_total. Both branches below share the same
    # aggregate subplan, so Spark reuses the exchange — one scan, no
    # persist to leak in long-lived sessions.
    merged = partials.groupBy("item").agg(F.sum("cnt").alias("est_count"))
    n_total = merged.filter(F.col("item").isNull()).select(
        F.col("est_count").alias("n_total")
    )
    return (
        merged.filter(F.col("item").isNotNull())
        .crossJoin(F.broadcast(n_total))
        .filter(F.col("est_count") > F.col("n_total") / capacity)
        .select("item", "est_count", "n_total")
    )


# ---------------------------------------------------------------------------
# Count-min sketch — point-frequency estimates for ANY item.
# The Misra-Gries summary above answers "which items are frequent"
# (undercounting, survivors only); count-min answers "how often did
# THIS item occur" for arbitrary queried items with a one-sided
# OVERcount bound: true <= est <= true + eps*n with probability
# 1 - delta at width w = e/eps, depth d = ln(1/delta). The sketch is
# LINEAR (a counter matrix), so partition partials merge by elementwise
# addition — the same map-side-partial shape as KLL/MG, with the merge
# expressible as a plain (row, col)-keyed sum aggregate.
#
# Hashing is splitmix64 over the same portable polynomial fingerprint
# the dedup family uses, evaluated in the NumPy kernel once per batch's
# distinct items — identical integers driver-side at query time, no JVM
# round trip per lookup.
# ---------------------------------------------------------------------------


def _cm_positions_many(items, width: int, depth: int):
    """(len(items), depth) int64 cell columns: splitmix64 over each
    item's fingerprint (``poly_hash_many``), one seed per sketch row.
    uint64 arithmetic wraps mod 2^64 exactly like the scalar mixer."""
    import numpy as np

    f = poly_hash_many(items).astype(np.uint64)[:, None]
    z = f ^ (np.arange(depth, dtype=np.uint64) + np.uint64(0xCB9))
    z += np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return (z % np.uint64(width)).astype(np.int64)


def _cm_positions(item: str, width: int, depth: int) -> "list[int]":
    return _cm_positions_many([item], width, depth)[0].tolist()


class CountMin:
    """Driver-side queryable count-min matrix (depth × width longs)."""

    def __init__(self, width: int, depth: int, table, n: int) -> None:
        self.width = width
        self.depth = depth
        self.table = table  # numpy (depth, width) int64
        self.n = n

    def estimate(self, item: str) -> int:
        return int(
            min(
                self.table[row, pos]
                for row, pos in enumerate(
                    _cm_positions(str(item), self.width, self.depth)
                )
            )
        )


def count_min(
    df: DataFrame,
    item_col: str,
    width: int = 2048,
    depth: int = 4,
) -> CountMin:
    """Build a count-min sketch over ``item_col`` in one scan.

    Each partition's kernel increments a LOCAL (depth × width) matrix
    (vectorized over the batch's value_counts, whose distinct items are
    hashed in one ``poly_hash_many`` call),
    then emits it as (row, col, cnt) triples for the non-zero cells;
    the merge is one (row, col)-keyed sum — the exchange carries at
    most n_partitions × depth × width rows of 24 bytes, constant in
    the data size. The collected matrix is depth × width longs (64 KiB
    at the defaults) — the broadcastable query structure.
    """

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        table = np.zeros((depth, width), dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vc = pdf[item_col].astype(str).value_counts()
            pos = _cm_positions_many(vc.index, width, depth)
            for row in range(depth):
                np.add.at(table[row], pos[:, row], vc.to_numpy())
        rows, cols = table.nonzero()
        yield pd.DataFrame(
            {
                "row": rows.astype("int64"),
                "col": cols.astype("int64"),
                "cnt": table[rows, cols],
            }
        )

    cells = (
        df.select(F.col(item_col).cast("string").alias(item_col))
        .mapInPandas(partial, schema="row long, col long, cnt long")
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    )
    import numpy as np

    table = np.zeros((depth, width), dtype=np.int64)
    for r in cells:
        table[r["row"], r["col"]] = r["cnt"]
    # every row of the matrix sums to n (each item increments each row
    # exactly once) — recover n without a second pass
    n = int(table[0].sum()) if depth else 0
    return CountMin(width, depth, table, n)


# ---------------------------------------------------------------------------
# Join-size estimation from count-min sketches (AGMS/CM inner product).
# For an equi-join A ⋈ B on one key, |result| = Σ_k fA(k)·fB(k); since
# each CM row holds per-bucket sums of frequencies, the row inner
# product Σ_j CMA[r,j]·CMB[r,j] OVERestimates that sum (colliding keys
# only add cross terms), and min over the d independent rows tightens
# it — the classic pre-flight for "will this self-join explode" that a
# 100 TB pipeline runs BEFORE a shingle/band/skewed-key join, at the
# cost of one scan per side instead of the join itself. The self-join
# case (B = A) estimates Σ_k f(k)² — exactly the candidate-pair volume
# of an LSH bucket join (up to the ×2 ordered/unordered convention).
# ---------------------------------------------------------------------------


def join_size_estimate(cm_a: CountMin, cm_b: CountMin) -> int:
    """Upper estimate of the equi-join cardinality between the two
    sketched key multisets: true <= est, est - true <= ||fA||·||fB||
    ·d'/width in expectation per row (collision mass)."""
    if cm_a.width != cm_b.width or cm_a.depth != cm_b.depth:
        raise ValueError("sketches must share (width, depth)")
    import numpy as np

    return int(
        min(
            int(np.dot(cm_a.table[r], cm_b.table[r]))
            for r in range(cm_a.depth)
        )
    )


def estimate_join_size(
    df_a: DataFrame,
    key_a: str,
    df_b: DataFrame,
    key_b: str,
    width: int = 8192,
    depth: int = 4,
) -> int:
    """One scan per side → the join-size estimate. Keys are sketched as
    strings (cast) with the same portable fingerprint family as
    count_min, so both sides bucket identically."""
    return join_size_estimate(
        count_min(df_a, key_a, width=width, depth=depth),
        count_min(df_b, key_b, width=width, depth=depth),
    )
