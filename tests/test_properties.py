"""Property-based tests (hypothesis) for the kernel algebra: top-k
against a Python reference implementation, MinHash as a Jaccard
estimator, SimHash locality, fingerprint portability, connected
components invariants. Pure-Python properties run hundreds of cases;
Spark-backed properties use a few drawn examples (JVM round-trips are
expensive)."""

from __future__ import annotations

import math
import random

from hypothesis import given, settings, strategies as st

from svs_spark.functions.text import (
    FINGERPRINT_BASE,
    FINGERPRINT_MOD,
    poly_hash_many,
)
from svs_spark.operators.dedup import MINHASH_PRIME, minhash_coeffs


def poly_hash(token: str) -> int:
    acc = 0
    for ch in token:
        acc = (acc * FINGERPRINT_BASE + ord(ch)) % FINGERPRINT_MOD
    return acc


def minhash_sig(tokens: set[str], n: int = 32) -> list[int]:
    hs = [poly_hash(t) for t in tokens]
    return [
        min((a * h + b) % MINHASH_PRIME for h in hs)
        for a, b in minhash_coeffs(n)
    ]


@given(
    st.sets(st.text(alphabet="abcdefgh ", min_size=1, max_size=8), min_size=1, max_size=40),
    st.sets(st.text(alphabet="abcdefgh ", min_size=1, max_size=8), min_size=1, max_size=40),
)
@settings(max_examples=60, deadline=None)
def test_minhash_estimates_jaccard(sa, sb):
    """Signature agreement rate approximates true Jaccard (within the
    binomial noise of 32 hashes) and is exact at the extremes."""
    true_j = len(sa & sb) / len(sa | sb)
    siga, sigb = minhash_sig(sa), minhash_sig(sb)
    est = sum(x == y for x, y in zip(siga, sigb)) / len(siga)
    if true_j == 1.0:
        assert est == 1.0
    else:
        # 32 Bernoulli trials: allow ~5.5 sigma (hypothesis adversarially
        # shrinks toward the tail, so the bound must hold for the worst
        # drawn example, not just typical ones)
        sigma = math.sqrt(true_j * (1 - true_j) / 32) if 0 < true_j < 1 else 0.1
        assert abs(est - true_j) <= max(5.5 * sigma, 0.45)


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_fingerprint_range_and_determinism(text):
    a, b = poly_hash(text), poly_hash(text)
    assert a == b
    assert 0 <= a < FINGERPRINT_MOD


# astral (emoji, musical symbol), combining marks, a ZWJ family
# sequence, CJK, and the surrogate-free top of the code space
_HASH_ALPHABET = st.sampled_from(
    list("ab z") + ["\u0301", "\u200d", "\U0001F389", "\U0001D11E",
                    "\U0001F469", "\u4e16", "\U0010FFFF", "\x00"]
) | st.characters(blacklist_categories=("Cs",))


@given(st.lists(st.text(alphabet=_HASH_ALPHABET, max_size=60), max_size=40))
@settings(max_examples=200, deadline=None)
def test_poly_hash_many_equals_horner_fold(xs):
    """The vectorized batch hash is the per-character Horner fold, bit
    for bit — empty strings (→ 0), astral, combining and ZWJ text
    included, in any mix of lengths within one batch."""
    assert poly_hash_many(xs).tolist() == [poly_hash(x) for x in xs]


def test_poly_hash_many_memory_grows_with_total_codepoints():
    """One 1 MB document in a 10k-doc batch: peak memory stays a small
    constant per codepoint of the batch (no rows × longest-doc matrix),
    and the long document still hashes exactly."""
    import tracemalloc

    rng = random.Random(7)
    docs = [
        "".join(rng.choice("abc é🎉") for _ in range(rng.randint(0, 20)))
        for _ in range(10_000)
    ]
    big = "".join(rng.choice("xyz 你好") for _ in range(1_000_000))
    docs.insert(5_000, big)
    total = sum(map(len, docs))
    tracemalloc.start()
    try:
        got = poly_hash_many(docs)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 64 * total, (peak, total)
    assert int(got[5_000]) == poly_hash(big)
    assert got[:50].tolist() == [poly_hash(d) for d in docs[:50]]


@given(st.sets(st.text(alphabet="abcdef", min_size=1, max_size=6), min_size=1, max_size=30))
@settings(max_examples=60, deadline=None)
def test_minhash_permutation_invariance(tokens):
    """Signature must not depend on token order (set semantics)."""
    toks = list(tokens)
    random.Random(0).shuffle(toks)
    assert minhash_sig(set(toks)) == minhash_sig(tokens)


def topk_reference(scores: list[tuple[int, float]], k: int) -> list[int]:
    """Python twin of the reference get_top_k (util.py:190-203):
    desc by (score, id) — ties broken by larger id first."""
    if k <= 0:
        return []
    return [
        i for i, _ in sorted(
            scores, key=lambda p: (p[1], p[0]), reverse=True
        )[:k]
    ]


@given(
    st.lists(
        st.floats(min_value=-1, max_value=1, allow_nan=False, width=32),
        min_size=0, max_size=30,
    ),
    st.integers(min_value=-2, max_value=35),
)
@settings(max_examples=30, deadline=None)
def test_spark_topk_matches_reference(spark, values, k):
    rows = [(i, [float(v), 0.0]) for i, v in enumerate(values)]
    expected = topk_reference([(i, float(v)) for i, v in enumerate(values)], k)
    if not rows:
        expected = []
    from svs_spark.operators.similarity import retrieve_topk

    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ) if rows else spark.createDataFrame([], "vec_id long, embedding array<double>")
    got = [r["vec_id"] for r in retrieve_topk(df, [1.0, 0.0], k).collect()]
    assert got == expected


def test_connected_components_invariants(spark):
    """CC over random pair graphs matches a Python union-find."""
    from svs_spark.operators.dedup import connected_components

    rng = random.Random(42)
    nodes = list(range(40))
    pairs = [
        (a, b)
        for a, b in (
            tuple(sorted(rng.sample(nodes, 2))) for _ in range(35)
        )
    ]
    # python union-find
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    in_graph = {n for p in pairs for n in p}
    expected = {
        n: min(m for m in in_graph if find(m) == find(n)) for n in in_graph
    }
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in connected_components(df).collect()
    }
    assert got == expected


def test_asof_join_matches_python_reference(spark):
    """asof_join_backward vs brute-force python on a random dataset."""
    from svs_spark.operators.temporal import asof_join_backward

    rng = random.Random(7)
    left = [(i, rng.randrange(5), rng.randrange(1000)) for i in range(200)]
    right = [(j, rng.randrange(5), rng.randrange(1000), float(j)) for j in range(60)]

    def brute(lid, key, ts):
        cands = [
            (rts, val) for (_, k, rts, val) in right if k == key and rts < ts
        ]
        return max(cands) if cands else None

    ldf = spark.createDataFrame(left, "lid long, k long, ts long")
    rdf = spark.createDataFrame(right, "rid long, k long, rts long, val double")
    got = {
        r["lid"]: (r["asof_ts"], r["asof_val"])
        for r in asof_join_backward(
            ldf, rdf, key="k", left_ts="ts", right_ts="rts",
            payload_cols=["val"],
        ).collect()
    }
    assert len(got) == len(left)
    for lid, key, ts in left:
        exp = brute(lid, key, ts)
        if exp is None:
            assert got[lid] == (None, None)
        else:
            assert got[lid] == exp


def test_asof_join_directions_match_python_reference(spark):
    """asof_join forward/nearest (+tolerance, +non-strict) vs
    brute-force python on a random dataset, including equal-timestamp
    collisions (ts ranges overlap densely)."""
    from svs_spark.operators.temporal import asof_join

    rng = random.Random(11)
    left = [(i, rng.randrange(4), rng.randrange(100)) for i in range(150)]
    # distinct rts per right row: equal-(key, rts) duplicates make the
    # winner tie-nondeterministic in ANY asof implementation
    rts_pool = rng.sample(range(100), 50)
    right = [(j, rng.randrange(4), rts_pool[j], float(j))
             for j in range(50)]
    ldf = spark.createDataFrame(left, "lid long, k long, ts long")
    rdf = spark.createDataFrame(right, "rid long, k long, rts long, val double")

    def brute(key, ts, direction, strict, tol):
        def ok_back(rts):
            return rts < ts if strict else rts <= ts

        def ok_fwd(rts):
            return rts > ts if strict else rts >= ts

        back = [(rts, val) for (_, k, rts, val) in right
                if k == key and ok_back(rts)]
        fwd = [(rts, val) for (_, k, rts, val) in right
               if k == key and ok_fwd(rts)]
        b = max(back) if back else None
        f = min(fwd) if fwd else None
        if tol is not None:
            b = b if b and abs(b[0] - ts) <= tol else None
            f = f if f and abs(f[0] - ts) <= tol else None
        if direction == "backward":
            return b
        if direction == "forward":
            return f
        if b and f:
            return b if abs(b[0] - ts) <= abs(f[0] - ts) else f
        return b or f

    for direction in ("backward", "forward", "nearest"):
        for strict in (True, False):
            for tol in (None, 10):
                got = {
                    r["lid"]: (r["asof_ts"], r["asof_val"])
                    for r in asof_join(
                        ldf, rdf, key="k", left_ts="ts", right_ts="rts",
                        payload_cols=["val"], direction=direction,
                        strict=strict, tolerance=tol,
                    ).collect()
                }
                assert len(got) == len(left)
                for lid, key, ts in left:
                    exp = brute(key, ts, direction, strict, tol)
                    want = exp if exp is not None else (None, None)
                    assert got[lid] == want, (
                        f"{direction} strict={strict} tol={tol} lid={lid}: "
                        f"{got[lid]} != {want}"
                    )


@given(
    st.lists(
        st.floats(min_value=-1.2, max_value=1.2, allow_nan=False),
        min_size=1,
        max_size=16,
    )
)
@settings(max_examples=200, deadline=None)
def test_int8_quantization_error_bound(vec):
    """Per-component quantization error ≤ 1/254 for in-range values;
    out-of-range clamps to ±127 (pure-Python twin of the SQL formula,
    svs_spark/query_defs.py::_quantize_py)."""
    from svs_spark.query_defs import _quantize_py

    q = _quantize_py(vec)
    for v, qi in zip(vec, q):
        assert -127 <= qi <= 127
        c = max(-1.0, min(1.0, v))
        assert abs(qi / 127.0 - c) <= 1 / 254 + 1e-12


@given(
    st.lists(st.integers(min_value=1, max_value=5000), min_size=1, max_size=60),
    st.integers(min_value=64, max_value=4096),
)
@settings(max_examples=50, deadline=None)
def test_doc_packing_invariants(sizes, window):
    """First-fit-by-cumsum packing: pack ids are contiguous from 0,
    token totals are conserved, and every pack except possibly the
    last stays under window + max_doc (overflow bounded by one doc)."""
    cum = 0
    packs: dict[int, int] = {}
    for s in sizes:
        cum += s
        pid = (cum - 1) // window
        packs[pid] = packs.get(pid, 0) + s
    assert sum(packs.values()) == sum(sizes)
    # pack ids start at (first_doc-1)//window (0 unless doc 1 overflows
    # the window on its own) and are non-negative throughout
    assert min(packs) == (sizes[0] - 1) // window
    assert all(pid >= 0 for pid in packs)
    for pid, tot in packs.items():
        assert tot <= window + max(sizes)


@given(st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=300, deadline=None)
def test_knuth_split_stable_and_bounded(doc_id):
    """The Knuth-hash split bucket is a pure function of doc_id with
    range [0, 1000) — the exact arithmetic both engines evaluate."""
    bucket = (doc_id * 2654435761) % 4294967296 % 1000
    assert 0 <= bucket < 1000
    assert bucket == (doc_id * 2654435761) % 4294967296 % 1000


def test_banded_range_join_equals_naive(spark):
    """banded_range_join must return exactly what the naive inequality
    join returns, for every band width (including widths smaller and
    larger than the intervals)."""
    from svs_spark.operators.temporal import banded_range_join

    left = spark.createDataFrame(
        [(i, i % 3, 10 * i) for i in range(40)], "id: long, k: long, t: long"
    )
    right = spark.createDataFrame(
        [(j, j % 3, 7 * j, 7 * j + 25) for j in range(25)],
        "rid: long, k: long, lo: long, hi: long",
    )
    naive = (
        left.join(
            right,
            (left["k"] == right["k"])
            & (right["lo"] <= left["t"])
            & (left["t"] < right["hi"]),
            "inner",
        )
        .select("id", "rid")
        .collect()
    )
    expected = sorted((r["id"], r["rid"]) for r in naive)
    for band in (5, 25, 100):
        got = (
            banded_range_join(
                left, right, key="k", left_point="t",
                right_lo="lo", right_hi="hi", band=band,
            )
            .select("id", "rid")
            .collect()
        )
        assert sorted((r["id"], r["rid"]) for r in got) == expected, band


def test_connected_components_long_chain(spark):
    """A 60-node path graph: pointer jumping must converge well inside
    max_iter (plain propagation needs 60 rounds; doubling needs ~6) and
    label every node with the chain minimum."""
    from svs_spark.operators.dedup import connected_components

    pairs = [(i, i + 1) for i in range(59)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in connected_components(df, max_iter=10).collect()
    }
    assert got == {i: 0 for i in range(60)}


@given(
    st.integers(min_value=0, max_value=2**48 - 1),
    st.sets(st.integers(min_value=0, max_value=47), max_size=4),
    st.integers(min_value=1, max_value=7),
)
@settings(max_examples=300, deadline=None)
def test_simhash_pigeonhole_lossless(sig, flip_bits, max_hamming):
    """For ANY pair within Hamming distance ≤ max_hamming, at least one
    of the max_hamming+1 contiguous segments must be bit-identical —
    the invariant that makes the banded candidate join lossless."""
    from svs_spark.operators.dedup import simhash_segments

    other = sig
    for b in list(flip_bits)[:max_hamming]:  # ≤ max_hamming flips
        other ^= 1 << b
    segs = simhash_segments(48, max_hamming + 1)
    assert any(
        (sig >> off) & ((1 << w) - 1) == (other >> off) & ((1 << w) - 1)
        for off, w in segs
    )
    # segments tile the signature exactly
    assert sum(w for _, w in segs) == 48
    assert segs[0][0] == 0


@given(
    st.lists(st.integers(min_value=1, max_value=10**9), min_size=1,
             max_size=30),
    st.integers(min_value=1, max_value=10**7),
)
@settings(max_examples=200, deadline=None)
def test_largest_remainder_allocation_invariants(weights, budget):
    """Largest-remainder rounding (the corpus_mix_allocation rule):
    integer allocations sum EXACTLY to the budget and each differs from
    the exact proportional share by < 1 token."""
    import math

    wsum = sum(weights)
    exact = [budget * w / wsum for w in weights]
    base = [math.floor(x) for x in exact]
    rem = [x - b for x, b in zip(exact, base)]
    leftover = budget - sum(base)
    order = sorted(range(len(weights)), key=lambda i: (-rem[i], i))
    alloc = list(base)
    for i in order[:leftover]:
        alloc[i] += 1
    assert sum(alloc) == budget
    for a, x in zip(alloc, exact):
        assert a - x < 1 + 1e-9 and x - a < 1 + 1e-9


def test_embedding_lsh_recall_vs_exact(spark):
    """Banded sign-projection LSH must recover a healthy fraction of the
    exact near-dup pairs, and ALL of the really-close ones (the oracle
    mirrors the banding, so only this test would catch a recall
    collapse — the failure mode the driver gate cannot see)."""
    from svs_spark.operators.dedup import (
        embedding_near_dup_lsh_pairs,
        embedding_near_dup_pairs,
    )
    from svs_spark.queries import load
    from tests.conftest import SF_DIR_ORACLE

    emb = load(spark, SF_DIR_ORACLE, "embeddings")
    exact = {
        (r.id_a, r.id_b): r.score
        for r in embedding_near_dup_pairs(emb, threshold=0.4).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_lsh_pairs(emb, threshold=0.4).collect()
    }
    assert got <= set(exact)  # LSH pairs are a verified subset
    recall = len(got) / max(len(exact), 1)
    assert recall >= 0.5, f"recall {recall:.2f} over {len(exact)} pairs"
    close = {p for p, s in exact.items() if s >= 0.7}
    if close:
        close_recall = len(got & close) / len(close)
        assert close_recall >= 0.9, f"close-pair recall {close_recall:.2f}"


class TestDriftAndPackingProperties:
    """Hypothesis contracts for the round-5 session-3 kernels."""

    def test_bucket_expr_clamps_all_reals(self, spark):
        from hypothesis import given, settings, strategies as st

        from svs_spark.streaming.drift import bucket_expr
        from pyspark.sql import functions as F

        @settings(max_examples=20, deadline=None)
        @given(
            st.lists(
                st.floats(
                    min_value=-1e6, max_value=1e6,
                    allow_nan=False, allow_infinity=False,
                ),
                min_size=1, max_size=30,
            )
        )
        def check(vals):
            df = spark.createDataFrame([(v,) for v in vals], "v double")
            rows = df.select(
                bucket_expr("v", 0.0, 100.0, 16).alias("b")
            ).collect()
            for r in rows:
                assert 0 <= r["b"] <= 15

        check()

    def test_ks_stat_bounded_and_zero_on_self(self, spark):
        from hypothesis import given, settings, strategies as st

        from svs_spark.streaming.drift import ks_vs_reference

        @settings(max_examples=10, deadline=None)
        @given(
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=7),
                    st.integers(min_value=1, max_value=50),
                ),
                min_size=1, max_size=16,
            )
        )
        def check(cells):
            agg = {}
            for b, n in cells:
                agg[b] = agg.get(b, 0) + n
            hist = spark.createDataFrame(
                [("g", b, n) for b, n in agg.items()],
                "grp string, bucket long, n long",
            )
            ref = hist.select("bucket", "n")
            out = ks_vs_reference(hist, ref, keys=["grp"]).collect()
            assert len(out) == 1
            # identical distribution => D = 0; always 0 <= D <= 1
            assert out[0]["ks_stat"] == 0.0
            assert out[0]["n_obs"] == sum(agg.values())

        check()

    def test_packing_window_arithmetic(self):
        from hypothesis import given, settings, strategies as st

        @settings(max_examples=200, deadline=None)
        @given(
            st.lists(
                st.integers(min_value=1, max_value=2000),
                min_size=1, max_size=60,
            ),
            st.sampled_from([64, 512, 1024]),
        )
        def check(toks, ctx):
            # the pure arithmetic the query and oracle both implement
            total = sum(toks)
            cum = 0
            n_split = 0
            touched = {}
            for t in toks:
                start, cum = cum, cum + t
                f, l = start // ctx, (cum - 1) // ctx
                if f != l:
                    n_split += 1
                for w in range(f, l + 1):
                    touched[w] = touched.get(w, 0) + 1
            n_windows = (total + ctx - 1) // ctx
            # every emitted window id is < n_windows and they tile
            assert max(touched) == n_windows - 1
            assert min(touched) == 0
            assert len(touched) == n_windows  # concat packing has no gaps
            # independent check: a doc splits iff a ctx boundary falls
            # strictly inside its byte span (count k with s < k*ctx < e)
            pos, expect_split = 0, 0
            for t in toks:
                s, e = pos, pos + t
                ks = range(s // ctx + 1, (e - 1) // ctx + 1)
                if len(ks) > 0:
                    expect_split += 1
                pos = e
            assert n_split == expect_split
            # window-coverage conservation: each doc touches exactly
            # crossings+1 windows
            assert sum(touched.values()) == len(toks) + expect_split + sum(
                max(0, len(range(s0 // ctx + 1, (s0 + t0 - 1) // ctx + 1)) - 1)
                for s0, t0 in zip(
                    [sum(toks[:i]) for i in range(len(toks))], toks
                )
            )

        check()


# --- containment prefix filter (round-7 decontamination screen) -----------

def _prefix_candidates_py(kept, eval_full_c, threshold):
    """Pure-Python twin of operators/dedup.containment_prefix_candidates:
    kept = {doc_id: set(g)} per split-tagged doc (eval docs are the
    keys of eval_full_c), eval_full_c = {doc_id: FULL shingle count}.
    Returns the candidate (train, eval) set via the same rarity-ordered
    pigeonhole prefix (df asc, g asc; m_min widened by 1e-6*c)."""
    import math

    df = {}
    for gs in kept.values():
        for g in gs:
            df[g] = df.get(g, 0) + 1
    out = set()
    train = {d: gs for d, gs in kept.items() if d not in eval_full_c}
    for ev, gs in kept.items():
        c = eval_full_c.get(ev)
        if c is None:
            continue
        n_kept = len(gs)
        m_min = math.ceil((threshold - 1e-6) * c)
        prefix_n = n_kept - m_min + 1
        if prefix_n < 1:
            continue
        prefix = sorted(gs, key=lambda g: (df[g], g))[:prefix_n]
        pset = set(prefix)
        for tr, tgs in train.items():
            if pset & tgs:
                out.add((tr, ev))
    return out


@given(
    st.lists(  # train docs: shingle sets over a small universe
        st.sets(st.integers(0, 25), min_size=1, max_size=12),
        min_size=1, max_size=8,
    ),
    st.lists(  # eval docs: (kept shingles, n dropped stop-shingles)
        st.tuples(
            st.sets(st.integers(0, 25), min_size=1, max_size=12),
            st.integers(0, 4),
        ),
        min_size=1, max_size=4,
    ),
    st.sampled_from([0.5, 0.8, 0.9, 1.0]),
)
@settings(max_examples=300, deadline=None)
def test_prefix_screen_pigeonhole_never_misses(train_sets, eval_specs, thr):
    """The pigeonhole guarantee, adversarially: EVERY (train, eval)
    pair whose kept-shingle containment passes the verify condition
    round(n_shared / c, 6) >= thr must appear in the prefix-screen
    candidate set — including when stop-shingle drops inflate the
    denominator (c > |kept|) and when rounding rescues a pair at the
    boundary (the 1e-6 widening's job)."""
    kept = {}
    eval_full_c = {}
    for i, gs in enumerate(train_sets):
        kept[i] = gs
    for j, (gs, dropped) in enumerate(eval_specs):
        ev = 1000 + j
        kept[ev] = gs
        eval_full_c[ev] = len(gs) + dropped
    cands = _prefix_candidates_py(kept, eval_full_c, thr)
    for tr in range(len(train_sets)):
        for ev, c in eval_full_c.items():
            n_shared = len(kept[tr] & kept[ev])
            if round(n_shared / c, 6) >= thr:
                assert (tr, ev) in cands, (
                    tr, ev, n_shared, c, thr, sorted(kept[tr]),
                    sorted(kept[ev]),
                )


def test_prefix_screen_spark_equals_python_twin(spark):
    """The Spark operator emits exactly the Python twin's candidate
    set on a seeded random universe (the rarity tie-order (df, g) is
    total, so the two implementations are deterministic twins)."""
    import random

    from pyspark.sql import functions as F

    from svs_spark.operators.dedup import containment_prefix_candidates

    rng = random.Random(42)
    kept = {}
    eval_full_c = {}
    for d in range(30):
        kept[d] = set(rng.sample(range(60), rng.randint(2, 15)))
    for e in range(5):
        ev = 1000 + e
        base = kept[rng.randint(0, 29)]
        # eval docs overlap a train doc to varying degrees
        gs = set(rng.sample(sorted(base), max(1, len(base) * (e + 1) // 6)))
        gs |= set(rng.sample(range(60, 80), rng.randint(0, 3)))
        kept[ev] = gs
        eval_full_c[ev] = len(gs) + rng.randint(0, 2)
    want = _prefix_candidates_py(kept, eval_full_c, 0.8)
    rows = [
        (d, g, d >= 1000) for d, gs in kept.items() for g in gs
    ]
    kdf = spark.createDataFrame(rows, "doc_id long, g long, is_test boolean")
    g_df = kdf.groupBy("g").agg(F.count("*").alias("_df"))
    ec = spark.createDataFrame(
        list(eval_full_c.items()), "id_eval long, c long"
    )
    got = {
        (r.id_train, r.id_eval)
        for r in containment_prefix_candidates(
            kdf, g_df, ec, threshold=0.8
        ).collect()
    }
    assert got == want


@given(
    st.lists(
        st.text(
            # force coverage of the tricky planes: astral, combining,
            # CJK, surrogates-adjacent, plus plain ascii
            alphabet=st.sampled_from(
                list("ab c𝄞🎉你好é́‍�\U0001F469")
            ),
            min_size=0, max_size=40,
        ),
        min_size=1, max_size=6,
    ),
    st.sampled_from([(5, 3), (10, 7), (10, 10), (8, 1)]),
)
@settings(max_examples=12, deadline=None)
def test_chunker_matches_python_slicing_property(spark, texts, sz):
    """chunk_text_df boundaries == Python code-point slicing for
    arbitrary unicode content (astral emoji, ZWJ, combining marks,
    replacement chars) across several (size, stride) shapes. Few
    drawn examples (Spark round-trips are expensive); the alphabet is
    adversarial rather than the sample count."""
    from pyspark.sql import functions as F  # noqa: F401

    from svs_spark.operators.chunking import chunk_text_df

    size, stride = sz
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.parent_id, r.chunk_idx): r.chunk_text
        for r in chunk_text_df(df, size=size, stride=stride).collect()
    }
    for i, t in enumerate(texts):
        if len(t) == 0:
            assert not any(k[0] == i for k in got)
            continue
        n = 1 if len(t) <= size else 1 + -(-(len(t) - size) // stride)
        for j in range(n):
            assert got[(i, j)] == t[j * stride : j * stride + size]
        assert (i, n) not in got
