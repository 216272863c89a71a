"""Dense-vector column expressions (JVM-side, codegen-friendly).

The reference computes cosine similarity as a plain dot product because it
enforces unit-norm embeddings (reference ``src/svs/kb.py:55-58``, guard at
``src/svs/embeddings/util.py:26-41``). We keep the same invariant: `dot`
IS cosine for unit vectors, and `check_unit_norm` reproduces the ±0.001
magnitude guard.

All expressions accumulate in DOUBLE, summing array elements
left-to-right (``F.aggregate`` semantics). This is deliberate: a
sequential double-precision sum is bit-reproducible across engines, so the
DuckDB oracle (``list_dot_product`` over ``DOUBLE[]``) hash-matches our
results exactly. The pandas-UDF matmul path (``svs_spark.operators.
similarity.score_batch``) is faster but SIMD reassociation makes it only
approximately equal — it is used for benchmarks, not the correctness gate.

The NumPy helpers (``stack_rows``, ``unpack_rows``, ``topk_ties``,
``quantize_int8_many``) are the per-batch steps every Arrow GEMM operator
shares: one decode, one local top-k selection, one int8 quantization.
``dot_many`` is the NumPy twin of ``dot`` for driver-side scoring that
must equal the Column form bit for bit.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two ARRAY<numeric> columns, DOUBLE result.

    Stays inside whole-stage codegen — no Python round trip.
    """
    a, b = _col(a), _col(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sql_number(v: float | int) -> str:
    if isinstance(v, int):
        return str(v)  # INT when it fits, else BIGINT: F.lit's typing
    v = float(v)
    if math.isfinite(v):
        return repr(v) + "D"  # shortest round-trip form: the same DOUBLE
    return f"CAST('{v}' AS DOUBLE)"  # 'nan', 'inf', '-inf'


def array_lit(values: Sequence[float | int]) -> Column:
    """``F.array(*[F.lit(v) for v in values])`` in one JVM call: the
    array is parsed from SQL text instead of built by one py4j round
    trip per element (384 dims: 0.16 s -> 0.003 s). Python ints and
    floats give the same literal types and values as ``F.lit``, so the
    optimized plan is the same."""
    return F.expr("array(" + ", ".join(map(_sql_number, values)) + ")")


def dot_literal(a: Column | str, vec: Sequence[float]) -> Column:
    """Dot product against a fixed Python-side query vector.

    The vector is folded into the plan as an array literal (broadcast to
    every task with the serialized plan — no shuffle, no join).
    """
    return dot(_col(a), array_lit([float(v) for v in vec]))


def l2_norm(a: Column | str) -> Column:
    """Euclidean magnitude of an ARRAY<numeric> column."""
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Full cosine similarity (no unit-norm assumption)."""
    a, b = _col(a), _col(b)
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def normalize(a: Column | str) -> Column:
    """Scale an array column to unit L2 norm (NULL-safe; zero vector → NULL)."""
    a = _col(a)
    n = l2_norm(a)
    return F.when(n > 0, F.transform(a, lambda x: x.cast("double") / n))


def check_unit_norm(a: Column | str, tolerance: float = 0.001) -> Column:
    """Boolean column: magnitude within 1 ± tolerance.

    Parity with the reference magnitude guard
    (``src/svs/embeddings/util.py:26-41``).
    """
    n = l2_norm(a)
    return (n >= 1.0 - tolerance) & (n <= 1.0 + tolerance)


def quantize_int8(a: Column | str) -> Column:
    """Symmetric int8 quantization of a unit-norm vector: component →
    round(clamp(x, -1, 1) * 127) ∈ [-127, 127], as ARRAY<INT>.

    4× smaller than float32 — at 100 TB of embeddings that is the
    difference between the vector cache fitting executor memory or
    spilling — and the quantized dot product is exact integer
    arithmetic: no float summation-order drift across engines or
    partition layouts."""
    return F.transform(
        _col(a),
        lambda x: F.round(
            F.greatest(F.lit(-1.0), F.least(F.lit(1.0), x.cast("double")))
            * 127
        ).cast("int"),
    )


def quantize_int8_many(mat):
    """``quantize_int8`` of a NumPy array (any shape), as int8: the
    Arrow-kernel form every IVF int8 path uses. The clamp, scale and
    round run in the input's dtype. ``np.rint`` rounds halves to even
    where the Column form's ``F.round`` rounds them away from zero, so
    the two agree everywhere except exact ``.5`` products."""
    import numpy as np

    q = np.clip(np.rint(np.clip(mat, -1.0, 1.0) * 127), -127, 127)
    return q.astype(np.int8)


def stack_rows(values, dtype):
    """(n × d) matrix of ``dtype`` from n array cells — an Arrow batch's
    ``pdf[col].to_numpy()`` or a list of collected vectors. The one
    decode of ARRAY<numeric> columns in the GEMM kernels."""
    import numpy as np

    return np.vstack(values).astype(dtype)


def unpack_rows(values, dtype):
    """(n × d) matrix of ``dtype`` from n packed BINARY cells (the IVF /
    PQ layouts' ``femb``, ``qemb`` and ``code`` columns): one buffer
    join, then a read-only view of it."""
    import numpy as np

    return np.frombuffer(b"".join(values), dtype=dtype).reshape(
        len(values), -1
    )


def dot_many(mat, q):
    """``dot`` of each row of the (n × d) matrix ``mat`` with the vector
    ``q``, as the Column form computes it: float64 products summed left
    to right from 0.0. ``np.cumsum`` is sequential (``np.sum`` is
    pairwise), and adding 0.0 at the end turns a ``-0.0`` sum into
    the fold's ``+0.0``, so every score is bit-equal to ``dot``'s."""
    import numpy as np

    prod = np.multiply(mat, q, dtype=np.float64)
    if prod.shape[1] == 0:
        return np.zeros(len(prod))
    return np.cumsum(prod, axis=1)[:, -1] + 0.0


def topk_ties(scores, k: int, axis: int = 0):
    """``np.nonzero``-style indices of every entry of ``scores`` at or
    above the k-th largest along ``axis``, excluding the ``-inf`` mask
    value: boundary ties with the k-th entry are ALL kept.

    This is the only local top-k selection of the GEMM operators. A
    batch, block or partition prunes to these entries; the global
    (score desc, id desc) order — a ranked window or
    TakeOrderedAndProject — then picks the final k. ``argpartition``
    alone keeps an arbitrary subset of tied entries, which can drop the
    id-desc winner before the global order sees it (DEVNOTES
    invariant 16)."""
    import numpy as np

    take = min(k, scores.shape[axis])
    if take <= 0:
        return tuple(np.empty(0, dtype=np.intp) for _ in scores.shape)
    part = np.take(
        np.argpartition(-scores, take - 1, axis=axis), range(take), axis=axis
    )
    kth = np.take_along_axis(scores, part, axis=axis).min(
        axis=axis, keepdims=True
    )
    return np.nonzero((scores >= kth) & (scores > -np.inf))


def dot_int8(a: Column | str, b: Column | str) -> Column:
    """Exact integer dot product of two ARRAY<INT> quantized vectors
    (LONG). Rescale to cosine space by dividing by 127² = 16129."""
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def sign_bits_packed(a: Column | str, dim: int) -> Column:
    """Pack the sign bits of a float vector (x >= 0 → 1) into
    ceil(dim/64) LONGs — the 1-bit quantization tier: 32× smaller than
    float32 (vs 4× for int8, ~64× for PQ at dim 1536/m 96). With
    clustered unit vectors the sign-agreement count is a monotone
    proxy for cosine, so a packed Hamming screen + exact rerank gives
    high recall at 1/32nd the scan bytes. Pure integer fold — one
    codegen span, no UDF; the fold shifts with SHIFTLEFT (bitwise, no
    overflow check — the top bit of a full 64-bit word is payload, and
    `acc * 2` would throw under ANSI mode when it flips the sign)."""
    col = _col(a)
    words = []
    for g in range(0, dim, 64):
        width = min(64, dim - g)
        words.append(
            F.aggregate(
                F.sequence(F.lit(g), F.lit(g + width - 1)),
                F.lit(0).cast("long"),
                lambda acc, i: F.shiftleft(acc, 1)
                + F.when(
                    F.element_at(col, (i + 1).cast("int")) >= 0,
                    F.lit(1).cast("long"),
                ).otherwise(F.lit(0).cast("long")),
            )
        )
    return F.array(*words)


def hamming_packed(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two packed sign-bit vectors
    (ARRAY<LONG> from sign_bits_packed): Σ popcount(xor) — integer,
    exact, codegen."""
    return F.aggregate(
        F.zip_with(
            _col(a),
            _col(b),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def sign_agreement(a: Column | str, qsigns: Sequence[int]) -> Column:
    """Sign-agreement score of a float vector against a ±1 query sign
    pattern: Σ (x_i >= 0 ? s_i : -s_i) = dim − 2·hamming. The unpacked
    twin of the packed Hamming screen — SQL-mirrorable, used by the
    oracle-gated query; tests assert packed ≡ unpacked."""
    qlit = array_lit([int(s) for s in qsigns])
    return F.aggregate(
        F.zip_with(
            _col(a),
            qlit,
            lambda x, y: F.when(x >= 0, y).otherwise(-y).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
