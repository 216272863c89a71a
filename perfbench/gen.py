"""Seeded input generators. The same seed gives the same inputs.

Everything here runs in the benchmark's own process (NumPy + Arrow)
and writes parquet into the run's scratch directory; the program under
test only ever sees those files and the values returned here.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "query row stream the batch sort value hash filter big data dup part "
    "column order scan a slow agg key window table merge vector join spark "
    "line small fast group customer"
).split()


def write_parquet(out_dir: str, name: str, cols: dict) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return path


def _texts(rng, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    words = np.asarray(WORDS, dtype=object)[idx]
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(words[pos : pos + k]))
        pos += k
    return out


def _days(rng, n: int, start: dt.datetime, span_days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span_days + 1, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


# -- registry tables ------------------------------------------------------------


def registry_tables(out_dir: str, seed: int) -> None:
    """The registry tables the timed queries read, at scale factor 0.1:
    ``customer`` and ``orders`` (TPC-H-like) and a ``documents`` corpus
    with a few exact duplicates, as ``<table>.parquet``. Row counts and
    value domains follow the registry's sf-scaled test data."""
    sf = 0.1
    rng = np.random.default_rng([seed, 1])
    n_cust, n_ord, n_docs = int(150_000 * sf), int(1_500_000 * sf), int(50_000 * sf)
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
    write_parquet(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write_parquet(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), 2404),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    texts = _texts(rng, n_docs, 10, 100)
    for i in rng.choice(n_docs, 8, replace=False):  # a few exact duplicates
        texts[i] = texts[(i + 1) % n_docs]
    write_parquet(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["zh", "de", "en", "es", "fr"])[rng.integers(0, 5, n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


# -- KnowledgeBase inputs -----------------------------------------------------


class TableEmbedder:
    """Stand-in embedding provider: a fixed seeded table of unit vectors,
    looked up by word hashes (first eight words plus the whole text), so
    every distinct text gets its own unit vector at almost no cost.

    ``calls``/``texts``/``func_s`` are optional Spark accumulators; adds
    made inside a Spark task count provider work done for ingest, adds
    on the driver (query embedding) do not."""

    def __init__(self, seed: int, dim: int):
        rng = np.random.default_rng([seed, 7])
        # 1024 float32 rows keep the pickled provider small (it ships
        # with every task)
        self.table = rng.standard_normal((1024, dim)).astype(np.float32)
        self.calls = self.texts = self.func_s = None

    def vector(self, text: str) -> np.ndarray:
        rows = len(self.table)
        idx = [zlib.crc32(w.encode()) % rows for w in text.split()[:8]]
        v = self.table[idx].sum(axis=0, dtype=np.float64)
        v = v + self.table[zlib.crc32(text.encode()) % rows]
        return v / np.linalg.norm(v)

    def __call__(self, texts: list[str]) -> list[list[float]]:
        import time

        from pyspark import TaskContext

        t0 = time.perf_counter()
        out = [self.vector(t).tolist() for t in texts]
        if self.calls is not None and TaskContext.get() is not None:
            self.calls.add(1)
            self.texts.add(len(texts))
            self.func_s.add(time.perf_counter() - t0)
        return out


def kb_docs(seed: int, n: int) -> list[tuple[str, int | None]]:
    """``n`` (text, parent index) rows: about a third are children of an
    earlier doc, so the hierarchy is several levels deep. Texts are
    distinct (each carries its index)."""
    rng = np.random.default_rng([seed, 2])
    texts = _texts(rng, n, 6, 40)
    out: list[tuple[str, int | None]] = []
    for i, t in enumerate(texts):
        parent = int(rng.integers(0, i)) if i >= 16 and rng.random() < 0.35 else None
        out.append((f"doc {i} {t}", parent))
    return out


# -- curation corpus ------------------------------------------------------------


def curation_docs(seed: int, n: int) -> tuple[list[str], dict]:
    """Templated near-duplicate corpus: the texts of docs 0..n-1.

    Docs come in groups of four variants of one 40-word template
    drawn from a large vocabulary; variants differ in one word and a
    numeric suffix. Planted extras: a known set of exact copies of
    other docs, and PII (email, phone, IPv4) in known docs."""
    rng = np.random.default_rng([seed, 3])
    tpl_words = rng.integers(0, 200_000, (n // 4 + 1, 40))
    texts = []
    for d in range(n):
        t, v = divmod(d, 4)
        words = [f"w{w}" for w in tpl_words[t]]
        words[int(rng.integers(0, 40))] = f"v{v}x{t}"
        texts.append(" ".join(words) + f" suffix {v}")
    n_exact = n // 50
    # exact copies: a copy's source is never itself a copy
    copies = rng.choice(np.arange(1, n, 2), n_exact, replace=False)
    pii = {}
    for d in rng.choice(np.arange(0, n, 2), n // 20, replace=False):
        kind = int(rng.integers(0, 3))
        token = (
            f"user{d}@example.com",
            f"555-{d % 1000:03d}-{d % 10000:04d}",
            f"10.{d % 256}.{(d // 256) % 256}.7",
        )[kind]
        texts[d] = texts[d] + " contact " + token
        pii[int(d)] = kind
    # a copy of a PII doc copies the PII too
    for c in copies:
        texts[c] = texts[c - 1]
        if c - 1 in pii:
            pii[int(c)] = pii[c - 1]
    return texts, {"n_exact_dups": int(n_exact), "pii": pii}


def curation_vectors(seed: int, n: int, dim: int) -> tuple[np.ndarray, list]:
    """Unit vectors (float32) around 32 cluster centers, with planted
    pairs: for every 500th id i, vector i+1 is set to exactly cosine
    0.95 with vector i (before float32 rounding)."""
    n_centers, plant_every = 32, 500
    rng = np.random.default_rng([seed, 4])
    centers = rng.standard_normal((n_centers, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    noise = rng.standard_normal((n, dim))
    noise *= 0.9 / np.linalg.norm(noise, axis=1, keepdims=True)
    mat = centers[rng.integers(0, n_centers, n)] + noise
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    pairs = []
    for i in range(0, n - 1, plant_every):
        u = rng.standard_normal(dim)
        u -= (u @ mat[i]) * mat[i]
        u /= np.linalg.norm(u)
        mat[i + 1] = 0.95 * mat[i] + np.sqrt(1 - 0.95**2) * u
        pairs.append((i, i + 1))
    return mat.astype(np.float32), pairs
