"""Embedding-provider UDF surface (reference §2.7, U1-U8).

The reference's only UDF type is ``EmbeddingFunc: async (List[str]) ->
List[List[float]]`` (``src/svs/types.py:12``). A Spark engine is
synchronous and batch-parallel, so our ``EmbeddingFunc`` is the sync
twin; the async/sync duality of the reference (half its LoC) is
concurrency plumbing with no query semantics and is deliberately not
ported (SURVEY.md §7).

Distribution: ``embed_df`` runs the function inside ``mapInPandas`` —
each executor processes Arrow batches, chunking provider calls at 200
texts (reference ``_BULK_EMBEDDING_CHUNK_SIZE``, ``kb.py:52``) with an
executor-local LRU (reference ``util.py:51-93``).

Providers: mock (``src/svs/embeddings/mock.py:6-21``), keyword
(deterministic test func, ``tests/test_kb.py:1206-1219``), OpenAI
(``src/svs/embeddings/openai.py:13-92``) and Ollama
(``src/svs/embeddings/ollama.py:14-93``) over stdlib HTTP — both
network-gated and never exercised in tests.
"""

from __future__ import annotations

import json
import math
import struct
import urllib.request
from functools import lru_cache
from typing import Callable, Iterator, List, Optional

from svs_spark.session import drop_zip_importers

EmbeddingFunc = Callable[[List[str]], List[List[float]]]

BULK_EMBEDDING_CHUNK_SIZE = 200  # kb.py:52
MAGNITUDE_TOLERANCE = 0.001  # kb.py:55-58


def embedding_to_bytes(vec: List[float]) -> bytes:
    """Little-endian float32 packing (embeddings/util.py:15-18)."""
    return struct.pack(f"<{len(vec)}f", *vec)


def embedding_from_bytes(raw: bytes) -> List[float]:
    """Inverse of embedding_to_bytes (embeddings/util.py:21-23)."""
    return list(struct.unpack(f"<{len(raw) // 4}f", raw))


def check_magnitude(vec: List[float], tolerance: float = MAGNITUDE_TOLERANCE) -> None:
    """Unit-norm guard (embeddings/util.py:26-41): raises ValueError when
    ‖v‖ is outside 1 ± tolerance."""
    mag = math.sqrt(sum(x * x for x in vec))
    if not (1.0 - tolerance <= mag <= 1.0 + tolerance):
        raise ValueError(
            f"embedding magnitude {mag!r} outside 1 +/- {tolerance}"
        )


def with_magnitude_check(
    func: EmbeddingFunc, tolerance: float = MAGNITUDE_TOLERANCE
) -> EmbeddingFunc:
    def wrapped(texts: List[str]) -> List[List[float]]:
        vecs = func(texts)
        assert len(vecs) == len(texts)
        for v in vecs:
            check_magnitude(v, tolerance)
        return vecs

    return wrapped


def make_mock_embeddings_func() -> EmbeddingFunc:
    """Every text → [1.0, 0.0, 0.0] (src/svs/embeddings/mock.py:6-21)."""

    def mock(texts: List[str]) -> List[List[float]]:
        return [[1.0, 0.0, 0.0] for _ in texts]

    return mock


KEYWORD_VECTORS = {
    # deterministic ranking fixture (tests/test_kb.py:1206-1226)
    "third": [0.01, 0.0, 1.0],
    "first": [1.0, 0.001, 0.0],
    "second": [0.0, 1.0, 0.0001],
    "forth": [0.707, 0.707, 0.0],
}


def make_keyword_embeddings_func() -> EmbeddingFunc:
    """Substring-keyword → fixed vector; unknown text errors
    (tests/test_kb.py:1206-1219)."""

    def keyword(texts: List[str]) -> List[List[float]]:
        out = []
        for t in texts:
            for kw, vec in KEYWORD_VECTORS.items():
                if kw in t:
                    out.append(list(vec))
                    break
            else:
                raise ValueError(f"no keyword found in text: {t!r}")
        return out

    return keyword


def make_openai_embeddings_func(
    model: str = "text-embedding-3-small",
    api_key: Optional[str] = None,
    dimensions: Optional[int] = None,
    user: Optional[str] = None,
    base_url: str = "https://api.openai.com/v1",
) -> EmbeddingFunc:
    """OpenAI /v1/embeddings over stdlib HTTP (openai.py:13-92).

    Network-gated: only invoked when the user wires it up; per-executor
    the function object is serialized and each task makes its own calls.
    """
    import os

    key = api_key or os.environ.get("OPENAI_API_KEY")

    def openai_embed(texts: List[str]) -> List[List[float]]:
        if not key:
            raise RuntimeError("OPENAI_API_KEY not configured")
        payload: dict = {"model": model, "input": texts}
        if dimensions is not None:
            payload["dimensions"] = dimensions
        if user is not None:
            payload["user"] = user
        req = urllib.request.Request(
            f"{base_url}/embeddings",
            data=json.dumps(payload).encode(),
            headers={
                "Content-Type": "application/json",
                "Authorization": f"Bearer {key}",
            },
        )
        with urllib.request.urlopen(req) as resp:  # noqa: S310
            body = json.loads(resp.read())
        data = sorted(body["data"], key=lambda d: d["index"])
        assert len(data) == len(texts)
        return [d["embedding"] for d in data]

    return openai_embed


def make_ollama_embeddings_func(
    model: str,
    truncate: bool = True,
    keep_alive: str = "5m",
    base_url: Optional[str] = None,
) -> EmbeddingFunc:
    """Ollama /api/embed over stdlib HTTP (ollama.py:14-93)."""
    url = (base_url or "http://127.0.0.1:11434") + "/api/embed"

    def ollama_embed(texts: List[str]) -> List[List[float]]:
        payload = {
            "model": model,
            "input": texts,
            "truncate": truncate,
            "keep_alive": keep_alive,
        }
        req = urllib.request.Request(
            url,
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:  # noqa: S310
            body = json.loads(resp.read())
        vecs = body["embeddings"]
        assert len(vecs) == len(texts)
        return vecs

    return ollama_embed


PROVIDERS = {
    "mock": make_mock_embeddings_func,
    "keyword": make_keyword_embeddings_func,
    "openai": make_openai_embeddings_func,
    "ollama": make_ollama_embeddings_func,
}


def make_embeddings_func(params: dict) -> EmbeddingFunc:
    """Factory dispatch on params['provider'] (embeddings/__init__.py:19-31)."""
    params = dict(params)
    provider = params.pop("provider")
    if provider not in PROVIDERS:
        raise ValueError(f"unknown embeddings provider: {provider!r}")
    params = {k: v for k, v in params.items() if v is not None}
    return PROVIDERS[provider](**params)


def cached_embedding_func(func: EmbeddingFunc, maxsize: int = 100) -> EmbeddingFunc:
    """Executor-local LRU over single texts (reference async LRU +
    in-flight dedup, util.py:51-93; sync engine needs no flight dedup)."""

    @lru_cache(maxsize=maxsize)
    def one(text: str) -> tuple:
        return tuple(tuple(v) for v in func([text]))[0]

    def batched(texts: List[str]) -> List[List[float]]:
        return [list(one(t)) for t in texts]

    return batched


def embed_df(df, func: EmbeddingFunc, text_col: str = "text",
             out_col: str = "embedding",
             chunk_size: int = BULK_EMBEDDING_CHUNK_SIZE,
             check: bool = True):
    """Distributed embedding backfill: mapInPandas over Arrow batches,
    provider calls chunked at ``chunk_size`` (bulk backfill parity,
    kb.py:526-571 + kb.py:1516-1521). Returns df + float array column."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

    wrapped = with_magnitude_check(func) if check else func
    schema = StructType(
        df.schema.fields + [StructField(out_col, ArrayType(FloatType()))]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in batches:
            texts = pdf[text_col].tolist()
            vecs: List[List[float]] = []
            for i in range(0, len(texts), chunk_size):
                vecs.extend(wrapped(texts[i : i + chunk_size]))
            out = pdf.copy()
            out[out_col] = vecs
            yield out

    return df.mapInPandas(run, schema=schema)
