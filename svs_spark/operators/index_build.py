"""Batch vector-index build — the north-star Spark role (BASELINE.json:
"Spark can build/update vector indexes in batch but not handle
low-latency ANN queries. Approach: DataFrame ops for batch vector index
build").

The index IS the table layout: vectors written to parquet partitioned by
their LSH bucket (and optionally sub-bucketed by IVF cluster), so a
search becomes a partition-pruned scan of 1/2^nbits of the data, and the
index "update" is an idempotent partition overwrite — both pure
DataFrame ops that scale to 100 TB. Serving-side (low-latency per-query
lookup) is explicitly out of scope for Spark; a serving system reads the
same parquet layout.

Layout:
    <root>/bucket=<b>/part-*.parquet     (vec_id, embedding, ...)
    <root>/_index_meta/                  (nbits, dim, num_vectors)
"""

from __future__ import annotations

import json
import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from svs_spark.operators.ann import hyperplane_bucket, query_bucket
from svs_spark.functions.vector import (
    dot_literal,
    quantize_int8_many,
    stack_rows,
    topk_ties,
    unpack_rows,
)
from svs_spark.session import drop_zip_importers

# a build_ivf_index layout as Spark reads it back: the data files' columns,
# then the ``label=<c>`` partition column
IVF_LAYOUT_SCHEMA = "vec_id long, qemb binary, femb binary, label int"


def build_lsh_index(
    embeddings: DataFrame,
    out_path: str,
    nbits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the LSH-partitioned index.

    ``repartition("bucket")`` before the write gives one task per bucket
    (no small-file explosion); `partitionBy` creates the prunable layout.
    Incremental update = overwrite the affected bucket partitions
    (dynamic partition overwrite) — no full rebuild.
    """
    bucketed = embeddings.withColumn(
        "bucket", hyperplane_bucket(vec_col, nbits, dim)
    )
    (
        bucketed.repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_path)
    )
    _write_index_meta(
        out_path,
        {"nbits": nbits, "dim": dim, "num_vectors": embeddings.count()},
    )


def _write_index_meta(out_path: str, meta: dict) -> None:
    meta_dir = os.path.join(out_path, "_index_meta")
    os.makedirs(meta_dir, exist_ok=True)
    with open(os.path.join(meta_dir, "meta.json"), "w") as f:
        json.dump(meta, f)


def read_index_meta(out_path: str) -> dict:
    with open(os.path.join(out_path, "_index_meta", "meta.json")) as f:
        return json.load(f)


def search_lsh_index(
    spark: SparkSession,
    index_path: str,
    qvec: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
) -> DataFrame:
    """Search the materialized index: the bucket filter prunes partitions
    (verify with .explain: PartitionFilters on `bucket`), the scan reads
    only the query's bucket(s), and the rerank is an exact top-k.

    ``multiprobe`` additionally probes the buckets at Hamming distance 1
    from the query bucket (flipping one hyperplane bit) — the standard
    recall knob when vectors sit near a hyperplane.
    """
    meta = read_index_meta(index_path)
    nbits = meta["nbits"]
    qb = query_bucket(qvec, nbits)
    buckets = [qb]
    if multiprobe > 0:
        buckets += [qb ^ (1 << bit) for bit in range(min(multiprobe, nbits))]
    df = spark.read.parquet(index_path)
    hits = df.filter(F.col("bucket").isin(buckets))
    return (
        hits.select(
            id_col,
            F.round(dot_literal(vec_col, qvec), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.desc(id_col))
        .limit(k)
    )


def build_two_level_index(
    embeddings: DataFrame,
    out_path: str,
    nbits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
) -> None:
    """Two-level index layout: LSH bucket × coarse cluster.

    Partitioning by (bucket, cluster) lets a search prune on BOTH axes:
    the query's sign-bit bucket first, then the top-probed clusters
    within it — at 100 TB each probe touches 1/(2^nbits · n_clusters)
    of the data. Cluster centroids are precomputed into the index
    metadata so search ranks clusters without scanning anything.
    """
    bucketed = embeddings.withColumn(
        "bucket", hyperplane_bucket(vec_col, nbits, dim)
    )
    (
        bucketed.repartition(F.col("bucket"), F.col(cluster_col))
        .write.mode("overwrite")
        .partitionBy("bucket", cluster_col)
        .parquet(out_path)
    )
    # distributed centroid build (index metadata) — shared with the
    # ivf_topk serving path (operators/ann.py:ivf_centroids)
    from svs_spark.operators.ann import ivf_centroids

    cent = ivf_centroids(embeddings, vec_col, cluster_col)
    _write_index_meta(
        out_path,
        {
            "nbits": nbits,
            "dim": dim,
            "cluster_col": cluster_col,
            "num_vectors": embeddings.count(),
            "centroids": {str(cl): v for cl, v in cent.items()},
        },
    )


def train_centroids_sample(
    embeddings: DataFrame,
    n_clusters: int,
    vec_col: str = "embedding",
    sample_rows: int = 50_000,
    iters: int = 8,
    seed: int = 7,
):
    """Spherical k-means trained on a driver-side sample (numpy), for
    assigning IVF clusters distributed afterwards.

    Train-on-sample + assign-distributed is the standard IVF recipe
    (FAISS does exactly this): centroid quality needs only a
    representative sample, while assignment is one full scan.  The
    sample is bounded (``sample_rows`` × dim doubles), never the corpus.
    Returns a unit-normalized (n_clusters × dim) float32 ndarray.
    """
    import numpy as np

    n = embeddings.count()
    frac = min(1.0, (sample_rows * 1.2) / max(n, 1))
    # no .limit() before collect: LIMIT takes whichever partitions
    # answer first, so two runs over identical files could train on
    # different samples (observed: a k-means cell empty in one run and
    # populated in the next). sample(seed) alone is deterministic for a
    # fixed file layout; truncate driver-side in stable collect order.
    # The fraction is passed by keyword: a positional float is taken as
    # withReplacement, and the seed is then read from the missing
    # fraction, i.e. drawn at random.
    vecs = (
        embeddings.select(vec_col).sample(fraction=frac, seed=seed)
        .toArrow().column(0).combine_chunks()
    )
    mat = vecs.flatten().to_numpy(zero_copy_only=False).astype(
        np.float32
    ).reshape(len(vecs), -1)[:sample_rows]
    rng = np.random.default_rng(seed)
    # kmeans++-style init (D² sampling on 1-cos distance): random init
    # frequently merges neighboring true clusters, which directly costs
    # ANN recall (the probe set misses the merged-away cell)
    first = int(rng.integers(len(mat)))
    cent = np.empty((n_clusters, mat.shape[1]), dtype=np.float32)
    cent[0] = mat[first]
    best_sim = mat @ cent[0]
    for c in range(1, n_clusters):
        d2 = np.maximum(1.0 - best_sim, 0.0) ** 2
        tot = float(d2.sum())
        if tot <= 0:
            idx = int(rng.integers(len(mat)))
        else:
            idx = int(rng.choice(len(mat), p=d2 / tot))
        cent[c] = mat[idx]
        best_sim = np.maximum(best_sim, mat @ cent[c])
    for _ in range(iters):
        # cosine assignment (unit vectors): argmax of dot
        assign = np.argmax(mat @ cent.T, axis=1)
        for c in range(n_clusters):
            members = mat[assign == c]
            if len(members):
                m = members.sum(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    cent[c] = m / norm
    return cent


def build_ivf_index(
    embeddings: DataFrame,
    out_path: str,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF serving index: parquet partitioned by cluster
    label with int8-quantized vectors stored as a packed BINARY column.

    - assignment: one distributed scan; each Arrow batch does a single
      (batch × clusters) float32 GEMM argmax — no per-row Python
    - quantization: round(clamp(x,-1,1)·127) packed to bytes — 4× less
      I/O per probe than float32, and integer dot products at query time
    - layout: ``label=<c>/part-*.parquet`` → a probe reads only its
      clusters' partitions (partition pruning, verified in tests)
    - metadata: centroids + params in ``_index_meta/meta.json`` so the
      query path ranks clusters without touching the corpus

    At 100 TB: build is one scan + one shuffle-free partitioned write
    (repartition by label first so each cluster writes one file run);
    incremental update = dynamic partition overwrite of changed labels.
    """
    import numpy as np

    cent = np.ascontiguousarray(np.asarray(centroids, dtype=np.float32))
    _write_ivf_layout(embeddings, out_path, cent, id_col, vec_col, "overwrite")
    _write_index_meta(
        out_path,
        {
            "kind": "ivf_int8",
            "dim": int(cent.shape[1]),
            "n_clusters": int(cent.shape[0]),
            "centroids": [[float(x) for x in row] for row in cent],
        },
    )


def _write_ivf_layout(
    embeddings: DataFrame,
    path: str,
    cent,
    id_col: str,
    vec_col: str,
    mode: str,
) -> None:
    """The IVF layout write shared by build (``mode="overwrite"``) and
    incremental update (``"append"``): one Arrow kernel assigns each
    vector to its nearest centroid (float32 GEMM argmax) and packs both
    precisions, then a label-partitioned parquet write."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    bc = embeddings.sparkSession.sparkContext.broadcast(cent)

    def assign_quantize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        c = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            mat = stack_rows(pdf[vec_col].to_numpy(), np.float32)
            labels = np.argmax(mat @ c.T, axis=1).astype(np.int32)
            q = quantize_int8_many(mat)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(),
                    "label": labels,
                    "qemb": [row.tobytes() for row in q],
                    "femb": [row.tobytes() for row in mat],
                }
            )

    # both precisions live in the layout; parquet column pruning means a
    # query pays only for the one it scores with (int8 = ¼ the bytes,
    # float32 = exact within the probed cells)
    assigned = embeddings.select(id_col, vec_col).mapInPandas(
        assign_quantize,
        schema="vec_id long, label int, qemb binary, femb binary",
    )
    (
        assigned.repartition(F.col("label"))
        .write.mode(mode)
        .partitionBy("label")
        .parquet(path)
    )


def update_ivf_index(
    new_embeddings: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to a ``build_ivf_index`` layout.

    New vectors are assigned to clusters by the INDEX's stored centroids
    (metadata read — no corpus scan, no retraining) and appended to
    their label partitions; untouched labels' files are not rewritten.
    This is the 100 TB ingest shape: update cost scales with the delta,
    not the index. Centroid drift under sustained ingest is handled by
    a periodic rebuild (standard IVF practice — FAISS does the same).
    """
    import numpy as np

    meta = read_index_meta(index_path)
    cent = np.ascontiguousarray(
        np.asarray(meta["centroids"], dtype=np.float32)
    )
    _write_ivf_layout(new_embeddings, index_path, cent, id_col, vec_col, "append")


def warm_ivf_cache(
    df: DataFrame, precision: str = "float32", compressed: bool = False
) -> DataFrame:
    """Persist the probe-ready projection of an IVF index and return
    the cached handle (pass it as ``df`` to :func:`search_ivf_index`).

    ``compressed=False`` (default since round 7) disables Spark's
    in-memory columnar LZ4 for the cached batches
    (``spark.sql.inMemoryColumnarStorage.compressed``): packed unit
    vectors are incompressible, so the LZ4 pass buys no space and its
    DECOMPRESSION sat on every probed query — the measured reason the
    round-6 cache variant (~0.9 s/query) LOST to re-reading parquet
    from a warm page cache (~0.65 s). The conf is read at
    cache-materialization time, so it is set just for the persist and
    restored after.

    DIAGNOSTIC, not a serving recommendation: even uncompressed, a
    Spark-job-per-query path pays scheduler + Arrow dispatch per
    probe; the serving architecture is :class:`IvfLocalReader` (Spark
    builds the label-partitioned layout; serving reads it in-process —
    BASELINE.json's own division of labor). Reach for this cache only
    when queries must stay INSIDE a Spark job graph and the index
    lives on remote/object storage where a probe re-read pays network
    latency."""
    spark = df.sparkSession
    cols = ["vec_id", "label"] + (
        ["qemb"] if precision == "int8" else
        ["femb", "qemb"] if precision == "int8_rerank" else ["femb"]
    )
    conf_key = "spark.sql.inMemoryColumnarStorage.compressed"
    old = spark.conf.get(conf_key)
    spark.conf.set(conf_key, "true" if compressed else "false")
    try:
        cached = df.select(*cols).persist()
        cached.count()  # materialize now, not on the first query
    finally:
        spark.conf.set(conf_key, old)
    return cached


def search_ivf_index(
    df: DataFrame,
    meta: dict,
    qvec: Sequence[float],
    k: int,
    probes: int = 4,
    precision: str = "float32",
    rerank_mult: int = 16,
) -> DataFrame:
    """Serve a top-k query from a ``build_ivf_index`` layout.

    ``df`` is the (reusable) ``spark.read.parquet(index_path)`` handle —
    callers keep it across queries so file listing isn't re-paid.
    Cluster ranking runs driver-side over the metadata centroids; the
    plan then reads ONLY the probed label partitions (partition
    pruning) and ONLY the chosen precision's column (parquet column
    pruning), streams the packed vectors through one NumPy GEMM kernel
    that emits just its batch-local top-k, and finishes with a global
    TakeOrderedAndProject.

    precision='float32': exact scores within the probed cells — recall
    is bounded only by probe coverage.  precision='int8': ¼ the bytes
    per probe; the quantization noise σ≈3e-3 on unit-dot scores is fine
    for coarse retrieval but reshuffles dense top-k tails (measured:
    recall@100 0.46 vs 0.99+ at 1M×1536 in tools/million_bench.py), so
    the int8 path is the candidate-generation/IO-bound option, not the
    default.  precision='int8_rerank' closes that gap: the int8 pass
    generates ``rerank_mult``·k candidates (reading ONLY the ¼-size
    qemb column), then a second pass re-scores just those candidate
    rows against the float32 column and takes the exact top-k.  At
    cluster scale the screen pass is the I/O-bound one (¼ the bytes of
    a float32 probe) while the rerank reads femb for a candidate set of
    a few thousand rows — pushed down as a ``vec_id IN (...)`` filter,
    so row-group stats bound what gets decoded.

    Measured at 1M×1536, 8/512 probes (MILLION_BENCH_r03.json):
    float32 0.49 s recall@100 1.00; int8 0.47 s recall 0.46 (the dense
    score tail reshuffles under σ≈3e-3 quantization noise — mult·k
    candidates recover it); int8_rerank with rerank_mult=16 1.65 s
    recall 1.00 (two sequential jobs; pays off only when probe I/O
    dominates, i.e. cold/remote storage, not a warm local page cache).
    int8 scoring casts to float64 for the GEMM: every product/sum is an
    exact integer < 2^53, so scores are bit-identical to integer
    arithmetic but run through BLAS (NumPy integer matmul is a scalar
    loop, measured ~2× slower end-to-end on the probe scan).
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator

    cent = np.asarray(meta["centroids"], dtype=np.float32)
    q = np.asarray(qvec, dtype=np.float32)
    probe_labels = _probe_labels(cent, q, probes)

    if precision == "int8_rerank":
        # screen: int8 over-fetch of rerank_mult·k candidate ids (only
        # the packed qemb column is read)
        cand = search_ivf_index(
            df, meta, qvec, max(k, rerank_mult * k), probes, "int8"
        )
        return _rerank_exact(df, probe_labels, cand, q, k)

    use_int8 = precision == "int8"
    col, dt = ("qemb", np.int8) if use_int8 else ("femb", np.float32)
    qq = (quantize_int8_many(q) if use_int8 else q).astype(np.float64)

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in it:
            if not len(pdf):
                continue
            mat = unpack_rows(pdf[col].to_numpy(), dt)
            s = _dot_scores(mat, qq, use_int8)
            (keep,) = topk_ties(s, k)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy()[keep], "score": s[keep]}
            )

    hits = df.filter(F.col("label").isin(probe_labels)).select("vec_id", col)
    return (
        hits.mapInPandas(score, schema="vec_id long, score double")
        .orderBy(F.desc("score"), F.desc("vec_id"))
        .limit(k)
    )


def _probe_labels(cent, q, probes: int) -> "list[int]":
    """The ``probes`` centroid labels nearest the query (float32 dot,
    descending) — the IVF cluster ranking, read from index metadata."""
    import numpy as np

    return [int(x) for x in np.argsort(-(cent @ q))[:probes]]


def _dot_scores(mat, qq, int8: bool = False):
    """float64 scores of decoded index rows against the float64 query.
    For int8 rows (``qq`` quantized too) the GEMM still runs in
    float64: every product and partial sum stays an exact integer
    (< 2^53), so scores are bit-identical to integer arithmetic — but
    it runs through BLAS, where NumPy's int32 matmul is a scalar loop
    (~5-10× slower for these shapes) — then rescales by 127²."""
    import numpy as np

    s = mat.astype(np.float64) @ qq
    if int8:
        s /= np.float64(127 * 127)
    return s


def _rerank_exact(df: DataFrame, probe_labels, cand: DataFrame, q, k: int):
    """Stage 2 of the two-pass searches (int8_rerank, IVF-PQ): collect
    the screen's candidate ids (≤ a few KB, so driving the filter with
    them is bounded), re-score just those rows against the exact
    float32 column — pushed down as a ``vec_id IN (...)`` filter, so
    row-group stats bound decoding — and take the exact top-k."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    qq = q.astype(np.float64)
    cand_ids = [int(r["vec_id"]) for r in cand.select("vec_id").collect()]
    exact = df.filter(
        F.col("label").isin(probe_labels) & F.col("vec_id").isin(cand_ids)
    ).select("vec_id", "femb")

    def rescore(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in it:
            if not len(pdf):
                continue
            s = _dot_scores(unpack_rows(pdf["femb"].to_numpy(), np.float32), qq)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "score": s}
            )

    return (
        exact.mapInPandas(rescore, schema="vec_id long, score double")
        .orderBy(F.desc("score"), F.desc("vec_id"))
        .limit(k)
    )


def ivf_assigned_frame(spark, index_path: str) -> "DataFrame":
    """(vec_id, cluster_id, embedding) view of a ``build_ivf_index``
    layout: the stored label IS a centroid assignment, so downstream
    cluster-bucketed stages — SemDeDup's within-cluster pair kernel
    first among them — REUSE the index's one assignment scan instead
    of re-running a corpus × centroids GEMM argmax. The float32
    vectors unpack from the packed femb BINARY in one Arrow kernel;
    rows arrive already label-partitioned on disk, so the pair
    stage's cluster_id exchange moves data that is largely
    co-located.

    Tie-rule caveat (documented, tested on tie-free data):
    ``build_ivf_index`` assigns by raw-float32 argmax while
    ``centroid_assign`` assigns by round-6 score with ties to the
    lowest centroid id — identical everywhere except exact rounded
    ties, so an assignment-sensitive EXACT pipeline should keep
    ``centroid_assign``; dedup pipelines take the free scan."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    # the layout's known schema (``label`` is the partition column):
    # no footer-reading inference job per call
    idx = (
        spark.read.schema(IVF_LAYOUT_SCHEMA).parquet(index_path)
        .select("vec_id", "label", "femb")
    )

    def unpack(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in it:
            if not len(pdf):
                continue
            mat = unpack_rows(pdf["femb"].to_numpy(), np.float32)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cluster_id": pdf["label"].to_numpy().astype("int64"),
                    "embedding": list(mat),
                }
            )

    return idx.mapInPandas(
        unpack, schema="vec_id long, cluster_id long, embedding array<float>"
    )


class IvfLocalReader:
    """In-process serving twin of :func:`search_ivf_index` — reads the
    SAME Spark-built parquet layout with pyarrow, no Spark job.

    The division of labor is the one BASELINE.json states for the
    reference comparison: "Spark can build/update vector indexes in
    batch but not handle low-latency ANN queries … a serving system
    reads the same parquet layout." A warm Spark-job query has a
    ~0.5 s floor at 1M×1536 (measured: ~0.13 s job dispatch + ~0.25 s
    scan + ~0.25 s Arrow transfer; the GEMM itself is ~5 ms); this
    reader memoizes probed label partitions as NumPy matrices (the
    reference holds its ENTIRE 6 GB matrix in RAM, so caching the
    probed subset is a strictly smaller footprint) and answers warm
    queries at GEMM speed. Results are ranked identically to the
    Spark path (float64 scores, ties broken by descending vec_id) —
    pinned by tests/test_index_build.py.

    ``max_cached_labels`` bounds memory (LRU eviction); None = cache
    every touched partition (full-corpus worst case equals the
    reference's resident matrix).
    """

    def __init__(
        self,
        index_path: str,
        precision: str = "float32",
        max_cached_labels: int | None = None,
    ) -> None:
        import numpy as np

        self.path = index_path
        self.meta = read_index_meta(index_path)
        self.precision = precision
        self.max_cached = max_cached_labels
        self._cache: "dict[int, tuple]" = {}  # label -> (ids, mat); LRU
        self._cent = np.asarray(self.meta["centroids"], dtype=np.float32)

    def _load_label(self, label: int):
        import numpy as np
        import pyarrow.parquet as pq

        hit = self._cache.pop(label, None)
        if hit is not None:
            self._cache[label] = hit  # refresh LRU position
            return hit
        col = "qemb" if self.precision == "int8" else "femb"
        dt = np.int8 if self.precision == "int8" else np.float32
        label_dir = os.path.join(self.path, f"label={label}")
        if not os.path.isdir(label_dir):
            # k-means leaves some cells EMPTY (it happens routinely at
            # 512+ clusters) and the partitioned write materializes no
            # directory for them; the Spark search path prunes them
            # silently, so the in-process reader must treat a probed
            # missing cell as zero rows, not a crash
            entry = (
                np.empty(0, dtype=np.int64),
                np.empty((0, len(self._cent[0])), dtype=dt),
            )
        else:
            tbl = pq.read_table(label_dir, columns=["vec_id", col])
            ids = tbl.column("vec_id").to_numpy()
            entry = (ids, unpack_rows(tbl.column(col).to_pylist(), dt))
        # empty and loaded entries share one insert+evict path, so the
        # len(_cache) <= max_cached invariant holds for both
        self._cache[label] = entry
        if self.max_cached is not None and len(self._cache) > self.max_cached:
            self._cache.pop(next(iter(self._cache)))  # evict LRU
        return entry

    def search(self, qvec, k: int, probes: int = 8):
        """Top-k (vec_id, score) within the probed cells — same
        semantics and tie order as the Spark path."""
        import numpy as np

        q = np.asarray(qvec, dtype=np.float32)
        int8 = self.precision == "int8"
        qq = (quantize_int8_many(q) if int8 else q).astype(np.float64)
        all_ids, all_scores = [], []
        for label in _probe_labels(self._cent, q, probes):
            ids, mat = self._load_label(label)
            all_ids.append(ids)
            all_scores.append(_dot_scores(mat, qq, int8))
        ids = np.concatenate(all_ids)
        scores = np.concatenate(all_scores)
        (keep,) = topk_ties(scores, k)
        ids, scores = ids[keep], scores[keep]
        order = np.lexsort((-ids, -scores))[:k]
        return [(int(ids[i]), float(scores[i])) for i in order]


def search_two_level_index(
    spark: SparkSession,
    index_path: str,
    qvec: Sequence[float],
    k: int,
    probes: int = 2,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search the two-level index: rank clusters by centroid·query from
    the metadata (no scan), then read only (bucket ∈ probe set) ×
    (cluster ∈ top-probes) partitions and rerank exactly."""
    meta = read_index_meta(index_path)
    nbits, cluster_col = meta["nbits"], meta["cluster_col"]
    qb = query_bucket(qvec, nbits)
    buckets = [qb] + [qb ^ (1 << b) for b in range(min(multiprobe, nbits))]
    from svs_spark.operators.ann import rank_clusters

    probe_clusters = rank_clusters(
        {int(cl): v for cl, v in meta["centroids"].items()}, qvec, probes
    )
    df = spark.read.parquet(index_path)
    hits = df.filter(
        F.col("bucket").isin(buckets) & F.col(cluster_col).isin(probe_clusters)
    )
    return (
        hits.select(
            id_col,
            F.round(dot_literal(vec_col, qvec), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.desc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011 — the standard 10-100× vector
# compression for web-scale ANN (FAISS IVF-PQ). Public-knowledge
# algorithm; implementation here is Spark-first: train on a bounded
# driver-side sample, encode/score distributed via Arrow batches.
# ---------------------------------------------------------------------------


def train_pq_codebooks(mat, m: int = 8, ksub: int = 256, iters: int = 10, seed: int = 7):
    """Train per-subspace k-means codebooks on a sample matrix.

    Splits the ``d`` dims into ``m`` contiguous subspaces of ``d/m`` and
    runs Lloyd's k-means (Euclidean) independently in each — O(sample ×
    ksub × d) per iteration, bounded by the sample size, never the
    corpus (same train-on-sample recipe as ``train_centroids_sample``).
    Returns an (m, ksub, d/m) float32 ndarray. A code is then m bytes
    (ksub ≤ 256) — 1536-dim float32 compresses 64× at m=96.
    """
    import numpy as np

    mat = np.asarray(mat, dtype=np.float32)
    n, d = mat.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    if ksub > 256:
        raise ValueError("ksub > 256 does not fit a 1-byte code")
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, dsub), dtype=np.float32)
    for j in range(m):
        sub = np.ascontiguousarray(mat[:, j * dsub : (j + 1) * dsub])
        cb = sub[rng.choice(n, size=ksub, replace=n < ksub)].copy()
        for _ in range(iters):
            assign = _nearest_codeword(sub, cb)
            # vectorized Lloyd update: per-dim scatter-sum via bincount
            # (a per-centroid masking loop is ksub× slower)
            counts = np.bincount(assign, minlength=ksub)
            sums = np.stack(
                [
                    np.bincount(
                        assign,
                        weights=sub[:, t].astype(np.float64),
                        minlength=ksub,
                    )
                    for t in range(dsub)
                ],
                axis=1,
            )
            nz = counts > 0
            cb[nz] = (sums[nz] / counts[nz, None]).astype(np.float32)
        books[j] = cb
    return books


def _nearest_codeword(sub, cb):
    """Per-row index of the nearest codeword of one PQ subspace:
    squared-L2 argmin(||c||² − 2x·c) — ||x||² is constant per row and
    drops out of the argmin."""
    import numpy as np

    d2 = (cb * cb).sum(axis=1)[None, :] - 2.0 * (sub @ cb.T)
    return np.argmin(d2, axis=1)


def _pq_codes(mat, books):
    """(n × m) uint8 PQ codes of ``mat`` under (m, ksub, d/m)
    ``books``: one subspace GEMM + argmin per code byte."""
    import numpy as np

    m, _, dsub = books.shape
    codes = np.empty((len(mat), m), dtype=np.uint8)
    for j in range(m):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        codes[:, j] = _nearest_codeword(sub, books[j]).astype(np.uint8)
    return codes


def train_pq_codebooks_residual(
    mat,
    coarse_centroids,
    m: int = 8,
    ksub: int = 256,
    iters: int = 10,
    seed: int = 7,
):
    """Train PQ codebooks on coarse-cluster RESIDUALS (x − c_assign) —
    the FAISS IVF-PQ recipe. On a clustered corpus raw-vector PQ spends
    its code budget re-encoding each cluster's shared centroid
    direction; residuals concentrate the codewords on the within-cluster
    variation, which is what actually separates neighbors inside a
    probed cell (measured here: recall@100 0.83 → 0.97+ at the same m).
    """
    import numpy as np

    mat = np.asarray(mat, dtype=np.float32)
    cent = np.asarray(coarse_centroids, dtype=np.float32)
    labels = np.argmax(mat @ cent.T, axis=1)
    return train_pq_codebooks(
        mat - cent[labels], m=m, ksub=ksub, iters=iters, seed=seed
    )


def pq_encode_df(
    embeddings: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its m-byte PQ code (distributed).

    One Arrow batch does m subspace GEMMs — the same argmin arithmetic
    as training, sharded over the corpus. Output: (vec_id, code BINARY).
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator

    books = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float32))
    bc = embeddings.sparkSession.sparkContext.broadcast(books)

    def encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        bks = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            mat = stack_rows(pdf[vec_col].to_numpy(), np.float32)
            codes = _pq_codes(mat, bks)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(),
                    "code": [row.tobytes() for row in codes],
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        encode, schema="vec_id long, code binary"
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebooks,
    qvec: Sequence[float],
    n: int,
    label_consts=None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-n screen over PQ codes.

    The query builds an (m × ksub) lookup table of subspace dot
    products ONCE (dot(q, x) ≈ Σ_j LUT[j, code_j] — exact decomposition
    of the inner product against the codeword approximation of x); each
    Arrow batch then scores rows with one fancy-indexed gather + sum
    over the m code bytes and prunes to its local top-n. The scan reads
    only the m-byte code column — at 1M × 1536 that's 96 MB instead of
    6 GB, the whole point at 100 TB: candidate generation touches
    1/64th of the bytes.

    ``label_consts``: for residual-encoded codes (IVF-PQ), a
    {label: dot(q, centroid)} mapping; the per-row score becomes
    q·c_label + Σ LUT[j, code_j] (the codes approximate x − c_label).
    The encoded frame must then carry a ``label`` column. Cost is one
    extra gather per batch — the LUT is shared across clusters because
    codebooks are trained on pooled residuals.
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator

    books = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float32))
    m, ksub, dsub = books.shape
    q = np.asarray(qvec, dtype=np.float32)
    # LUT[j, c] = dot(q_subspace_j, codeword_jc)
    lut = np.empty((m, ksub), dtype=np.float32)
    for j in range(m):
        lut[j] = books[j] @ q[j * dsub : (j + 1) * dsub]
    lut64 = lut.astype(np.float64)
    if label_consts is not None:
        max_label = max(label_consts)
        consts = np.zeros(max_label + 1, dtype=np.float64)
        for lab, v in label_consts.items():
            consts[lab] = v
    else:
        consts = None
    spark = encoded.sparkSession
    bc = spark.sparkContext.broadcast((lut64, consts))
    midx = np.arange(m)
    cols = ["vec_id", "code"] + (["label"] if consts is not None else [])

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        tbl, cst = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            codes = unpack_rows(pdf["code"].to_numpy(), np.uint8)
            s = tbl[midx[None, :], codes].sum(axis=1)
            if cst is not None:
                s = s + cst[pdf["label"].to_numpy()]
            (keep,) = topk_ties(s, n)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy()[keep], "adc_score": s[keep]}
            )

    partials = encoded.select(*cols).mapInPandas(
        score, schema="vec_id long, adc_score double"
    )
    return partials.orderBy(
        F.desc("adc_score"), F.desc("vec_id")
    ).limit(n)


def build_pq_index(
    embeddings: DataFrame,
    out_path: str,
    coarse_centroids,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = True,
) -> None:
    """Materialize an IVF-PQ serving index: label-partitioned parquet
    with the m-byte PQ code column next to the exact float32 vector.

    Build = ONE corpus scan (coarse assignment + PQ encoding fused in a
    single Arrow kernel) + one partitioned write; search = partition-
    pruned ADC screen over the code column + exact rerank over femb
    for the survivors (``search_pq_index``). Incremental update: same
    append-by-stored-centroids shape as ``update_ivf_index``.

    ``residual=True`` (default, and the FAISS IVF-PQ recipe) encodes
    x − c_label instead of x — pass codebooks from
    ``train_pq_codebooks_residual``. The screen then scores
    q·c_label + ADC(residual), same per-byte cost, much tighter
    approximation on clustered corpora.
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator

    cent = np.ascontiguousarray(np.asarray(coarse_centroids, dtype=np.float32))
    books = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float32))
    m, ksub, _ = books.shape
    spark = embeddings.sparkSession
    bc_c = spark.sparkContext.broadcast(cent)
    bc_b = spark.sparkContext.broadcast(books)

    def assign_encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        c, bks = bc_c.value, bc_b.value
        for pdf in it:
            if not len(pdf):
                continue
            mat = stack_rows(pdf[vec_col].to_numpy(), np.float32)
            labels = np.argmax(mat @ c.T, axis=1).astype(np.int32)
            codes = _pq_codes(mat - c[labels] if residual else mat, bks)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(),
                    "label": labels,
                    "code": [row.tobytes() for row in codes],
                    "femb": [row.tobytes() for row in mat],
                }
            )

    assigned = embeddings.select(id_col, vec_col).mapInPandas(
        assign_encode,
        schema="vec_id long, label int, code binary, femb binary",
    )
    (
        assigned.repartition(F.col("label"))
        .write.mode("overwrite")
        .partitionBy("label")
        .parquet(out_path)
    )
    _write_index_meta(
        out_path,
        {
            "kind": "ivf_pq",
            "dim": int(cent.shape[1]),
            "n_clusters": int(cent.shape[0]),
            "m": int(m),
            "ksub": int(ksub),
            "residual": bool(residual),
            "centroids": [[float(x) for x in row] for row in cent],
            "codebooks": [
                [[float(x) for x in cw] for cw in book] for book in books
            ],
        },
    )


def search_pq_index(
    df: DataFrame,
    meta: dict,
    qvec: Sequence[float],
    k: int,
    probes: int = 4,
    rerank_mult: int = 16,
) -> DataFrame:
    """Serve a top-k query from a ``build_pq_index`` layout.

    Stage 1 (screen): partition-pruned scan of the probed labels
    reading ONLY the m-byte code column; ADC gather-sum per batch,
    local prune, global top rerank_mult·k candidates.
    Stage 2 (rerank): re-score just those rows against the exact
    float32 column (vec_id IN pushdown bounds decoding) — same
    two-pass shape as int8_rerank, but the screen reads m bytes/row
    instead of dim bytes/row.
    """
    import numpy as np

    cent = np.asarray(meta["centroids"], dtype=np.float32)
    books = np.asarray(meta["codebooks"], dtype=np.float32)
    q = np.asarray(qvec, dtype=np.float32)
    probe_labels = _probe_labels(cent, q, probes)

    hits = df.filter(F.col("label").isin(probe_labels))
    if meta.get("residual"):
        qd = q.astype(np.float64)
        consts = {
            lab: float(cent[lab].astype(np.float64) @ qd)
            for lab in probe_labels
        }
        screen_cols = hits.select("vec_id", "code", "label")
    else:
        consts = None
        screen_cols = hits.select("vec_id", "code")
    cand = pq_adc_topk(
        screen_cols, books, qvec, max(k, rerank_mult * k),
        label_consts=consts,
    )
    return _rerank_exact(df, probe_labels, cand, q, k)
