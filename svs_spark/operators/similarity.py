"""Similarity-search operators: the core "query engine" of the reference.

Parity targets (reference ``/root/reference``):

- ``retrieve(query, n)`` — exact brute-force cosine top-k
  (``src/svs/kb.py:1608-1640``, kernel ``kb.py:1623``, top-k
  ``src/svs/util.py:190-203``).
- ``document_top_pairwise_scores(n)`` — all-pairs cosine, top-n of the
  strict upper triangle (``src/svs/kb.py:1642-1671``,
  ``src/svs/util.py:206-233``).

Spark-first design:

- Scoring is a codegen'd DOUBLE fold (``svs_spark.functions.vector.dot``)
  or an Arrow-batched NumPy matmul (``with_scores_batch``) — the latter is
  the 100 TB hot path: each executor task does one BLAS matvec per Arrow
  batch, the exact same kernel the reference runs single-node
  (``np.dot(matrix, qvec)``), sharded across the cluster.
- Top-k is ``ORDER BY score DESC LIMIT k`` which Catalyst plans as
  ``TakeOrderedAndProject``: per-partition bounded heaps + a driver merge
  of k·num_partitions rows — the distributed form of the reference's
  ``argpartition`` top-k.
  No global sort, no full shuffle.
- Tie-break parity: the reference sorts ties by *higher index first*
  (tuple sort in ``util.py:203``); we order by (score DESC, id DESC).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from svs_spark.functions.vector import (
    dot,
    dot_literal,
    stack_rows,
    topk_ties,
)
from svs_spark.session import drop_zip_importers


def _label_values(pdf: pd.DataFrame, label_col: str):
    """Kernel-side label extraction with a CLEAR failure mode: the
    label column is cast to long on the DataFrame side (so incompatible
    types fail at plan time), which turns nulls / uncastable values
    into NaN — surface those here with an actionable message instead of
    the opaque numpy 'cannot convert float NaN to integer' deep in the
    executor."""
    import numpy as np

    s = pdf[label_col]
    if s.isna().any():
        raise ValueError(
            f"label column {label_col!r} contains null (or non-integer, "
            "cast-failed) values; hard-negative / contrastive mining "
            "requires non-null integer labels — filter or fill them "
            "before mining"
        )
    return s.to_numpy().astype(np.int64)


def ranked_topk(
    partials: DataFrame, keys: Sequence[str], id_col: str, k: int
) -> DataFrame:
    """The global merge after a local prune: rank each ``keys`` group
    by (score desc, ``id_col`` desc) and keep ranks ≤ k, adding the
    ``rank`` column. Every per-query / per-row top-k operator ends here,
    so the locally kept boundary ties resolve in one place."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(F.desc("score"), F.desc(id_col))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def block_pairs(
    embeddings: DataFrame, id_col: str, vec_col: str, block_size: int
) -> DataFrame:
    """The blocked-GEMM all-pairs layout: vectors grouped into
    ``block_size``-id blocks (one ``collect_list`` of (vid, vec) structs
    each), then every block pair with ``blk_a <= blk_b`` as one row
    (blk_a, items_a, blk_b, items_b). Callers that want one task per
    block pair repartition it themselves."""
    blocked = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.floor(F.col(id_col) / block_size).alias("blk"),
    )
    mats = blocked.groupBy("blk").agg(
        F.collect_list(F.struct("vid", "vec")).alias("items")
    )
    a = mats.select(F.col("blk").alias("blk_a"), F.col("items").alias("items_a"))
    b = mats.select(F.col("blk").alias("blk_b"), F.col("items").alias("items_b"))
    return a.join(b, F.col("blk_a") <= F.col("blk_b"))


def block_matrix(items):
    """(ids int64, float64 matrix) of one ``block_pairs`` items cell."""
    import numpy as np

    ids = np.fromiter((x["vid"] for x in items), dtype=np.int64)
    return ids, stack_rows([x["vec"] for x in items], np.float64)


def _query_block_join(
    embeddings: DataFrame,
    query_vecs: "list[tuple[int, int | None, Sequence[float]]]",
    k: int,
    roles: "Sequence[tuple[str | None, str | None]]",
    id_col: str,
    vec_col: str,
    label_col: str | None = None,
    out_id: str | None = None,
) -> DataFrame:
    """The one-scan query-block kernel behind ``knn_join_batch``,
    ``hard_negative_join`` and ``contrastive_pair_join``: the (d × q)
    query matrix ships in the task closure, each Arrow batch runs ONE
    BLAS GEMM, scores round to 6dp BEFORE any masking or selection (the
    global window ranks by rounded score, so pruning on unrounded values
    could drop the id-desc tie winner at the k boundary — ADVICE r1),
    and each role keeps its local top-k with boundary ties. The exchange
    carries ≤ len(roles)·k·q rows per batch.

    ``query_vecs`` is [(query_id, query_label or None, vector), ...].
    ``roles`` is [(tag, mask), ...]; mask None = every corpus row,
    "other_label" = rows whose label differs from the query's,
    "same_label" = rows sharing it, the query's own id excluded. Masked
    entries score ``-inf`` and are never selected. A None tag (one role
    only) leaves the ``role`` column out. Returns the unranked partials
    (query_id, [role,] ``out_id`` (default ``id_col``), score)."""
    import numpy as np

    out_id = out_id or id_col
    qids = [int(q) for q, _, _ in query_vecs]
    qlabels = [int(lb) for _, lb, _ in query_vecs] if label_col else []
    qmat_list = [[float(x) for x in v] for _, _, v in query_vecs]
    tagged = roles[0][0] is not None

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        qmat = np.asarray(qmat_list, dtype=np.float64).T  # (d, q)
        qid_arr = np.asarray(qids, dtype=np.int64)
        qlab_arr = np.asarray(qlabels, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            if label_col:
                labs = _label_values(pdf, label_col)
                same = labs[:, None] == qlab_arr[None, :]
            mat = stack_rows(pdf[vec_col].to_numpy(), np.float64)
            base = np.round(mat @ qmat, 6)  # (batch, q) — one GEMM
            outs = []
            for tag, mask in roles:
                if mask == "other_label":
                    scores = np.where(same, -np.inf, base)
                elif mask == "same_label":
                    is_self = ids[:, None] == qid_arr[None, :]
                    scores = np.where(~same | is_self, -np.inf, base)
                else:
                    scores = base
                rows, cols = topk_ties(scores, k)
                if len(rows) == 0:
                    continue
                out = {"query_id": qid_arr[cols]}
                if tagged:
                    out["role"] = tag
                out[out_id] = ids[rows]
                out["score"] = scores[rows, cols]
                outs.append(pd.DataFrame(out))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    cols = [id_col, vec_col]
    if label_col:
        # cast plan-side: a structurally incompatible label type (array,
        # struct, ...) fails HERE with an AnalysisException, not mid-stage
        cols.append(F.col(label_col).cast("long").alias(label_col))
    role_field = "role string, " if tagged else ""
    return embeddings.select(*cols).mapInPandas(
        score,
        schema=f"query_id long, {role_field}{out_id} long, score double",
    )


def with_scores(
    df: DataFrame,
    query_vec: Sequence[float],
    vec_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Add an exact dot-product score column (JVM fold, bit-reproducible)."""
    return df.withColumn(score_col, dot_literal(vec_col, query_vec))


def with_scores_batch(
    df: DataFrame,
    query_vec: Sequence[float],
    vec_col: str = "embedding",
    score_col: str = "score",
    id_col: str = "vec_id",
) -> DataFrame:
    """Add scores via an Arrow-batched NumPy matvec (bench hot path).

    Equivalent kernel to the reference's ``np.dot(matrix, qvec)``
    (``src/svs/kb.py:1623``) but sharded: each Arrow batch becomes one
    (batch, dim) float32 matrix multiplied on the executor.
    """
    import numpy as np

    q = None  # lazily materialized per executor
    qlist = [float(v) for v in query_vec]
    schema = f"{id_col} long, {score_col} double"

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        nonlocal q
        if q is None:
            q = np.asarray(qlist, dtype=np.float64)
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = stack_rows(pdf[vec_col].to_numpy(), np.float64)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), score_col: mat @ q}
            )

    return df.select(id_col, vec_col).mapInPandas(score_batches, schema=schema)


def retrieve_topk(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact brute-force top-k retrieval (reference ``kb.py:1608-1640``).

    Returns (id, score [, extra_cols]) ordered score DESC, id DESC.
    ``TakeOrderedAndProject`` keeps this a single scan + bounded heaps —
    survives 100× scale-up with no shuffle.
    """
    if k <= 0:
        # reference get_top_k clamps k<=0 to [] (util.py:190-203)
        scored = with_scores(embeddings, query_vec, vec_col).limit(0)
        return scored.select(id_col, "score", *extra_cols)
    scored = with_scores(embeddings, query_vec, vec_col)
    return (
        scored.select(id_col, "score", *extra_cols)
        .orderBy(F.desc("score"), F.desc(id_col))
        .limit(k)
    )


def retrieve_docs(
    embeddings: DataFrame,
    docs: DataFrame,
    query_vec: Sequence[float],
    k: int,
    emb_id_col: str = "vec_id",
    doc_id_col: str = "doc_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """retrieve() full pipeline: score → top-k → join winners to docs.

    The k winners are a tiny DataFrame — broadcast them so the docs-side
    join is a broadcast hash join (no shuffle of the 100 TB docs table).
    """
    winners = retrieve_topk(embeddings, query_vec, k, emb_id_col, vec_col)
    joined = docs.join(
        F.broadcast(winners), on=docs[doc_id_col] == winners[emb_id_col]
    )
    return joined.select(docs["*"], winners["score"]).orderBy(
        F.desc("score"), F.desc(doc_id_col)
    )


def pairwise_topk(
    embeddings: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine, top-k of the strict upper triangle.

    Parity: ``document_top_pairwise_scores`` (``kb.py:1642-1671``), which
    builds an N×N gram matrix and takes ``np.triu_indices(k=1)``. Here the
    triangle is the ``a.id < b.id`` predicate on a self-join — Catalyst
    prunes half the pairs before scoring. Output: (id_a, id_b, score).

    Scale note: exact N² is only for modest N (the reference caps out the
    same way — 1M docs ⇒ 10^12 pairs is infeasible for anyone). At scale
    use ``svs_spark.operators.dedup.minhash_lsh_pairs`` or
    ``embedding_near_dup_pairs`` (LSH-bucketed) instead; this exact form
    is the oracle for those approximations.
    """
    a = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a")
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a", "id_b", dot("vec_a", "vec_b").alias("score")
    )
    # reference tie-break: pairs sorted desc by (score, row, col) tuples
    return scored.orderBy(
        F.desc("score"), F.desc("id_a"), F.desc("id_b")
    ).limit(k)


def block_pairwise_topk(
    embeddings: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 2048,
    round_decimals: int | None = 6,
) -> DataFrame:
    """All-pairs top-k via blocked BLAS GEMMs — the scale path for V2.

    Shards the reference's single ``np.dot(matrix, matrix.T)``
    (``kb.py:1651``) into block pairs: vectors are grouped into
    ``block_size`` chunks, every block pair (bi <= bj) becomes one task
    computing a (bs × bs) gram block with one GEMM, locally pruning to
    its own top-k before the global ``TakeOrderedAndProject``. N=1M,
    bs=4096 ⇒ ~30k independent GEMM tasks of O(bs²) memory each — the
    work distributes with no N² shuffle (only k rows leave each task).

    ``round_decimals`` rounds scores *before* local selection so the
    local prune uses the exact same total order (rounded score desc,
    id_a desc, id_b desc) as the global limit — required for
    deterministic parity with the rounded DuckDB oracle.
    """
    import numpy as np

    pairs = block_pairs(embeddings, id_col, vec_col, block_size).repartition(
        F.col("blk_a"), F.col("blk_b")
    )

    def score_blocks(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in it:
            for items_a, items_b in zip(pdf["items_a"], pdf["items_b"]):
                ia, ma = block_matrix(items_a)
                ib, mb = block_matrix(items_b)
                gram = ma @ mb.T  # one BLAS GEMM per block pair
                ii, jj = np.nonzero(ia[:, None] < ib[None, :])
                if len(ii) == 0:
                    continue
                scores = gram[ii, jj]
                if round_decimals is not None:
                    scores = np.round(scores, round_decimals)
                if len(scores) > k:
                    # total order = (score, id_a, id_b) desc, matching the
                    # global orderBy — lexsort ascending, take the tail
                    order = np.lexsort((ib[jj], ia[ii], scores))[-k:]
                    ii, jj, scores = ii[order], jj[order], scores[order]
                yield pd.DataFrame(
                    {"id_a": ia[ii], "id_b": ib[jj], "score": scores}
                )

    scored = pairs.mapInPandas(
        score_blocks, schema="id_a long, id_b long, score double"
    )
    return scored.orderBy(
        F.desc("score"), F.desc("id_a"), F.desc("id_b")
    ).limit(k)


def knn_join_batch(
    embeddings: DataFrame,
    query_vecs: "list[tuple[int, Sequence[float]]]",
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bulk retrieval: many queries against the corpus in ONE scan.

    The query matrix Q (q × d) ships inside the task closure; each Arrow
    batch runs a single BLAS GEMM (batch × d)·(d × q) and locally prunes
    to its own top-k per query before anything is shuffled — so the
    exchange carries ≤ k·q rows per batch, never the full score matrix.
    A final per-query ranked window merges the partials.

    This is the throughput shape for 100 TB retrieval: the corpus is
    scanned once for the whole query batch, and per-query cost amortizes
    the Arrow transfer that dominates single-query latency (serving-
    style point queries are explicitly a non-goal — BASELINE.json).
    Exact results: equal to per-query retrieve_topk (tested).
    """
    partials = _query_block_join(
        embeddings,
        [(q, None, v) for q, v in query_vecs],
        k,
        [(None, None)],
        id_col,
        vec_col,
    )
    return ranked_topk(partials, ["query_id"], id_col, k)


def knn_join_multiwidth(
    embeddings: DataFrame,
    query_vecs: "list[tuple[int, Sequence[float]]]",
    k: int,
    widths: "Sequence[int]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka multiwidth retrieval: top-k per query at EVERY prefix
    width in ``widths``, fused into ONE corpus scan and one
    GEMM-per-segment pass (r8 verdict ask #3; Kusupati et al. 2022's
    MRL serving eval). The prefix dot at width w is a partial sum of
    the full dot, so the kernel accumulates segment GEMMs
    (mat[:, w_prev:w] @ Q[w_prev:w]) and snapshots the running sum at
    each width boundary — total FLOPs equal ONE max-width GEMM, and the
    corpus (the data-sized side) is read once instead of
    ``len(widths)`` times. This is the fusion the registered
    ``matryoshka_recall_eval`` documents as its 100 TB shape; the
    registered query keeps the per-width composition so its plan stays
    oracle-identical, and tests/test_multiwidth.py pins this kernel
    row-for-row equal to that composition.

    Same kernel discipline as ``knn_join_batch``: query matrix in the
    task closure, scores rounded to 6dp BEFORE local selection (float64
    segment-sum vs one-GEMM prefix dot are both unordered BLAS
    reductions; the repo-wide round-6 contract is what makes them
    comparable), per-(width, query) local top-k with boundary ties
    kept, global window resolves (score desc, id desc). The exchange
    carries ≤ len(widths)·k·q rows per batch.

    Output: (dims int, query_id long, <id_col> long, score double,
    rank int) — one top-k table per width, stacked.
    """
    import numpy as np

    ws = sorted({int(w) for w in widths})
    if not ws or ws[0] < 1:
        raise ValueError(f"widths must be positive ints, got {widths!r}")
    qids = [int(q) for q, _ in query_vecs]
    qmat_list = [[float(x) for x in v] for _, v in query_vecs]
    if any(len(v) < ws[-1] for v in qmat_list):
        raise ValueError(
            f"max width {ws[-1]} exceeds query vector dimension"
        )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        qmat = np.asarray(qmat_list, dtype=np.float64).T  # (d, q)
        qid_arr = np.asarray(qids, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            mat = stack_rows(pdf[vec_col].to_numpy(), np.float64)
            acc = np.zeros((len(ids), qmat.shape[1]), dtype=np.float64)
            outs = []
            prev = 0
            for w in ws:
                acc += mat[:, prev:w] @ qmat[prev:w, :]
                prev = w
                scores = np.round(acc, 6)
                rows, cols = topk_ties(scores, k)
                outs.append(
                    pd.DataFrame(
                        {
                            "dims": np.int32(w),
                            "query_id": qid_arr[cols],
                            id_col: ids[rows],
                            "score": scores[rows, cols],
                        }
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    partials = embeddings.select(id_col, vec_col).mapInPandas(
        score,
        schema=f"dims int, query_id long, {id_col} long, score double",
    )
    return ranked_topk(partials, ["dims", "query_id"], id_col, k)


def hard_negative_join(
    embeddings: DataFrame,
    query_vecs: "list[tuple[int, int, Sequence[float]]]",
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-NEGATIVE mining: for each labeled query, the top-k most
    similar corpus rows whose label DIFFERS from the query's — the
    candidates a contrastive trainer (embedding fine-tuning, reranker
    distillation) wants as negatives precisely because the current
    model scores them like positives.

    Same one-scan GEMM shape as ``knn_join_batch`` (query matrix in the
    task closure, one BLAS GEMM per Arrow batch, local top-k before the
    exchange carries ≤ k·q rows per batch) with one addition: rows
    sharing the query's label are masked out of that query's column
    BEFORE local selection, so the per-batch prune can never starve a
    query whose top scores are all same-label (filtering AFTER a plain
    top-k would). The query row itself shares its own label, so it is
    excluded automatically. The kernel is ``knn_join_batch``'s own
    (``_query_block_join``) with the "other_label" mask.

    ``query_vecs`` is [(query_id, query_label, vector), ...] — a
    bounded serving-style literal batch, like knn_join_batch's.

    ``label_col`` must hold non-null integer-castable values: it is
    cast to long on the DataFrame side (incompatible types fail at
    plan time) and nulls raise a clear ValueError in the kernel.
    """
    partials = _query_block_join(
        embeddings,
        query_vecs,
        k,
        [(None, "other_label")],
        id_col,
        vec_col,
        label_col,
    )
    return ranked_topk(partials, ["query_id"], id_col, k)


def self_knn(
    embeddings: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 2048,
    round_decimals: int = 6,
) -> DataFrame:
    """Every vector's k nearest neighbors within the corpus (self
    excluded) — the near-dup *assignment* operator: where
    ``block_pairwise_topk`` keeps the globally best pairs and
    ``embedding_near_dup_pairs`` keeps pairs over a threshold, this
    keeps the best match **per document**, the form a training pipeline
    needs to pick a canonical representative for every record.

    Same blocked-GEMM decomposition as ``block_pairwise_topk``
    (reference single-node kernel: ``np.dot(matrix, matrix.T)``,
    ``src/svs/kb.py:1651``): block pairs (bi <= bj) each compute one
    (bs × bs) gram block, but here BOTH directions of every block pair
    emit local per-row top-k candidates (rows of A scored over B and
    rows of B over A), so each vector's true neighbor is among its
    ≤ k·nblocks shuffled candidates. The final per-id ranked window
    resolves globally. Shuffle volume is O(N·k·nblocks), never N².

    Exact by construction; at 100 TB the same per-row-top-k shape runs
    over IVF/LSH candidates instead of all blocks (operators/ann.py)
    — this is the oracle-grade exact form.

    Rounding before local pruning keeps the local total order (rounded
    score desc, id desc) identical to the global window — the k-boundary
    tie rule every GEMM operator here follows (DEVNOTES invariant 16).
    """
    import numpy as np

    pairs = block_pairs(embeddings, id_col, vec_col, block_size).repartition(
        F.col("blk_a"), F.col("blk_b")
    )

    def local_topk(
        ids_q: "np.ndarray", ids_c: "np.ndarray", gram: "np.ndarray"
    ) -> "tuple[np.ndarray, np.ndarray, np.ndarray]":
        # per-row top-k of gram (rows = queries, cols = candidates),
        # self matches already masked to -inf
        rows, cols = topk_ties(gram, k, axis=1)
        return ids_q[rows], ids_c[cols], gram[rows, cols]

    def score_blocks(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in it:
            for items_a, items_b in zip(pdf["items_a"], pdf["items_b"]):
                ia, ma = block_matrix(items_a)
                ib, mb = block_matrix(items_b)
                gram = np.round(ma @ mb.T, round_decimals)  # one BLAS GEMM
                gram[ia[:, None] == ib[None, :]] = -np.inf  # mask self
                for q, c, s in (
                    local_topk(ia, ib, gram),
                    # the transposed direction only when the blocks differ
                    # (bi == bj would emit every candidate twice)
                    *([local_topk(ib, ia, gram.T)] if ia[0] != ib[0] else []),
                ):
                    if len(s):
                        yield pd.DataFrame(
                            {"vec_id": q, "nn_id": c, "score": s}
                        )

    partials = pairs.mapInPandas(
        score_blocks, schema="vec_id long, nn_id long, score double"
    )
    return ranked_topk(partials, ["vec_id"], "nn_id", k)


def centroid_assign(
    embeddings: DataFrame,
    centroids: "list[tuple[int, Sequence[float]]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
    keep_vec: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment — the k-means / IVF assignment step
    as a pure MAP: the (k × d) centroid matrix ships in the task
    closure (k is small by construction — it is the cluster count, not
    the data), each Arrow batch runs one BLAS GEMM (batch × d)·(d × k)
    and emits its own argmax rows, so the corpus is never shuffled for
    the assignment. At 100 TB that is the difference between a
    map-only stage and a full-corpus exchange (the naive crossJoin +
    per-id window formulation shuffles every row to rank k scores).

    Tie rule matches the oracle-checked semantics of
    ``kmeans_assign_profile``: scores rounded to ``round_decimals``
    first, ties broken by LOWEST centroid id (centroids are sorted by
    id, and ``np.argmax`` returns the first maximum).

    Returns (id_col, cluster_id, score) — one row per input vector;
    with ``keep_vec`` the input vector rides along (still map-only), so
    a centroid-recompute stage can follow without re-joining the corpus.
    """
    import numpy as np

    cents = sorted(((int(c), [float(x) for x in v]) for c, v in centroids))
    cid_list = [c for c, _ in cents]
    cmat_list = [v for _, v in cents]

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        cmat = np.asarray(cmat_list, dtype=np.float64).T  # (d, k)
        cids = np.asarray(cid_list, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            mat = stack_rows(pdf[vec_col].to_numpy(), np.float64)
            scores = np.round(mat @ cmat, round_decimals)  # one GEMM
            best = np.argmax(scores, axis=1)  # first max = lowest cid
            out = {
                id_col: ids,
                "cluster_id": cids[best],
                "score": scores[np.arange(len(ids)), best],
            }
            if keep_vec:
                out[vec_col] = pdf[vec_col]
            yield pd.DataFrame(out)

    schema = f"{id_col} long, cluster_id long, score double"
    if keep_vec:
        vec_type = dict(embeddings.dtypes)[vec_col]
        schema += f", {vec_col} {vec_type}"
    return embeddings.select(id_col, vec_col).mapInPandas(
        assign, schema=schema
    )


def mmr_rerank(
    embeddings: DataFrame,
    qvec: Sequence[float],
    k: int = 10,
    pool: int = 50,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance rerank: greedily pick ``k`` results
    that balance query relevance against redundancy with what's already
    picked — mmr(c) = λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s),
    ties to the higher id (the engine-wide tie rule). The standard
    diversity pass a RAG serving stack runs after dense retrieval.

    Scale split: candidate generation is the distributed part — a
    TakeOrdered top-``pool`` scan exactly like retrieve_topk; the
    greedy selection is inherently sequential over ``pool`` rows
    (driver-scale by construction, like the k-winners joins), so it
    runs as a NumPy loop on the collected pool. All scores round to
    6dp so the selection is deterministic cross-engine.
    """
    import numpy as np

    spark = embeddings.sparkSession
    cands = (
        embeddings.select(
            id_col,
            vec_col,
            F.round(dot_literal(vec_col, qvec), 6).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.desc(id_col))
        .limit(pool)
        .collect()
    )
    ids = np.asarray([r[id_col] for r in cands], dtype=np.int64)
    mat = np.asarray([list(r[vec_col]) for r in cands], dtype=np.float64)
    rel = np.asarray([r["rel"] for r in cands], dtype=np.float64)
    sims = np.round(mat @ mat.T, 6)
    selected: "list[int]" = []
    out = []
    remaining = np.ones(len(ids), dtype=bool)
    for rank in range(1, min(k, len(ids)) + 1):
        if selected:
            maxsim = sims[:, selected].max(axis=1)
        else:
            maxsim = np.zeros(len(ids))
        mmr = np.round(lam * rel - (1.0 - lam) * maxsim, 6)
        # argmax over remaining, ties to HIGHER id
        order = np.lexsort((-ids, -mmr))
        pick = next(i for i in order if remaining[i])
        remaining[pick] = False
        selected.append(pick)
        out.append((rank, int(ids[pick]), float(mmr[pick]), float(rel[pick])))
    return spark.createDataFrame(
        out, "rank int, vec_id long, mmr double, rel double"
    )


def contrastive_pair_join(
    embeddings: DataFrame,
    query_vecs: "list[tuple[int, int, Sequence[float]]]",
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive TRIPLET mining in one corpus scan: for each labeled
    anchor, the top-k most-similar SAME-label rows (positives — the
    anchor row itself excluded by id) AND the top-k most-similar
    DIFFERENT-label rows (the hardest negatives), tagged by a ``role``
    column ('pos' / 'neg'). Anchor + positive + negative is exactly the
    batch a triplet/InfoNCE fine-tune consumes; mining both roles in
    the same GEMM pass halves the scan cost of running retrieval and
    hard-negative mining separately.

    Same kernel discipline as ``knn_join_batch`` / ``hard_negative_join``:
    query matrix in the task closure, one BLAS GEMM per Arrow batch,
    scores rounded to 6dp BEFORE local selection, per-role local top-k
    with boundary ties kept, global per-(query, role) window resolves
    (score desc, id desc). Exchange carries ≤ 2·k·q rows per batch.

    ``query_vecs`` is [(query_id, query_label, vector), ...] — anchors
    are corpus rows, so the id-based self-mask matters for positives
    (an anchor is always its own nearest same-label neighbor).
    ``label_col`` follows the same non-null integer contract as
    ``hard_negative_join``.
    """
    partials = _query_block_join(
        embeddings,
        query_vecs,
        k,
        [("pos", "same_label"), ("neg", "other_label")],
        id_col,
        vec_col,
        label_col,
        out_id="vid",
    )
    return ranked_topk(partials, ["query_id", "role"], "vid", k).select(
        "query_id", "role", F.col("vid").alias(id_col), "score", "rank"
    )
