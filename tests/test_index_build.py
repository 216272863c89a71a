"""Batch vector-index build/search tests: layout, partition pruning,
recall vs the exact baseline, incremental multiprobe recall gain."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from svs_spark.operators import index_build as IX
from svs_spark.operators.similarity import retrieve_topk
from svs_spark.plans import explain as X
from svs_spark.queries import fixed_query_vec
from tests.conftest import SF_DIR

QVEC = fixed_query_vec(64)


@pytest.fixture(scope="module")
def index_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("annidx") / "lsh_index")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    IX.build_lsh_index(emb, path, nbits=4, dim=64)
    return path


def test_layout_partitioned_by_bucket(index_path):
    parts = [d for d in os.listdir(index_path) if d.startswith("bucket=")]
    assert len(parts) > 1, "index must be partitioned by bucket"
    assert IX.read_index_meta(index_path)["nbits"] == 4


def test_search_prunes_partitions(spark, index_path):
    res = IX.search_lsh_index(spark, index_path, QVEC, k=5)
    plan = X.plan_string(res)
    assert "PartitionFilters" in plan and "bucket" in plan
    assert res.count() <= 5


def test_search_results_are_exact_within_bucket(spark, index_path):
    emb = spark.read.parquet(index_path)
    from svs_spark.operators.ann import query_bucket

    qb = query_bucket(QVEC, 4)
    bucket_exact = retrieve_topk(
        emb.filter(F.col("bucket") == qb), QVEC, 5
    ).collect()
    got = IX.search_lsh_index(spark, index_path, QVEC, k=5).collect()
    assert [(r["vec_id"], round(r["score"], 5)) for r in got] == [
        (r["vec_id"], round(r["score"], 5)) for r in bucket_exact
    ]


def test_multiprobe_improves_recall(spark, index_path):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {r["vec_id"] for r in retrieve_topk(emb, QVEC, 10).collect()}

    def recall(mp):
        got = {
            r["vec_id"]
            for r in IX.search_lsh_index(
                spark, index_path, QVEC, k=10, multiprobe=mp
            ).collect()
        }
        return len(got & exact) / len(exact)

    r0, r4 = recall(0), recall(4)
    assert r4 >= r0, "multiprobe must not lose recall"
    assert r4 > 0, "probing 5 buckets should hit some exact neighbors"


class TestTwoLevelIndex:
    @pytest.fixture(scope="class")
    def two_level_path(self, spark, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("idx2") / "two_level")
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        IX.build_two_level_index(emb, path, nbits=4, dim=64)
        return path

    def test_layout_and_metadata(self, two_level_path):
        buckets = [
            d for d in os.listdir(two_level_path) if d.startswith("bucket=")
        ]
        assert buckets
        inner = os.listdir(os.path.join(two_level_path, buckets[0]))
        assert any(d.startswith("label=") for d in inner)
        meta = IX.read_index_meta(two_level_path)
        assert len(meta["centroids"]) == 10  # labels 0-9
        assert all(len(v) == 64 for v in meta["centroids"].values())

    def test_search_prunes_both_levels(self, spark, two_level_path):
        res = IX.search_two_level_index(spark, two_level_path, QVEC, k=5)
        plan = X.plan_string(res)
        assert "PartitionFilters" in plan
        assert "bucket" in plan and "label" in plan
        assert 0 < res.count() <= 5

    def test_recall_vs_exact(self, spark, two_level_path):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        exact = {r["vec_id"] for r in retrieve_topk(emb, QVEC, 10).collect()}
        got = {
            r["vec_id"]
            for r in IX.search_two_level_index(
                spark, two_level_path, QVEC, k=10, probes=6, multiprobe=4
            ).collect()
        }
        assert len(got & exact) >= 3  # wide probe recovers real neighbors


class TestIvfInt8Index:
    """build_ivf_index / search_ivf_index: the serving layout (partition
    pruning on label + packed int8 vectors + integer-GEMM scoring)."""

    @pytest.fixture(scope="class")
    def clustered(self, spark):
        import numpy as np

        rng = np.random.default_rng(3)
        k, dim, per = 8, 16, 80
        centers = rng.standard_normal((k, dim)).astype(np.float32)
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        rows = []
        vid = 0
        for c in range(k):
            pts = centers[c] + 0.25 * rng.standard_normal((per, dim)).astype(
                np.float32
            )
            pts /= np.linalg.norm(pts, axis=1, keepdims=True)
            for p in pts:
                rows.append((vid, [float(x) for x in p]))
                vid += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        return df, centers

    @pytest.fixture(scope="class")
    def ivf_path(self, spark, clustered, tmp_path_factory):
        df, _ = clustered
        path = str(tmp_path_factory.mktemp("ivf") / "idx")
        cent = IX.train_centroids_sample(
            df, n_clusters=8, sample_rows=400, iters=6
        )
        IX.build_ivf_index(df, path, cent)
        return path

    def test_train_sample_is_seeded(self, clustered):
        """With ``sample_rows`` under the row count the sample is a
        fraction of the rows, drawn with the given seed: two calls train
        the same centroids (the seed was once dropped, and each call drew
        its own random sample)."""
        import numpy as np

        df, _ = clustered
        a, b = (IX.train_centroids_sample(df, n_clusters=8, sample_rows=200,
                                          iters=3, seed=1) for _ in range(2))
        assert np.array_equal(a, b)

    def test_layout_and_meta(self, ivf_path):
        labels = [d for d in os.listdir(ivf_path) if d.startswith("label=")]
        assert len(labels) >= 6  # kmeans occasionally merges tiny clusters
        meta = IX.read_index_meta(ivf_path)
        assert meta["kind"] == "ivf_int8" and meta["dim"] == 16

    def test_search_prunes_partitions(self, spark, clustered, ivf_path):
        _, centers = clustered
        meta = IX.read_index_meta(ivf_path)
        df = spark.read.parquet(ivf_path)
        q = [float(x) for x in centers[0]]
        res = IX.search_ivf_index(df, meta, q, k=5, probes=2)
        plan = X.plan_string(res)
        assert "PartitionFilters" in plan and "label" in plan
        assert res.count() == 5

    def test_full_probe_matches_exact_topk(self, spark, clustered, ivf_path):
        """probes = all clusters ⇒ the index scans everything; int8
        quantization error is the only divergence from exact float
        top-k, so overlap must be near-total."""
        df, centers = clustered
        meta = IX.read_index_meta(ivf_path)
        idx = spark.read.parquet(ivf_path)
        q = [float(x) for x in centers[3]]
        exact = {r["vec_id"] for r in retrieve_topk(df, q, 20).collect()}
        got = {
            r["vec_id"]
            for r in IX.search_ivf_index(
                idx, meta, q, k=20, probes=meta["n_clusters"]
            ).collect()
        }
        assert len(got & exact) >= 17

    def test_int8_rerank_matches_float32_exactly(
        self, spark, clustered, ivf_path
    ):
        """int8_rerank screens with the quantized column, then re-scores
        candidates against float32 — with full probes its top-k must
        equal the float32 path's top-k exactly (same scores, same tie
        order), restoring exactness the raw int8 path loses."""
        df, centers = clustered
        meta = IX.read_index_meta(ivf_path)
        idx = spark.read.parquet(ivf_path)
        q = [float(x) for x in centers[1]]
        f32 = [
            (r["vec_id"], round(r["score"], 6))
            for r in IX.search_ivf_index(
                idx, meta, q, k=15, probes=meta["n_clusters"], precision="float32"
            ).collect()
        ]
        rr = [
            (r["vec_id"], round(r["score"], 6))
            for r in IX.search_ivf_index(
                idx,
                meta,
                q,
                k=15,
                probes=meta["n_clusters"],
                precision="int8_rerank",
            ).collect()
        ]
        assert rr == f32

    def test_incremental_update_append_only_touched_labels(
        self, spark, clustered, tmp_path
    ):
        """update_ivf_index assigns new vectors by the stored centroids
        (no retraining, no corpus scan) and appends to their label
        partitions; untouched labels' existing files stay byte-identical,
        and a search immediately finds the new vector as its own top
        hit."""
        import numpy as np

        df, centers = clustered
        path = str(tmp_path / "idx")
        cent = IX.train_centroids_sample(
            df, n_clusters=8, sample_rows=400, iters=6
        )
        IX.build_ivf_index(df, path, cent)
        meta = IX.read_index_meta(path)

        def inventory():
            out = {}
            for d in os.listdir(path):
                if not d.startswith("label="):
                    continue
                sub = os.path.join(path, d)
                out[d] = {
                    (f, os.stat(os.path.join(sub, f)).st_mtime_ns)
                    for f in os.listdir(sub)
                }
            return out

        before = inventory()
        # a new vector sitting exactly on centroid 2 of the INDEX
        newv = [float(x) for x in np.asarray(meta["centroids"][2])]
        delta = spark.createDataFrame(
            [(10_000, newv)], "vec_id long, embedding array<float>"
        )
        IX.update_ivf_index(delta, path)
        after = inventory()
        # exactly one label partition gained a file; no existing file
        # was rewritten anywhere
        changed = [d for d in after if before.get(d, set()) != after[d]]
        assert len(changed) == 1
        assert before[changed[0]] <= after[changed[0]]

        idx = spark.read.parquet(path)
        top = IX.search_ivf_index(idx, meta, newv, k=1, probes=2).first()
        assert top["vec_id"] == 10_000

    def test_narrow_probe_recall(self, spark, clustered, ivf_path):
        """2 of 8 probes on well-clustered data: most true neighbors
        live in the query's own cluster."""
        df, centers = clustered
        meta = IX.read_index_meta(ivf_path)
        idx = spark.read.parquet(ivf_path)
        q = [float(x) for x in centers[5]]
        exact = {r["vec_id"] for r in retrieve_topk(df, q, 10).collect()}
        got = {
            r["vec_id"]
            for r in IX.search_ivf_index(idx, meta, q, k=10, probes=2).collect()
        }
        assert len(got & exact) >= 7


class TestIvfPqIndex:
    """build_pq_index / search_pq_index: ADC screen over m-byte codes +
    exact float rerank (Jégou et al. 2011 product quantization)."""

    @pytest.fixture(scope="class")
    def clustered(self, spark):
        import numpy as np

        rng = np.random.default_rng(11)
        k, dim, per = 8, 16, 80
        centers = rng.standard_normal((k, dim)).astype(np.float32)
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        rows = []
        vid = 0
        for c in range(k):
            pts = centers[c] + 0.25 * rng.standard_normal((per, dim)).astype(
                np.float32
            )
            pts /= np.linalg.norm(pts, axis=1, keepdims=True)
            for p in pts:
                rows.append((vid, [float(x) for x in p]))
                vid += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        return df, centers

    @pytest.fixture(scope="class")
    def pq_path(self, spark, clustered, tmp_path_factory):
        import numpy as np

        df, _ = clustered
        path = str(tmp_path_factory.mktemp("pq") / "idx")
        cent = IX.train_centroids_sample(
            df, n_clusters=8, sample_rows=800, iters=6
        )
        rows = sorted(df.collect(), key=lambda r: r.vec_id)
        mat = np.array([r.embedding for r in rows], dtype=np.float32)
        # residual codebooks (the build default): codes approximate
        # x − c_label, the screen adds q·c_label back per row
        books = IX.train_pq_codebooks_residual(mat, cent, m=4, ksub=32, iters=8)
        IX.build_pq_index(df, path, cent, books)
        return path

    def test_layout_and_meta(self, pq_path):
        labels = [d for d in os.listdir(pq_path) if d.startswith("label=")]
        assert len(labels) >= 6
        meta = IX.read_index_meta(pq_path)
        assert meta["kind"] == "ivf_pq"
        assert meta["m"] == 4 and meta["ksub"] == 32
        # codes really are m bytes
        import pyarrow.parquet as pq

        f = next(
            os.path.join(pq_path, d, x)
            for d in labels
            for x in os.listdir(os.path.join(pq_path, d))
            if x.endswith(".parquet")
        )
        tbl = pq.read_table(f, columns=["code"])
        assert all(len(v.as_py()) == 4 for v in tbl["code"][:5])

    def test_search_prunes_partitions_and_code_column(
        self, spark, clustered, pq_path
    ):
        _, centers = clustered
        meta = IX.read_index_meta(pq_path)
        idx = spark.read.parquet(pq_path)
        q = [float(x) for x in centers[0]]
        res = IX.search_pq_index(idx, meta, q, k=5, probes=2)
        assert res.count() == 5

    def test_full_probe_rerank_matches_exact_topk(
        self, spark, clustered, pq_path
    ):
        """With all clusters probed and a 16× over-fetch, the ADC screen's
        candidates contain the true top-k and the float rerank restores
        the exact result (same ids, same rounded scores)."""
        df, centers = clustered
        meta = IX.read_index_meta(pq_path)
        idx = spark.read.parquet(pq_path)
        q = [float(x) for x in centers[5]]
        exact = [
            (r["vec_id"], round(r["score"], 6))
            for r in retrieve_topk(df, q, 10).collect()
        ]
        got = [
            (r["vec_id"], round(r["score"], 6))
            for r in IX.search_pq_index(
                idx, meta, q, k=10, probes=meta["n_clusters"], rerank_mult=16
            ).collect()
        ]
        assert got == exact

    def test_adc_candidate_recall(self, spark, clustered, pq_path):
        """The screen alone (no rerank) must already surface most true
        neighbors within a 10× over-fetch — the property that makes the
        two-pass design work at scale."""
        import numpy as np

        df, centers = clustered
        meta = IX.read_index_meta(pq_path)
        idx = spark.read.parquet(pq_path)
        books = np.asarray(meta["codebooks"], dtype=np.float32)
        cent = np.asarray(meta["centroids"], dtype=np.float64)
        q = [float(x) for x in centers[2]]
        consts = {
            lab: float(cent[lab] @ np.asarray(q, dtype=np.float64))
            for lab in range(meta["n_clusters"])
        }
        exact = {r["vec_id"] for r in retrieve_topk(df, q, 10).collect()}
        cand = {
            r["vec_id"]
            for r in IX.pq_adc_topk(
                idx.select("vec_id", "code", "label"), books, q, 100,
                label_consts=consts,
            ).collect()
        }
        assert len(exact & cand) >= 8


class TestIvfAssignedFrame:
    """ivf_assigned_frame: the (vec_id, cluster_id, embedding) reuse
    view of an IVF layout — downstream cluster-bucketed stages skip
    the assignment GEMM scan."""

    @pytest.fixture(scope="class")
    def built(self, spark, tmp_path_factory):
        import numpy as np

        rng = np.random.default_rng(17)
        k, dim, per = 6, 16, 50
        centers = rng.standard_normal((k, dim)).astype(np.float32)
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        rows = []
        vid = 0
        for c in range(k):
            pts = centers[c] + 0.2 * rng.standard_normal((per, dim)).astype(
                np.float32
            )
            pts /= np.linalg.norm(pts, axis=1, keepdims=True)
            for p in pts:
                rows.append((vid, [float(x) for x in p]))
                vid += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        path = str(tmp_path_factory.mktemp("ivfreuse") / "idx")
        cent = IX.train_centroids_sample(
            df, n_clusters=k, sample_rows=300, iters=6
        )
        IX.build_ivf_index(df, path, cent)
        return df, cent, path

    def test_vectors_roundtrip_exactly(self, spark, built):
        df, _, path = built
        got = {
            r["vec_id"]: r["embedding"]
            for r in IX.ivf_assigned_frame(spark, path).collect()
        }
        want = {r["vec_id"]: r["embedding"] for r in df.collect()}
        assert set(got) == set(want)
        assert all(got[v] == want[v] for v in want)  # float32 exact

    def test_frame_reads_with_the_layout_schema(self, spark, built):
        """Building the frame runs no Spark job (no footer-inference
        read), and the layout reads back with the types inference
        finds."""
        _, _, path = built
        sc = spark.sparkContext
        sc.setJobGroup("ivf-assigned-frame", "ivf-assigned-frame")
        try:
            frame = IX.ivf_assigned_frame(spark, path)
        finally:
            sc.setJobGroup("ivf-assigned-frame-done", "")
        assert sc.statusTracker().getJobIdsForGroup("ivf-assigned-frame") == []
        assert frame.columns == ["vec_id", "cluster_id", "embedding"]
        inferred = spark.read.parquet(path)
        assert sorted(inferred.dtypes) == sorted(
            spark.read.schema(IX.IVF_LAYOUT_SCHEMA).parquet(path).dtypes)

    def test_assignment_matches_centroid_assign(self, spark, built):
        from svs_spark.operators.similarity import centroid_assign

        df, cent, path = built
        got = {
            r["vec_id"]: r["cluster_id"]
            for r in IX.ivf_assigned_frame(spark, path).collect()
        }
        want = {
            r["vec_id"]: r["cluster_id"]
            for r in centroid_assign(
                df, list(enumerate(cent.tolist()))
            ).collect()
        }
        assert got == want  # tie-free data: raw vs round-6 argmax agree

    def test_semdedup_pairs_identical_over_reuse_view(self, spark, built):
        from svs_spark.operators.clustering import within_cluster_pairs
        from svs_spark.operators.similarity import centroid_assign

        df, cent, path = built
        via_index = {
            tuple(r)
            for r in within_cluster_pairs(
                IX.ivf_assigned_frame(spark, path), threshold=0.9
            ).collect()
        }
        via_assign = {
            tuple(r)
            for r in within_cluster_pairs(
                centroid_assign(
                    df, list(enumerate(cent.tolist())), keep_vec=True
                ),
                threshold=0.9,
            ).collect()
        }
        assert via_index == via_assign
        assert via_index  # non-empty truth: tight clusters have pairs


class TestIvfLocalReader:
    """The in-process serving twin must return EXACTLY what the Spark
    job path returns — same probed cells, same float64 scores, same
    (score desc, vec_id desc) tie order — and its LRU must not change
    answers."""

    @pytest.fixture(scope="class")
    def lr_setup(self, spark, tmp_path_factory):
        import numpy as np

        rng = np.random.default_rng(11)
        k, dim, per = 8, 16, 60
        centers = rng.standard_normal((k, dim)).astype(np.float32)
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        rows = []
        vid = 0
        for c in range(k):
            pts = centers[c] + 0.25 * rng.standard_normal((per, dim)).astype(
                np.float32
            )
            pts /= np.linalg.norm(pts, axis=1, keepdims=True)
            for p in pts:
                rows.append((vid, [float(x) for x in p]))
                vid += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        path = str(tmp_path_factory.mktemp("ivflocal") / "idx")
        cent = IX.train_centroids_sample(df, n_clusters=8, sample_rows=400,
                                         iters=6)
        IX.build_ivf_index(df, path, cent)
        return df, centers, path

    def _spark_answer(self, spark, path, q, k, probes, prec="float32"):
        meta = IX.read_index_meta(path)
        idx = spark.read.parquet(path)
        return [
            (r["vec_id"], r["score"])
            for r in IX.search_ivf_index(
                idx, meta, q, k, probes, prec
            ).collect()
        ]

    def test_matches_spark_path_exactly(self, spark, lr_setup):
        _, centers, path = lr_setup
        reader = IX.IvfLocalReader(path)
        for seed in range(4):
            q = [float(x) for x in centers[seed % len(centers)]]
            want = self._spark_answer(spark, path, q, 10, probes=3)
            got = reader.search(q, 10, probes=3)
            assert got == want, (seed, got[:3], want[:3])

    def test_int8_precision_matches(self, spark, lr_setup):
        _, centers, path = lr_setup
        reader = IX.IvfLocalReader(path, precision="int8")
        q = [float(x) for x in centers[2]]
        want = self._spark_answer(spark, path, q, 10, probes=3, prec="int8")
        got = reader.search(q, 10, probes=3)
        assert got == want

    def test_lru_eviction_preserves_answers(self, spark, lr_setup):
        _, centers, path = lr_setup
        tight = IX.IvfLocalReader(path, max_cached_labels=2)
        loose = IX.IvfLocalReader(path)
        for seed in range(6):
            q = [float(x) for x in centers[seed % len(centers)]]
            assert tight.search(q, 8, probes=4) == loose.search(
                q, 8, probes=4
            )
        assert len(tight._cache) <= 2


class TestIvfLocalReaderEmptyCell:
    def test_missing_label_partition_is_empty_not_crash(
        self, spark, tmp_path
    ):
        """k-means routinely leaves cells empty at high cluster counts;
        the partitioned write materializes no directory for them. The
        Spark path prunes those silently — the in-process reader must
        treat a probed missing cell as zero rows too (round-8: a real
        1M run crashed FileNotFoundError on label=398)."""
        import shutil

        import numpy as np

        rng = np.random.default_rng(3)
        dim = 8
        mat = rng.standard_normal((120, dim)).astype(np.float32)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(mat)],
            "vec_id long, embedding array<float>",
        )
        cent = IX.train_centroids_sample(
            df, n_clusters=4, sample_rows=120, iters=4
        )
        path = str(tmp_path / "idx")
        IX.build_ivf_index(df, path, cent)
        q = mat[0]
        full = IX.IvfLocalReader(path).search(q, 10, probes=4)
        assert len(full) == 10
        # delete the probed-LAST cell's directory to simulate an empty
        # k-means cell; the reader must degrade to the surviving cells
        ranked = np.argsort(-(np.asarray(cent) @ q))[:4]
        victim = int(ranked[-1])
        shutil.rmtree(f"{path}/label={victim}")
        got = IX.IvfLocalReader(path).search(q, 10, probes=4)
        # the surviving 3 cells still hold ~90 rows, so a full k must
        # come back even after losing the victim cell
        assert len(got) == 10
        surviving = {int(v) for v, _ in got}
        # no crash, and answers come only from surviving cells
        spark_side = {
            r["vec_id"]
            for r in IX.search_ivf_index(
                spark.read.parquet(path),
                IX.read_index_meta(path),
                [float(x) for x in q],
                10,
                4,
            ).collect()
        }
        assert surviving == spark_side

    def test_missing_cells_respect_lru_bound(self, spark, tmp_path):
        """Empty-cell entries go through the same insert+evict path as
        loaded entries, so probing missing cells cannot grow _cache past
        max_cached_labels (ADVICE r8: the early return used to skip
        eviction)."""
        import shutil

        import numpy as np

        rng = np.random.default_rng(7)
        dim = 8
        mat = rng.standard_normal((160, dim)).astype(np.float32)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(mat)],
            "vec_id long, embedding array<float>",
        )
        cent = IX.train_centroids_sample(
            df, n_clusters=8, sample_rows=160, iters=4
        )
        path = str(tmp_path / "idx")
        IX.build_ivf_index(df, path, cent)
        # knock out half the cells, then probe everything repeatedly
        for victim in range(0, 8, 2):
            shutil.rmtree(f"{path}/label={victim}", ignore_errors=True)
        reader = IX.IvfLocalReader(path, max_cached_labels=3)
        for seed in range(12):
            q = mat[seed * 13 % len(mat)]
            got = reader.search(q, 5, probes=8)
            assert len(got) == 5
            assert len(reader._cache) <= 3


class TestBoundaryTies:
    """Five identical copies of the query (ids 100–104) tie for the top
    score in one cluster: every index search returns the documented
    (score desc, vec_id desc) order, so k=2 gives (104, 103). A local
    prune that keeps only k of the tied rows returns whichever two it
    happened to pick."""

    @pytest.fixture(scope="class")
    def tied(self, spark, tmp_path_factory):
        import numpy as np

        rng = np.random.default_rng(5)
        dim = 16
        q = rng.standard_normal(dim).astype(np.float32)
        q /= np.linalg.norm(q)
        mat = rng.standard_normal((40, dim)).astype(np.float32)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        full = np.vstack([mat, np.repeat(q[None, :], 5, axis=0)])
        ids = list(range(40)) + list(range(100, 105))
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in zip(ids, full)],
            "vec_id long, embedding array<float>",
        )
        cent = q[None, :]  # one cluster holds every vector
        root = tmp_path_factory.mktemp("ties")
        ivf, pq = str(root / "ivf"), str(root / "pq")
        IX.build_ivf_index(df, ivf, cent)
        books = IX.train_pq_codebooks_residual(full, cent, m=4, ksub=8, iters=4)
        IX.build_pq_index(df, pq, cent, books)
        return [float(x) for x in q], ivf, pq

    @pytest.mark.parametrize("precision", ["float32", "int8", "int8_rerank"])
    def test_search_ivf_index(self, spark, tied, precision):
        q, ivf, _ = tied
        res = IX.search_ivf_index(
            spark.read.parquet(ivf), IX.read_index_meta(ivf), q, 2,
            probes=1, precision=precision,
        )
        assert [r["vec_id"] for r in res.collect()] == [104, 103]

    def test_search_pq_index(self, spark, tied):
        q, _, pq = tied
        res = IX.search_pq_index(
            spark.read.parquet(pq), IX.read_index_meta(pq), q, 2, probes=1
        )
        assert [r["vec_id"] for r in res.collect()] == [104, 103]

    @pytest.mark.parametrize("precision", ["float32", "int8"])
    def test_local_reader(self, tied, precision):
        q, ivf, _ = tied
        got = IX.IvfLocalReader(ivf, precision=precision).search(q, 2, probes=1)
        assert [i for i, _ in got] == [104, 103]
