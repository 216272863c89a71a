"""Corpus-scale benchmark for the text/dedup/export operators at 1M
documents — the companion to tools/million_bench.py (which covers the
vector path). Generates a deterministic templated corpus (heavy
cross-document duplication — the adversarial case for every banded/
inverted-index candidate join), then times each operator end-to-end on
local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line; the committed artifact is CORPUS_BENCH_r{N}.json.

Usage: python tools/corpus_bench.py [--n 1000000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPUS = "/tmp/corpus_bench_{n}.parquet"


def build_corpus(spark, n: int) -> str:
    """n docs from n/50 templates × 50 variants: ~96% of every document
    is template text shared with 49 siblings, plus cross-template
    shared phrases — worst-case bucket sizes for LSH/shingle joins."""
    from pyspark.sql import functions as F

    path = CORPUS.format(n=n)
    if os.path.exists(path + "/_SUCCESS"):
        return path
    n_tpl = max(1, n // 50)
    # 25 pseudo-random tokens per template from a ~1M-word vocabulary
    # (prime modulus ≫ n_tpl, so template token-offsets never cycle):
    # the 50 variants of one template are near-identical (the dup
    # groups), while DIFFERENT templates share almost nothing — so the
    # true near-dup pair set is Σ C(50,2) per template, linear in n,
    # and any quadratic blowup in a candidate join is the operator's
    # fault, not the corpus's.
    tpl = spark.range(n_tpl).select(
        F.col("id").alias("t"),
        F.concat(
            F.array_join(
                F.expr(
                    "transform(sequence(1, 25), i ->"
                    " concat('w', cast((id * 2654435761 + i * 40503) % 999983"
                    " as string)))"
                ),
                " ",
            ),
            F.lit(" contact user"),
            F.col("id").cast("string"),
            F.lit("@example.com done"),
        ).alias("base"),
    )
    docs = (
        spark.range(n)
        .select(F.col("id").alias("doc_id"), (F.col("id") % n_tpl).alias("t"))
        .join(F.broadcast(tpl), "t")
        .select(
            "doc_id",
            F.concat(
                F.col("base"),
                F.lit(" suffix "),
                (F.col("doc_id") % 50).cast("string"),
            ).alias("text"),
            F.lit("en").alias("lang"),
            F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string")).alias(
                "source"
            ),
        )
    )
    docs.write.mode("overwrite").parquet(path)
    return path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=1_000_000)
    ap.add_argument(
        "--ops", type=str, default="", help="comma-list to run (default all)"
    )
    args = ap.parse_args()
    only = {o for o in args.ops.split(",") if o}

    # self-identifying host provenance (see bench.py): loadavg + a
    # fixed-work calibration spin at start/end
    from bench import _calibration_spin, _host_provenance

    host_start = _host_provenance(_calibration_spin())

    from pyspark.sql import functions as F

    from svs_spark.session import driver_java_opts, get_session

    spark = get_session(
        "corpus_bench",
        extra_conf={
            "spark.driver.extraJavaOptions": "-Xlog:disable "
            + driver_java_opts()
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    path = build_corpus(spark, args.n)
    gen_s = round(time.perf_counter() - t0, 2)

    docs = spark.read.parquet(path)
    docs.persist().count()

    from svs_spark.functions import text as T
    from svs_spark.operators import dedup as D
    from svs_spark.operators import sharding as SH

    timings: dict[str, float] = {"generate": gen_s}
    counts: dict[str, int] = {}

    def run(name, fn, warm: bool = True):
        if only and name not in only:
            return
        if warm:
            fn()
        t = time.perf_counter()
        counts[name] = fn()
        timings[name] = round(time.perf_counter() - t, 2)

    run(
        "exact_dedup",
        lambda: docs.groupBy(F.xxhash64("text"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .count(),
    )
    run(
        "minhash_lsh_pairs",
        lambda: D.minhash_lsh_pairs(
            docs, num_hashes=16, bands=4, jaccard_threshold=0.5
        ).count(),
    )
    run(
        "simhash48_pairs",
        lambda: D.simhash_pairs(docs, bits=48, max_hamming=4).count(),
    )
    # the capped production form of the 48-bit config: over-cap
    # (segment, value) buckets skipped (skipped mass reported below) —
    # on this 98%-duplicate corpus nearly the whole 24.9M-pair output
    # is mega-cluster mass, so the cap is what a real pipeline runs
    sim48_skip: dict = {}

    def simhash48_capped():
        sim48_skip.clear()
        return D.simhash_pairs(
            docs, bits=48, max_hamming=4, bucket_cap=2000,
            skip_report=sim48_skip,
        ).count()

    run("simhash48_pairs_cap2000", simhash48_capped)
    if sim48_skip:
        counts["simhash48_cap2000_skipped_buckets"] = sim48_skip[
            "skipped_buckets"
        ]
        counts["simhash48_cap2000_skipped_rows"] = sim48_skip["skipped_rows"]

    # the documented web-scale config: 4 × 16-bit segments ⇒ 65,536
    # bucket values per segment, so chance candidate collisions scale
    # as N²/65536 instead of N²/1024 (the 48-bit/h≤4 segments above are
    # 9-10 bits wide — fine to sf0.1, candidate-heavy at 1M docs)
    run(
        "simhash64_pairs_h3",
        lambda: D.simhash_pairs(docs, bits=64, max_hamming=3).count(),
    )
    # adversarial mega-cluster: 50k byte-identical docs spiked into the
    # corpus put C(50k,2) ≈ 1.25G pairs in four buckets — UNCAPPED this
    # run does not finish; the cap skips those buckets (reported) and
    # the rest of the corpus dedups at the normal 64-bit cost. This is
    # the case the per-bucket ceiling exists for; the 48-bit config's
    # cost above is uniform chance-collision mass (~1300-row buckets ×
    # thousands), which no cap can remove without killing recall — the
    # fix THERE is the 64-bit config (same pair set, ~20× faster).
    spike = docs.unionByName(
        spark.range(50_000).select(
            (F.col("id") + 10_000_000).alias("doc_id"),
            F.lit(
                "the exact same boilerplate page repeated fifty "
                "thousand times across the crawl"
            ).alias("text"),
        ).withColumn("source", F.lit("spike"))
        if "source" in docs.columns
        else spark.range(50_000).select(
            (F.col("id") + 10_000_000).alias("doc_id"),
            F.lit(
                "the exact same boilerplate page repeated fifty "
                "thousand times across the crawl"
            ).alias("text"),
        ),
        allowMissingColumns=True,
    )
    spike_skip: dict = {}

    def simhash64_spiked_capped():
        spike_skip.clear()
        return D.simhash_pairs(
            spike, bits=64, max_hamming=3, bucket_cap=2000,
            skip_report=spike_skip,
        ).count()

    run("simhash64_spiked_cap2000", simhash64_spiked_capped)
    if spike_skip:
        counts["simhash64_spike_skipped_buckets"] = spike_skip[
            "skipped_buckets"
        ]
        counts["simhash64_spike_skipped_rows"] = spike_skip["skipped_rows"]
    run(
        "dup_substring_stats",
        lambda: D.dup_substring_stats(docs, k=30, stride=10).count(),
    )
    run(
        "longest_dup_span",
        lambda: D.longest_dup_span_pow2(docs, min_len=16, max_len=256)
        .groupBy("max_dup_len")
        .count()
        .count(),
    )
    run(
        "block_rewrite",
        lambda: D.dedup_block_rewrite(docs, k=20)
        .select(F.sum(F.length("cleaned")))
        .collect()[0][0],
    )
    run(
        "pii_scrub_scan",
        lambda: docs.select(T.scrub_pii("text").alias("s"))
        .select(F.sum(F.length("s")))
        .collect()[0][0],
    )
    run(
        "rare_token_flagging",
        lambda: (
            lambda tok, f, tot: tok.join(F.broadcast(f), "w")
            .crossJoin(F.broadcast(tot))
            .groupBy("doc_id")
            .agg(
                F.sum(
                    F.when(F.col("c") * 30 < F.col("total"), 1).otherwise(0)
                ).alias("nr")
            )
            .count()
        )(
            docs.select(
                "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
            ),
            docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
            .groupBy("w")
            .agg(F.count("*").alias("c")),
            docs.select(
                F.sum(F.size(F.split(F.col("text"), " "))).alias("total")
            ),
        ),
    )
    def unigram_bits():
        toks = docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
        vocab = tf.groupBy("tok").agg(F.sum("tf").alias("c"))
        total = vocab.agg(F.sum("c").alias("total"))
        bits = lambda c: F.length(F.bin(c)) - F.lit(1)  # noqa: E731
        j = tf.join(F.broadcast(vocab), "tok").crossJoin(F.broadcast(total))
        return (
            j.groupBy("doc_id")
            .agg(
                F.sum("tf").alias("nt"),
                F.sum(
                    F.col("tf") * (bits(F.col("total")) - bits(F.col("c")))
                ).alias("sb"),
            )
            .select(F.expr("sb * 10 div nt").alias("q"))
            .groupBy("q")
            .count()
            .count()
        )

    run("unigram_logprob_bits", unigram_bits)

    tok = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    run(
        "balanced_shards_1024",
        lambda: SH.round_robin_shards(tok, 1024, "n_tokens")
        .groupBy("shard")
        .agg(F.sum("n_tokens"))
        .count(),
    )
    run(
        "token_budget_shards_100k",
        lambda: SH.token_budget_shards(tok, 100_000, "n_tokens")
        .groupBy("shard")
        .agg(F.sum("n_tokens"))
        .count(),
    )

    # -- sketch / pruning family (round-3 session 5) ------------------
    from svs_spark.operators.bloom import bloom_bitmap, bloom_prune
    from svs_spark.operators.sketch import (
        count_min,
        frequent_items,
        kll_quantiles,
    )

    run(
        "kll_doc_length_quantiles",
        lambda: kll_quantiles(
            docs.select(F.length("text").alias("v")), "v",
            [0.5, 0.9, 0.99], k=200,
        ).count(),
    )
    tokens = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("item")
    )
    run(
        "mg_frequent_tokens",
        lambda: frequent_items(tokens, "item", capacity=64).count(),
    )
    run(
        "count_min_tokens",
        lambda: count_min(tokens, "item", width=4096, depth=4).n,
    )

    def bloom_decontaminate():
        # tiny test split (0.1%) prunes the ~25M-shingle train side;
        # 5-gram hashes come from the vectorized polynomial-
        # decomposition kernel (the interpreted Column lambda was 10×
        # slower here — DEVNOTES invariant 5)
        base = docs.select("doc_id", "text").mapInPandas(
            D._signature_batch_kernel("doc_id", "text", 1, 5),
            schema="did long, hs array<long>, sig array<long>",
        )
        sh = base.select(
            F.col("did").alias("doc_id"),
            (F.col("did") % 1000 >= 999).alias("is_test"),
            F.explode("hs").alias("h"),
        ).persist()
        test_idx = sh.filter(F.col("is_test")).select("h").distinct()
        bitmap = bloom_bitmap(test_idx, "h", num_bits=1 << 23, num_hashes=4)
        kept = bloom_prune(
            sh.filter(~F.col("is_test")), "h", bitmap, 4
        ).join(test_idx, "h", "left_semi")
        out = kept.select("doc_id").distinct().count()
        sh.unpersist()
        return out

    run("bloom_decontaminate", bloom_decontaminate)

    # -- round-4 curation additions -----------------------------------
    # canonical-survivor pick on the 10-token leading snippet: on this
    # corpus every 50-variant template family shares its prefix, so the
    # op resolves ~n/50 groups of 50 — the apply-step at dedup scale
    def canonical_pick():
        toks = F.split(F.lower(F.col("text")), " ")
        keyed = docs.select(
            F.col("doc_id"),
            (F.col("doc_id") % 20).alias("source"),
            F.length("text").alias("n_chars"),
            F.xxhash64(F.concat_ws(" ", F.slice(toks, 1, 10))).alias("h"),
        )
        best = F.max(
            F.struct(
                F.col("n_chars").alias("nc"), (-F.col("doc_id")).alias("nd")
            )
        )
        return (
            keyed.groupBy("h")
            .agg(
                F.count("*").alias("group_size"),
                F.countDistinct("source").alias("n_sources"),
                F.sum("n_chars").alias("total_chars"),
                best.alias("best"),
            )
            .filter(F.col("group_size") > 1)
            .count()
        )

    run("dedup_canonical_pick", canonical_pick)

    # adjacent-pair counts (the BPE trainer's inner loop) over ~27
    # tokens/doc: intra-row struct transform, no join
    def bpe_pairs():
        tokd = docs.select(F.split(F.lower(F.col("text")), " ").alias("tk"))
        pairs = F.transform(
            F.sequence(F.lit(0), F.size(F.col("tk")) - 2),
            lambda i: F.struct(
                F.element_at(F.col("tk"), i + 1).alias("a"),
                F.element_at(F.col("tk"), i + 2).alias("b"),
            ),
        )
        return (
            tokd.filter(F.size(F.col("tk")) >= 2)
            .select(F.explode(pairs).alias("p"))
            .groupBy("p.a", "p.b")
            .count()
            .orderBy(F.desc("count"))
            .limit(20)
            .count()
        )

    run("bpe_merge_candidates", bpe_pairs)

    # per-source trigram novelty: first-occurrence agg + gram join on
    # one 8-byte-key exchange
    def novelty():
        toks = F.split(F.lower(F.col("text")), " ")
        sh = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                    F.element_at(toks, i + 3),
                ),
            )
        )
        ex = (
            docs.filter(F.size(toks) >= 3)
            .select(
                "doc_id",
                (F.col("doc_id") % 20).alias("source"),
                F.explode(sh).alias("g_raw"),
            )
            .select("doc_id", "source", F.xxhash64("g_raw").alias("g"))
        )
        from pyspark.sql import Window

        return (
            ex.withColumn(
                "first_doc", F.min("doc_id").over(Window.partitionBy("g"))
            )
            .groupBy("source")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
                ).alias("novel"),
            )
            .count()
        )

    run("ngram_novelty", novelty)

    # -- round-5 additions: lexical retrieval, TF-IDF pair mining, the
    # BPE trainer loop, Newton logistic regression, Mann-Whitney AUC --
    from svs_spark.operators import bpe as B
    from svs_spark.operators import lexical as LX
    from svs_spark.operators import logreg as LR
    from svs_spark.operators.evaluation import binary_auc

    # 'contact'/'done' appear in EVERY doc — full-corpus posting lists,
    # the worst case for the per-doc score aggregation
    run(
        "bm25_full_posting",
        lambda: LX.bm25_scores(docs, ("contact", "done", "nosuchterm"))
        .orderBy(F.desc("score"), F.desc("doc_id"))
        .limit(100)
        .count(),
    )

    def tfidf_pairs():
        # template tokens have df=50 (well under the 1000 hot cap); the
        # ubiquitous 'contact'/'done' (df=n) are dropped BY the cap —
        # candidate volume is the legitimate sum(df^2) of the template
        # family structure, the same mass minhash_lsh_pairs verifies
        w = LX.tfidf_weights(docs).persist()
        try:
            w.count()
            return LX.tfidf_cosine_pairs(w, threshold=0.5, limit=None).count()
        finally:
            w.unpersist()

    run("tfidf_cosine_pairs_t05", tfidf_pairs, warm=False)

    def bpe_8_merges():
        words = B.words_from_corpus(docs, "text").localCheckpoint(eager=True)
        merges, _ = B.bpe_train(words, n_merges=8, min_count=2)
        return len(merges)

    run("bpe_train_8merges", bpe_8_merges, warm=False)

    def logreg_fit():
        toks = F.split(F.lower(F.col("text")), " ")
        feats = docs.select(
            F.array(
                (F.length("text") / 1000.0).cast("double"),
                (F.size(toks) / 100.0).cast("double"),
                (F.size(F.array_distinct(toks)) / 100.0).cast("double"),
                (F.length(F.regexp_replace("text", "[a-z ]", "")) / 100.0)
                .cast("double"),
            ).alias("features"),
            ((F.col("doc_id") % 50) < 5).cast("double").alias("label"),
        )
        m = LR.fit(feats, dim=4, iters=3)
        return m["n"]

    run("logreg_newton_3it", logreg_fit, warm=False)

    run(
        "quality_auc_1m",
        lambda: binary_auc(
            docs.select(
                (F.col("doc_id") % 20).alias("source"),
                F.expr(
                    "CAST(length(text) * 1000 AS BIGINT)"
                    " DIV size(split(text, ' '))"
                ).alias("s"),
                ((F.col("doc_id") % 50) < 5).alias("y"),
            ),
            "s",
            "y",
            ["source"],
        ).count(),
    )

    # -- round-5 session 3: packing audit, KS drift, fuzzy decon ------
    def sequence_packing():
        from svs_spark.operators.sharding import bucketed_global_cumsum

        d = docs.select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
        )
        rng = d.agg(F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"))
        d2 = (
            d.crossJoin(F.broadcast(rng))
            .withColumn("_w", F.expr("(_hi - _lo) div 1024 + 1"))
            .withColumn("_b", F.expr("(doc_id - _lo) div _w"))
            .drop("_lo", "_hi", "_w")
        )
        cum = bucketed_global_cumsum(
            d2, F.col("_b"), [F.col("doc_id")], "n_tok", "cum"
        )
        spans = cum.select(
            F.expr("(cum - n_tok) div 512").alias("f"),
            F.expr("(cum - 1) div 512").alias("l"),
        )
        return (
            spans.select(F.explode(F.sequence("f", "l")).alias("win"))
            .groupBy("win")
            .agg(F.count("*").alias("dc"))
            .count()
        )

    run("sequence_packing_512", sequence_packing)

    def length_ks():
        from pyspark.sql.window import Window

        d = docs.select("source", F.length("text").alias("n_chars"))
        cnt = d.groupBy("source", "n_chars").agg(F.count("*").alias("c"))
        vals = cnt.groupBy("n_chars").agg(F.sum("c").alias("call"))
        srcs = cnt.groupBy("source").agg(F.sum("c").alias("n_s"))
        tot = vals.agg(F.sum("call").alias("N"))
        grid = (
            srcs.crossJoin(F.broadcast(vals))
            .join(cnt, ["source", "n_chars"], "left")
            .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
        )
        w = (
            Window.partitionBy("source")
            .orderBy("n_chars")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        g = grid.select(
            "source", "n_s", "n_chars",
            F.sum("c").over(w).alias("cums"),
            F.sum("call").over(w).alias("cumall"),
        ).crossJoin(F.broadcast(tot))
        wr = Window.partitionBy("source").orderBy(
            F.desc("dnum"), F.asc("n_chars")
        )
        return (
            g.withColumn(
                "dnum",
                F.abs(
                    F.col("cums") * F.col("N")
                    - F.col("cumall") * F.col("n_s")
                ),
            )
            .withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .count()
        )

    run("source_length_ks", length_ks)

    def fuzzy_decon():
        # 3-gram eval-containment screen, hashed shingles, 10% split
        toks = F.split(F.lower(F.col("text")), " ")
        sh = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 3),
                lambda i: F.xxhash64(
                    F.concat_ws(
                        " ",
                        F.element_at(toks, i + 1),
                        F.element_at(toks, i + 2),
                        F.element_at(toks, i + 3),
                    )
                ),
            )
        )
        is_test = (
            (F.col("doc_id") * F.lit(2654435761))
            % F.lit(4294967296) % F.lit(1000) >= 900
        )
        ex = docs.filter(F.size(toks) >= 3).select(
            "doc_id", is_test.alias("is_test"), F.explode(sh).alias("g")
        )
        n_eval = (
            ex.filter(F.col("is_test"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("c"))
            .select(F.col("doc_id").alias("id_eval"), "c")
        )
        # stop-shingle prune: this corpus plants 50 universal
        # "done suffix M" trigrams (df = n/50 each) whose buckets would
        # join 18k × 2k rows apiece — ~1.8B intermediate rows. A df cap
        # is the standard fix (same reasoning as the LSH hot-bucket
        # cap); dropping a shingle shared by >1000 docs costs no
        # decontamination signal (it identifies nothing).
        dfreq = ex.groupBy("g").agg(F.count("*").alias("df"))
        keep = dfreq.filter(F.col("df") <= 1000).select("g")
        exp = ex.join(keep, "g")
        tr = exp.filter(~F.col("is_test")).select(
            F.col("doc_id").alias("id_train"), "g"
        )
        ev = exp.filter(F.col("is_test")).select(
            F.col("doc_id").alias("id_eval"), "g"
        )
        return (
            tr.join(ev, "g")
            .groupBy("id_train", "id_eval")
            .agg(F.count("*").alias("n_shared"))
            .join(n_eval, "id_eval")
            .filter(F.col("n_shared").cast("double") / F.col("c") >= 0.8)
            .count()
        )

    run("decontaminate_fuzzy_dfcap1000", fuzzy_decon)

    def fuzzy_decon_minhash():
        # the banded bipartite screen — same split, J >= 0.5
        from svs_spark.operators.dedup import minhash_lsh_bipartite

        split = (
            (F.col("did") * F.lit(2654435761))
            % F.lit(4294967296) % F.lit(1000) >= 900
        )
        return minhash_lsh_bipartite(
            docs, right_side=split, jaccard_threshold=0.5
        ).count()

    run("decontaminate_minhash_lsh", fuzzy_decon_minhash)

    def fuzzy_decon_screened():
        # the registered composition (round-7: containment-preserving
        # PREFIX-FILTER screen, zero false negatives — the r6 MinHash
        # band screen thresholds on Jaccard and can drop asymmetric-
        # size leaks) -> exact containment verify on survivors only.
        # Must return the SAME count as decontaminate_fuzzy_dfcap1000
        # at a fraction of the cost (the verify g-join fans out per
        # candidate pair, not per corpus pair).
        from svs_spark.operators.dedup import containment_prefix_candidates

        toks = F.split(F.lower(F.col("text")), " ")
        sh = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 3),
                lambda i: F.xxhash64(
                    F.concat_ws(
                        " ",
                        F.element_at(toks, i + 1),
                        F.element_at(toks, i + 2),
                        F.element_at(toks, i + 3),
                    )
                ),
            )
        )
        is_test = (
            (F.col("doc_id") * F.lit(2654435761))
            % F.lit(4294967296) % F.lit(1000) >= 900
        )
        ex = docs.filter(F.size(toks) >= 3).select(
            "doc_id", is_test.alias("is_test"), F.explode(sh).alias("g")
        )
        n_eval = (
            ex.filter(F.col("is_test"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("c"))
            .select(F.col("doc_id").alias("id_eval"), "c")
        )
        g_df = ex.groupBy("g").agg(F.count("*").alias("_df")).persist()
        keep = g_df.filter(F.col("_df") <= 1000).select("g")
        exp = ex.join(keep, "g").persist()
        cands = containment_prefix_candidates(
            exp, g_df, n_eval, threshold=0.8
        ).persist()
        tr_arr = (
            exp.filter(~F.col("is_test"))
            .join(
                cands.select(F.col("id_train").alias("doc_id")),
                "doc_id", "left_semi",
            )
            .groupBy("doc_id")
            .agg(F.collect_list("g").alias("gs_t"))
            .select(F.col("doc_id").alias("id_train"), "gs_t")
        )
        ev_arr = (
            exp.filter(F.col("is_test"))
            .join(
                cands.select(F.col("id_eval").alias("doc_id")),
                "doc_id", "left_semi",
            )
            .groupBy("doc_id")
            .agg(F.collect_list("g").alias("gs_e"))
            .select(F.col("doc_id").alias("id_eval"), "gs_e")
        )
        try:
            return (
                cands.join(tr_arr, "id_train")
                .join(ev_arr, "id_eval")
                .select(
                    "id_train", "id_eval",
                    F.size(F.array_intersect("gs_t", "gs_e"))
                    .cast("long").alias("n_shared"),
                )
                .join(n_eval, "id_eval")
                .filter(F.col("n_shared").cast("double") / F.col("c") >= 0.8)
                .count()
            )
        finally:
            cands.unpersist()
            exp.unpersist()
            g_df.unpersist()

    run("decontaminate_fuzzy_screened", fuzzy_decon_screened)

    # --- the REALISTIC decontamination regime: a small benchmark set
    # (0.1% eval split — ~1k docs at 1M) against the full train corpus.
    # This is the shape the prefix screen exists for: the exact join's
    # eval-side explode is corpus-wide, while the screen's prefix index
    # is ~(1-t) of ONE THOUSAND docs' shingles. The 10% ops above are
    # the saturated worst case (90% of eval docs are planted dups), the
    # regime where no screen can beat the plain join.
    def _sparse_frames():
        toks = F.split(F.lower(F.col("text")), " ")
        sh = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 3),
                lambda i: F.xxhash64(
                    F.concat_ws(
                        " ",
                        F.element_at(toks, i + 1),
                        F.element_at(toks, i + 2),
                        F.element_at(toks, i + 3),
                    )
                ),
            )
        )
        is_test = (
            (F.col("doc_id") * F.lit(2654435761))
            % F.lit(4294967296) % F.lit(1000) >= 999
        )
        ex = docs.filter(F.size(toks) >= 3).select(
            "doc_id", is_test.alias("is_test"), F.explode(sh).alias("g")
        )
        n_eval = (
            ex.filter(F.col("is_test"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("c"))
            .select(F.col("doc_id").alias("id_eval"), "c")
        )
        g_df = ex.groupBy("g").agg(F.count("*").alias("_df"))
        keep = g_df.filter(F.col("_df") <= 1000).select("g")
        return ex.join(keep, "g"), g_df, n_eval

    def fuzzy_sparse_exact():
        exp, _, n_eval = _sparse_frames()
        tr = exp.filter(~F.col("is_test")).select(
            F.col("doc_id").alias("id_train"), "g"
        )
        ev = exp.filter(F.col("is_test")).select(
            F.col("doc_id").alias("id_eval"), "g"
        )
        return (
            tr.join(ev, "g")
            .groupBy("id_train", "id_eval")
            .agg(F.count("*").alias("n_shared"))
            .join(n_eval, "id_eval")
            .filter(F.col("n_shared").cast("double") / F.col("c") >= 0.8)
            .count()
        )

    run("decontaminate_fuzzy_sparse_exact", fuzzy_sparse_exact)

    def fuzzy_sparse_screened():
        from svs_spark.operators.dedup import containment_prefix_candidates

        exp, g_df, n_eval = _sparse_frames()
        exp = exp.persist()
        g_df = g_df.persist()
        cands = containment_prefix_candidates(
            exp, g_df, n_eval, threshold=0.8
        ).persist()
        tr_arr = (
            exp.filter(~F.col("is_test"))
            .join(
                cands.select(F.col("id_train").alias("doc_id")),
                "doc_id", "left_semi",
            )
            .groupBy("doc_id")
            .agg(F.collect_list("g").alias("gs_t"))
            .select(F.col("doc_id").alias("id_train"), "gs_t")
        )
        ev_arr = (
            exp.filter(F.col("is_test"))
            .join(
                cands.select(F.col("id_eval").alias("doc_id")),
                "doc_id", "left_semi",
            )
            .groupBy("doc_id")
            .agg(F.collect_list("g").alias("gs_e"))
            .select(F.col("doc_id").alias("id_eval"), "gs_e")
        )
        try:
            return (
                cands.join(tr_arr, "id_train")
                .join(ev_arr, "id_eval")
                .select(
                    "id_train", "id_eval",
                    F.size(F.array_intersect("gs_t", "gs_e"))
                    .cast("long").alias("n_shared"),
                )
                .join(n_eval, "id_eval")
                .filter(F.col("n_shared").cast("double") / F.col("c") >= 0.8)
                .count()
            )
        finally:
            cands.unpersist()
            exp.unpersist()
            g_df.unpersist()

    run("decontaminate_fuzzy_sparse_screened", fuzzy_sparse_screened)

    def bpe_encode_corpus():
        # train a small merge table on the vocab, then encode the FULL
        # corpus with it (the untimed half of the tokenizer story):
        # mapInPandas fold, per-batch factorize + executor-local cache
        from svs_spark.operators import bpe as B

        words = B.words_from_corpus(docs, "text")
        merges, _ = B.bpe_train(words, n_merges=32)
        enc = B.encode_df(docs.select("doc_id", "text"), "text", merges)
        return enc.select(F.sum(F.size("tokens"))).collect()[0][0]

    run("bpe_train32_encode_1m", bpe_encode_corpus, warm=False)

    _bpe_merges: list = []

    def bpe_train32_only():
        from svs_spark.operators import bpe as B

        words = B.words_from_corpus(docs, "text")
        merges, _ = B.bpe_train(words, n_merges=32)
        _bpe_merges.extend(merges)
        return len(merges)

    def bpe_encode_only():
        # encode the FULL corpus with the table trained above — the
        # r5 verdict's throughput target (<= 30 s at 1M) is for THIS
        # stage alone, the one that scales with corpus size
        from svs_spark.operators import bpe as B

        if not _bpe_merges:  # --ops selected encode without train
            words = B.words_from_corpus(docs, "text")
            _bpe_merges.extend(B.bpe_train(words, n_merges=32)[0])
        enc = B.encode_df(
            docs.select("doc_id", "text"), "text", _bpe_merges
        )
        return enc.select(F.sum(F.size("tokens"))).collect()[0][0]

    run("bpe_train32_only", bpe_train32_only, warm=False)
    run("bpe_encode_1m", bpe_encode_only, warm=False)

    def js_divergence_matrix():
        # source-pair JS divergence over unigram distributions: the
        # vocab-keyed inverted-index pair join; this corpus's ~1M-word
        # vocabulary with each token in <= 20 sources bounds the join
        # at #tokens x C(20,2)
        t = docs.select(
            "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        c = t.groupBy("source", "tok").agg(F.count("*").alias("c"))
        n = c.groupBy("source").agg(F.sum("c").alias("n"))
        a = c.select(F.col("source").alias("sa"), "tok", F.col("c").alias("ca"))
        b = c.select(F.col("source").alias("sb"), "tok", F.col("c").alias("cb"))
        na = n.select(F.col("source").alias("sa"), F.col("n").alias("na"))
        nb = n.select(F.col("source").alias("sb"), F.col("n").alias("nb"))
        j = (
            a.join(b, "tok")
            .filter(F.col("sa") < F.col("sb"))
            .join(F.broadcast(na), "sa")
            .join(F.broadcast(nb), "sb")
        )
        mix = F.col("ca").cast("double") * F.col("nb") + F.col("cb").cast(
            "double"
        ) * F.col("na")
        ta = F.round(
            F.lit(1e9) * (F.col("ca").cast("double") / F.col("na"))
            * F.log(F.lit(2.0) * F.col("ca") * F.col("nb") / mix)
        ).cast("long")
        return (
            j.groupBy("sa", "sb")
            .agg(F.sum(ta).alias("ta"), F.sum("ca").alias("sha"))
            .count()
        )

    run("source_js_divergence_matrix", js_divergence_matrix)

    def rank_fusion_top100():
        # three two-level global ranks + integer RRF over 1M docs
        from svs_spark.operators.sharding import (
            ranked_asc_by_value,
            ranked_desc_by_value,
        )

        d = docs.select(
            "doc_id",
            F.length("text").alias("n_chars"),
            F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        ).withColumn("cpt", F.expr("n_chars * 1000 div n_tok"))
        r1 = ranked_asc_by_value(d, "cpt", "doc_id", rank_name="r1").select(
            "doc_id", "r1"
        )
        r2 = ranked_desc_by_value(
            d, "n_chars", "doc_id", rank_name="r2"
        ).select("doc_id", "r2")
        r3 = ranked_asc_by_value(
            d, "n_tok", "doc_id", rank_name="r3"
        ).select("doc_id", "r3")
        return (
            r1.join(r2, "doc_id")
            .join(r3, "doc_id")
            .withColumn(
                "rrf",
                F.expr(
                    "1000000000 div (60 + r1) + 1000000000 div (60 + r2)"
                    " + 1000000000 div (60 + r3)"
                ),
            )
            .orderBy(F.desc("rrf"), F.asc("doc_id"))
            .limit(100)
            .count()
        )

    run("rank_fusion_top100", rank_fusion_top100)

    # --- curation-audit pack at 1M (round-7 session 2) ---

    def gopher_rules():
        from svs_spark.operators import lexical as LX

        return (
            docs.filter(F.length("text") > 0)
            .select("source", *LX.gopher_rule_flags("text"))
            .groupBy("source")
            .agg(*LX.gopher_flag_aggs())
            .count()
        )

    run("gopher_quality_flags", gopher_rules)

    def domain_reweight():
        toks = docs.filter(F.length("text") > 0).select(
            "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        tf = toks.groupBy("source", "tok").agg(F.count("*").alias("tf"))
        vocab = tf.groupBy("tok").agg(F.sum("tf").alias("c"))
        total = vocab.agg(F.sum("c").alias("total"))
        j = tf.join(F.broadcast(vocab), "tok").crossJoin(F.broadcast(total))
        return (
            j.groupBy("source")
            .agg(
                F.sum("tf").alias("n_tokens"),
                F.expr(
                    "sum(tf * ((length(bin(total)) - 1)"
                    " - (length(bin(c)) - 1))) * 10 div sum(tf)"
                ).alias("decibits_per_token"),
            )
            .count()
        )

    run("domain_reweighting", domain_reweight)

    # --- retrieval-eval pack at 1M (round-7 session 3) ---

    def ngram_diversity():
        # registered distinct_ngram_diversity shape: per-(source, n)
        # distinct/total over xxhash64'd grams, n = 1, 2, 3
        base = docs.select(
            (F.col("doc_id") % 20).alias("source"),
            F.split(F.lower("text"), " ").alias("t"),
        )

        def gram_frame(n: int):
            b = base.filter(F.size("t") >= n)
            if n == 1:
                g = F.explode("t").alias("gram")
            else:
                parts = ", ".join(
                    f"element_at(t, i + {j})" for j in range(n)
                )
                g = F.explode(
                    F.expr(
                        f"transform(sequence(1, size(t) - {n - 1}),"
                        f" i -> concat_ws(' ', {parts}))"
                    )
                ).alias("gram")
            return b.select("source", F.lit(n).alias("n"), g).select(
                "source", "n", F.xxhash64("gram").alias("gh")
            )

        grams = (
            gram_frame(1).unionByName(gram_frame(2)).unionByName(gram_frame(3))
        )
        return (
            grams.groupBy("source", "n")
            .agg(
                F.count("*").alias("total_ngrams"),
                F.countDistinct("gh").alias("distinct_ngrams"),
            )
            .count()
        )

    run("distinct_ngram_diversity", ngram_diversity)

    def ngram_diversity_approx():
        # the 100 TB path: HLL approx_count_distinct (rsd 2%) replaces
        # the exact distinct — partials are constant-size registers, so
        # the shuffle carries sketches instead of the full gram keyspace
        base = docs.select(
            (F.col("doc_id") % 20).alias("source"),
            F.split(F.lower("text"), " ").alias("t"),
        )

        def gram_frame(n: int):
            b = base.filter(F.size("t") >= n)
            if n == 1:
                g = F.explode("t").alias("gram")
            else:
                parts = ", ".join(
                    f"element_at(t, i + {j})" for j in range(n)
                )
                g = F.explode(
                    F.expr(
                        f"transform(sequence(1, size(t) - {n - 1}),"
                        f" i -> concat_ws(' ', {parts}))"
                    )
                ).alias("gram")
            return b.select("source", F.lit(n).alias("n"), g).select(
                "source", "n", F.xxhash64("gram").alias("gh")
            )

        grams = (
            gram_frame(1).unionByName(gram_frame(2)).unionByName(gram_frame(3))
        )
        return (
            grams.groupBy("source", "n")
            .agg(
                F.count("*").alias("total_ngrams"),
                F.approx_count_distinct("gh", rsd=0.02).alias(
                    "distinct_ngrams"
                ),
            )
            .count()
        )

    run("distinct_ngram_diversity_approx", ngram_diversity_approx)

    print(
        json.dumps(
            {
                "metric": "corpus_ops_1m_warm",
                "n_docs": args.n,
                "unit": "sec",
                "timings": timings,
                "result_counts": counts,
                "host": {
                    "start": host_start,
                    "end": _host_provenance(_calibration_spin()),
                },
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
