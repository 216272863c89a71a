"""Code-point semantics across the text kernels on a multilingual
corpus — the round-6 verdict's one genuine correctness-coverage hole.

The reference stores arbitrary Python ``str`` and slices by code point
implicitly (reference src/svs/kb.py:85-92 TEXT column); a distributed
twin must agree even though three engines touch the text: Spark
(UTF8String: length/substr/split/ascii), Python workers (str), and the
DuckDB oracles (length/substring/ord). These tests pin that all three
count CODE POINTS — one unit per astral-plane emoji (🎉, 𝄞), one per
CJK char, one per combining mark (e + U+0301 is TWO units), one per
ZWJ-sequence member — and that every text kernel (chunking, chunked KB
ingest, trigram shingles, fuzzy decontamination, Rabin-Karp span
ladder, BPE) produces identical results under them.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from svs_spark.operators.chunking import chunk_text_df
from tools.parity_debug import duck_rows, row_findings, spark_rows

# One string per script family; ALL of these hit a non-trivial unit
# question: astral emoji are 2 UTF-16 units / 4 UTF-8 bytes, combining
# marks are separate code points glued into one grapheme, ZWJ family
# emoji are 7 code points rendering as one glyph.
MULTI = {
    "cjk": "你好世界 这是 一个 测试 文档 语言 模型 训练 数据 去重 样本 文本",
    "emoji": "data 🎉 quality 𝄞 check 👩‍👩‍👧‍👦 emoji ☂ text 🌍 end",
    "combining": "café noël vis-à-vis résumé dejà vu done",
    "arabic": "مرحبا بالعالم هذا نص تجريبي للنموذج اللغوي الكبير جدا",
    "devanagari": "नमस्ते दुनिया यह एक परीक्षण दस्तावेज़ है धन्यवाद",
    "mixed": "Hello 世界 🌍 café مرحبا नमस्ते 𝄞 done",
}


def _plant(spark, tmp_path, rows):
    """Write a documents.parquet with the full testdata schema so any
    registered query/oracle pair can run against it."""
    docs = spark.createDataFrame(
        [(i, t, "xx", "planted", None if t is None else len(t))
         for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def _duck_on(path):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{path}/documents.parquet/*.parquet'"
    )
    return con


def _oracle_parity(spark, path, qname, digits=6):
    """Run ``qname`` on the planted corpus in Spark and DuckDB, assert
    cell agreement (floats at ``digits`` places, exact for None) with
    the shared cross-engine compare, return the sorted columns and
    rows."""
    from svs_spark.queries import queries, oracle_sql

    cols, got = spark_rows(queries()[qname](spark, path), digits)
    con = _duck_on(path)  # a relation does not keep its connection open
    findings = row_findings(
        cols, got, *duck_rows(con.sql(oracle_sql()[qname]), digits)
    )
    assert not findings, (qname, findings)
    return cols, got


class TestEngineAgreement:
    """The primitives every kernel builds on must agree with Python
    ``len``/slicing on every script family."""

    def test_spark_length_substr_split_are_code_points(self, spark):
        df = spark.createDataFrame(list(MULTI.items()), "k string, s string")
        rows = {
            r.k: r
            for r in df.select(
                "k",
                F.length("s").alias("l"),
                F.substring("s", 3, 5).alias("sub"),
                F.split("s", " ").alias("toks"),
                F.ascii(F.substring("s", 1, 1)).alias("first_cp"),
                F.split("s", "").alias("chars"),
            ).collect()
        }
        for k, s in MULTI.items():
            r = rows[k]
            assert r.l == len(s), k
            assert r.sub == s[2:7], k
            assert r.toks == s.split(" "), k
            assert r.first_cp == ord(s[0]), k
            # split('') must yield code points, never UTF-16 halves
            assert r.chars == list(s), k

    def test_duckdb_length_substring_ord_are_code_points(self):
        con = duckdb.connect()
        for k, s in MULTI.items():
            l, sub, first = con.execute(
                "SELECT length(?), substring(?, 3, 5),"
                " ascii(substring(?, 1, 1))", [s, s, s]
            ).fetchone()
            assert l == len(s), k
            assert sub == s[2:7], k
            assert first == ord(s[0]), k
            toks = con.execute(
                "SELECT string_split(?, ' ')", [s]
            ).fetchone()[0]
            assert toks == s.split(" "), k


class TestChunkingMultilingual:
    def test_chunk_boundaries_match_python_slicing(self, spark):
        size, stride = 10, 7
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(MULTI.values())],
            "doc_id long, text string",
        )
        got = {
            (r.parent_id, r.chunk_idx): r.chunk_text
            for r in chunk_text_df(df, size=size, stride=stride).collect()
        }
        for i, s in enumerate(MULTI.values()):
            n = 1 if len(s) <= size else 1 + -(-(len(s) - size) // stride)
            for j in range(n):
                assert got[(i, j)] == s[j * stride : j * stride + size], (
                    i, j, s,
                )
            assert (i, n) not in got

    def test_chunked_ingest_reconstructs_multilingual_text(
        self, spark, tmp_path
    ):
        from svs_spark.kb import KnowledgeBase
        from svs_spark.functions.embeddings import make_mock_embeddings_func

        kb = KnowledgeBase(
            spark,
            str(tmp_path / "kb_uni"),
            embedding_func=make_mock_embeddings_func(),
            embedding_params={"provider": "mock"},
            force_fresh_db=True,
        )
        # a long CJK+emoji body: 60 distinct 5-codepoint groups
        body = "".join(f"第{i:02d}节🎉" for i in range(60))
        assert len(body) == 300  # 🎉 counts once despite being astral
        df = spark.createDataFrame([(7, body)], "doc_id long, text string")
        n_parents, n_chunks = kb.add_chunked_documents_df(
            df, chunk_size=100, chunk_stride=80
        )
        assert (n_parents, n_chunks) == (1, 4)  # ceil((300-100)/80)+1
        kids = sorted(
            kb.query_children(7), key=lambda k: body.index(k["text"][:10])
        )
        # stitch-back invariant in code points
        rebuilt = kids[0]["text"] + "".join(
            k["text"][100 - 80:] for k in kids[1:]
        )
        assert rebuilt == body

    def test_rag_chunk_oracle_parity_multilingual(self, spark, tmp_path):
        """The registered query vs its own DuckDB oracle on a planted
        multilingual corpus — the agreement rag_chunk_materialized's
        docstring used to only claim for ASCII."""
        path = _plant(
            spark, tmp_path,
            [(i, (s + " ") * 40) for i, s in enumerate(MULTI.values())],
        )
        _oracle_parity(spark, path, "rag_chunk_materialized", digits=None)


class TestNgramAndSpanMultilingual:
    def test_trigram_jaccard_oracle_parity(self, spark, tmp_path):
        """Shingle COUNTS and pair intersections must agree between the
        Spark trigram index (split+transform, xxhash64'd) and the
        DuckDB string_split oracle on multilingual text."""
        texts = list(MULTI.values())
        # two near-dup CJK docs so the pair output is non-empty
        rows = [(i, t) for i, t in enumerate(texts)]
        rows.append((100, MULTI["cjk"] + " 额外 词语 三个"))
        rows.append((101, MULTI["mixed"]))
        path = _plant(spark, tmp_path, rows)
        _, got = _oracle_parity(spark, path, "ngram_jaccard_pairs")
        assert got, "planted near-dups must produce pairs"

    def test_decontaminate_fuzzy_multilingual_leak(self, spark, tmp_path):
        """A CJK eval doc embedded in a much larger CJK train doc: the
        prefix screen + exact verify must find it and agree with the
        unscreened exact join (code-point shingling on both sides).
        Knuth-split facts: doc_id 3 is eval; 1, 4 are train."""
        from svs_spark.queries import queries
        from tests.test_decontamination import _exact_containment, _rows

        eval_body = "模型 训练 数据 去重 检查 泄漏 测试 基准"
        filler = " ".join(f"词{i:03d} 符{i:03d}" for i in range(120))
        rows = [
            (3, eval_body),
            (1, filler + " " + eval_body + " " + filler),
            (4, "千 差 万 别 的 训练 文本 没有 公共 三元组 窗口 重叠"),
        ]
        path = _plant(spark, tmp_path, rows)
        out = _rows(queries()["decontaminate_fuzzy"](spark, path))
        want = _rows(_exact_containment(spark, path))
        assert out == want
        flagged = {(a, b) for a, b, _, _ in out}
        assert (1, 3) in flagged
        assert (4, 3) not in flagged

    def test_longest_dup_span_oracle_parity(self, spark, tmp_path):
        """The Rabin-Karp ladder seeds from per-character code points
        (Spark ascii ≡ DuckDB ord); a 64-codepoint CJK+emoji span
        planted in two docs must be found at the same pow2 length by
        both engines."""
        span = "".join(f"共{i:02d}享🎉" for i in range(13))  # 65 code points
        rows = [
            (1, "前缀 开头 " + span + " 后缀 文字 填充 一些 内容"),
            (2, "另一 文档 不同 开头 " + span + " 不同 结尾 这里"),
            (3, MULTI["arabic"]),
            (4, MULTI["devanagari"]),
        ]
        path = _plant(spark, tmp_path, rows)
        cols, got = _oracle_parity(
            spark, path, "longest_dup_span", digits=None
        )
        by_doc = {t[cols.index("doc_id")]: t for t in got}
        li = cols.index("max_dup_len")
        assert by_doc[1][li] == 64 and by_doc[2][li] == 64


class TestBpeMultilingual:
    def test_train_matches_reference_on_multilingual_vocab(self, spark):
        """The JVM-regex merge kernel must learn the identical merge
        sequence as the pure-Python Sennrich twin when symbols are CJK
        chars, astral emoji, and combining marks — split('') must
        yield code points and re.escape'd symbols must stay literal in
        Java regex."""
        from svs_spark.operators import bpe as B
        from tests.test_bpe import ref_train

        words = {
            "训练": 9, "训练数据": 7, "数据": 8, "数据集": 5,
            "🎉派对🎉": 6, "🎉派": 4, "café": 6, "cafés": 4,
            "𝄞music𝄞": 3, "नमस्ते": 5,
        }
        wdf = spark.createDataFrame(
            list(words.items()), "word string, cnt long"
        )
        got_merges, got_vocab = B.bpe_train(wdf, n_merges=12, min_count=2)
        want_merges, want_vocab = ref_train(words, 12, min_count=2)
        assert got_merges == want_merges
        got_final = {
            tuple(r["sym"]): r["cnt"] for r in got_vocab.collect()
        }
        assert got_final == want_vocab

    def test_encode_multilingual_roundtrip(self, spark):
        """encode_df over multilingual words: tokens concatenate back
        to word+END, and the driver-side bpe_encode agrees with the
        distributed kernel."""
        from svs_spark.operators import bpe as B
        from tests.test_bpe import ref_train

        words = {"训练": 9, "训练数据": 7, "数据": 8, "🎉派对🎉": 6}
        merges, _ = ref_train(words, 8, min_count=2)
        df = spark.createDataFrame(
            [(w,) for w in words], "word string"
        )
        out = {
            r["word"]: r["tokens"]
            for r in B.encode_df(df, "word", merges).collect()
        }
        for w in words:
            assert "".join(out[w]) == w + B.END, w
            assert out[w] == B.bpe_encode(w, merges), w


def test_script_mix_profile_multilingual(spark, tmp_path):
    """The registered script-mix profile vs its own oracle on a planted
    multilingual corpus — every script class non-zero (the sf corpora
    are ASCII, so this is where the CJK/Arabic/Devanagari legs are
    load-bearing), plus hand-computed truth for one source."""
    rows = [(i, s) for i, s in enumerate(MULTI.values())]
    rows.append((50, "pure ascii doc"))
    path = _plant(spark, tmp_path, rows)
    cols, got = _oracle_parity(spark, path, "script_mix_profile")
    # hand truth: all planted docs share source='planted'
    row = {c: v for c, v in zip(cols, got[0])}
    texts = [t for _, t in rows]
    assert row["n_docs"] == len(texts)
    assert row["total_chars"] == sum(len(t) for t in texts)
    assert row["cjk_chars"] == sum(
        1 for t in texts for ch in t if 0x4E00 <= ord(ch) <= 0x9FFF
    )
    assert row["arabic_chars"] == sum(
        1 for t in texts for ch in t if 0x0600 <= ord(ch) <= 0x06FF
    )
    assert row["devanagari_chars"] == sum(
        1 for t in texts for ch in t if 0x0900 <= ord(ch) <= 0x097F
    )
    assert row["cjk_chars"] > 0
    assert row["arabic_chars"] > 0
    assert row["devanagari_chars"] > 0
    assert row["ascii_chars"] == sum(
        1 for t in texts for ch in t if ord(ch) < 128
    )


def test_nfc_audit_multilingual(spark, tmp_path):
    """NFC audit vs its oracle on a planted corpus mixing NFD and NFC
    forms — Python unicodedata (Spark kernel) and DuckDB's utf8proc
    nfc_normalize must agree on which docs are unnormalized and how
    many code points composition removes."""
    import unicodedata

    nfd = unicodedata.normalize("NFD", "café noël résumé")  # decomposed
    rows = [
        (1, nfd),                                  # NFD: 3 docs' worth of marks
        (2, unicodedata.normalize("NFC", nfd)),    # same text, composed
        (3, "plain ascii"),
        (4, MULTI["cjk"]),                         # CJK is NFC already
        (5, nfd + " " + MULTI["mixed"]),
    ]
    path = _plant(spark, tmp_path, rows)
    cols, got = _oracle_parity(
        spark, path, "nfc_normalization_audit", digits=None
    )
    row = {c: v for c, v in zip(cols, got[0])}
    texts = [t for _, t in rows]
    assert row["n_docs"] == 5
    assert row["n_not_nfc"] == sum(
        1 for t in texts if not unicodedata.is_normalized("NFC", t)
    )
    assert row["n_not_nfc"] >= 2                   # docs 1 and 5 at least
    assert row["codepoints_saved"] == sum(
        len(t) - len(unicodedata.normalize("NFC", t)) for t in texts
    )
    assert row["codepoints_saved"] > 0


@pytest.mark.parametrize(
    "qname",
    [
        "simhash_pairs",       # per-char polynomial token hash -> bit votes
        "fingerprint_docs",    # rolling polynomial doc fingerprint
        "winnow_pairs",        # winnowing window minima over token hashes
        "token_stats",         # tokenization counts
        "lang_id_counts",      # n-gram language heuristic
        "embed_and_retrieve",  # whole-text polynomial hash -> embedding
        "minhash_lsh_dedup",   # shingle hashes -> MinHash bands -> Jaccard
    ],
)
def test_hash_kernel_oracle_parity_multilingual(spark, tmp_path, qname):
    """Every token/char-hash kernel (the SimHash vote hash, document
    fingerprints, winnowing minima, token counts, lang-ID) must agree
    with its DuckDB oracle on multilingual text: both engines fold
    per-CODE-POINT (Spark split('') ≡ DuckDB string_split(x, '') ≡
    Python list(str), probed incl. astral emoji). Near-identical CJK
    docs are planted so pair-emitting queries have non-empty output."""
    rows = [(i, t) for i, t in enumerate(MULTI.values())]
    # near-dups for the pair queries: one token changed; the long
    # NON-repeating shared CJK run gives winnowing enough distinct
    # shared window-minima to clear its >=8-print emission threshold
    long_cjk = " ".join(
        chr(0x4E00 + i) + chr(0x4E00 + i + 1) for i in range(100)
    )
    rows.append((100, MULTI["cjk"]))
    rows.append((101, MULTI["cjk"].replace("样本", "样例")))
    rows.append((102, MULTI["emoji"]))
    rows.append((103, long_cjk + " 结尾 专属 标记"))
    rows.append((104, long_cjk + " 另一 结尾 标志"))
    path = _plant(spark, tmp_path, rows)
    _, got = _oracle_parity(spark, path, qname)
    assert got, f"{qname}: planted corpus must produce rows"


@pytest.mark.parametrize(
    "qname", ["minhash_lsh_dedup", "simhash_pairs", "winnow_pairs"]
)
def test_null_text_oracle_parity(spark, tmp_path, qname):
    """A NULL ``text`` cell must not crash the Arrow hash kernels:
    MinHash and winnowing skip the doc (the oracles' ``WHERE
    len(string_split(...)) >= k`` drops it), SimHash gives it signature
    0 (its Column spec and oracle both fold an empty vote to 0), so it
    pairs with every doc whose signature has few set bits."""
    long_cjk = " ".join(
        chr(0x4E00 + i) + chr(0x4E00 + i + 1) for i in range(100)
    )
    rows = [
        (1, long_cjk + " 结尾 专属 标记"),
        (2, None),
        (3, long_cjk + " 另一 结尾 标志"),
        (4, "a"),       # one token: below every shingle/winnow minimum
        (5, ""),        # empty, not null: one empty token
        (6, "a b c d"),  # its 32 bit votes all tie or lose: signature 0
    ]
    path = _plant(spark, tmp_path, rows)
    _, got = _oracle_parity(spark, path, qname)
    assert got, f"{qname}: planted corpus must produce rows"
    if qname == "simhash_pairs":
        # (hamming, id_a, id_b): the null doc's 0 signature takes part
        assert (0, 2, 6) in got


def test_tokenizer_fertility_multilingual(spark, tmp_path):
    """Fertility query vs oracle on the planted multilingual corpus:
    every script class appears, the CASE tie-order matches between
    Java regex and RE2, and the CJK class shows the whitespace-
    tokenizer pathology (far more chars per token than latin)."""
    rows = [(i, t) for i, t in enumerate(MULTI.values())]
    rows.append((50, "plain ascii doc with several small words"))
    rows.append((51, "你好世界这是一个没有空格的长中文句子用来测试"))  # no spaces
    path = _plant(spark, tmp_path, rows)
    cols, got = _oracle_parity(spark, path, "tokenizer_fertility_by_script")
    classes = {t[cols.index("script_class")] for t in got}
    assert classes == {"cjk", "arabic", "devanagari", "latin"}
    by_class = {t[cols.index("script_class")]: t for t in got}

    # hand truth for the cjk class (docs 0/spaced and 51/no-space):
    def counts(lo, hi, t):
        return sum(1 for ch in t if lo <= ord(ch) <= hi)

    cjk_docs = [
        t for _, t in rows
        if counts(0x4E00, 0x9FFF, t) > 0
        and counts(0x4E00, 0x9FFF, t) >= counts(0x0600, 0x06FF, t)
        and counts(0x4E00, 0x9FFF, t) >= counts(0x0900, 0x097F, t)
    ]
    row = {c: v for c, v in zip(cols, by_class["cjk"])}
    assert row["n_docs"] == len(cjk_docs)
    assert row["total_chars"] == sum(len(t) for t in cjk_docs)
    assert row["total_tokens"] == sum(len(t.split(" ")) for t in cjk_docs)
    # the unsegmented doc 51 is 1 token of 22 chars — the whitespace-
    # tokenizer pathology the per-class fertility exposes
    assert row["chars_per_token"] > 4.0


def test_gopher_flags_multilingual_parity(spark, tmp_path):
    """The Gopher rule gate vs its own DuckDB oracle on multilingual
    text: an unsegmented CJK doc fires ALL FIVE rules (one giant
    'word' -> word-count + mean-word-length fail; CJK chars are
    non-[A-Za-z0-9 ] -> symbol-ratio fail; no Latin letter -> alpha
    fail; no English stopwords -> stopword fail), while an emoji-mixed
    English doc passes every rule (emoji are code points, not symbols
    enough to trip 0.1) — both engines must agree cell-exactly."""
    from svs_spark.queries import queries, oracle_sql

    rows = [
        (1, "你好世界这是一个测试文档没有空格"),        # all five rules fire
        (2, "the cat 🐱🐱🐱 and dog play here often"),   # passes all
        (3, "मानक हिन्दी और the of and with that tests"),  # devanagari mix
    ]
    path = _plant(spark, tmp_path, rows)
    df = queries()["gopher_quality_flags"](spark, path)
    got = sorted(tuple(r) for r in df.collect())
    con = _duck_on(path)
    res = con.sql(oracle_sql()["gopher_quality_flags"])
    assert [f.lower() for f in res.columns] == [c.lower() for c in df.columns]
    want = sorted(tuple(row) for row in res.fetchall())
    assert got == want
    r = {c: v for c, v in zip(df.columns, got[0])}
    assert r["n_docs"] == 3
    # doc 1 fails everything; docs 2-3 decide the per-rule remainders
    assert r["fail_word_count"] >= 1 and r["fail_symbol_ratio"] >= 1
    assert r["fail_alpha_frac"] >= 1 and r["fail_mean_word_len"] >= 1
    assert r["n_pass"] == 1  # only the emoji-English doc survives
