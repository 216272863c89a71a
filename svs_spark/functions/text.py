"""Text-analysis column expressions for LLM-data-pipeline work.

Language-ID, quality scoring, token counting, and document
fingerprinting, all as JVM-side Column expressions (no Python UDFs in
the hot path — these run inside whole-stage codegen over a 100 TB scan).

Design constraint: every function here is *also* expressible in ANSI-ish
SQL with identical semantics (replace/length arithmetic, left-to-right
integer folds) so the DuckDB oracle in ``__spark_entry__.py`` can
hash-match results exactly. Avoid engine-specific regex semantics in
anything the correctness gate covers.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/stopword heuristic.
# Counting is done on ' '||lower(text)||' ' so word boundaries are spaces.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " is "],
    "es": [" el ", " la ", " los ", " es "],
    "de": [" der ", " die ", " und ", " ist "],
    "fr": [" le ", " les ", " et ", " est "],
}

ENGLISH_STOPWORDS: list[str] = [
    " the ", " a ", " an ", " and ", " or ", " of ", " to ", " in ",
    " is ", " it ", " that ", " for ", " on ", " with ", " as ",
]

FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_BASE = 31


# --- Spark-SQL string twins -------------------------------------------------
# Each public function below returns F.expr(<one SQL string>) when given a
# column NAME: the Column-builder forms spend hundreds of py4j round-trips
# per call constructing the identical expression tree node by node (round-9
# profiling: detect_language alone cost ~0.5 s of driver time per query
# build). The SQL text is generated from the SAME constants, the arithmetic
# is identical, and tests/test_text_sql_twins.py pins Column ≡ expr
# equality cell-for-cell. Column inputs keep the original builder path.


def _sql_padded_lower(col: str) -> str:
    return f"concat(' ', lower({col}), ' ')"


def _sql_count_occ(expr: str, needle: str) -> str:
    esc = needle.replace("'", "''")
    return (
        f"CAST((length({expr}) - length(replace({expr}, '{esc}', '')))"
        f" / {len(needle)} AS BIGINT)"
    )


def _sql_ws_token_count(col: str) -> str:
    t = f"trim({col})"
    return (
        f"(CASE WHEN length({t}) = 0 THEN CAST(0 AS BIGINT) "
        f"ELSE {_sql_count_occ(t, ' ')} + 1 END)"
    )


def _sql_lang_score(col: str, lang: str) -> str:
    p = _sql_padded_lower(col)
    return (
        "(CAST(0 AS BIGINT) + "
        + " + ".join(_sql_count_occ(p, m) for m in LANG_MARKERS[lang])
        + ")"
    )


def _sql_detect_language(col: str) -> str:
    ordered = ["en", "es", "de", "fr"]
    scores = {lang: _sql_lang_score(col, lang) for lang in ordered}
    clauses = []
    for lang in ordered:
        conds = [f"{scores[lang]} > 0"]
        for other in ordered:
            if other == lang:
                continue
            op = ">" if ordered.index(other) < ordered.index(lang) else ">="
            conds.append(f"{scores[lang]} {op} {scores[other]}")
        clauses.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "(CASE " + " ".join(clauses) + " ELSE 'und' END)"


def _sql_stopword_ratio(col: str) -> str:
    p = _sql_padded_lower(col)
    hits = "(CAST(0 AS BIGINT) + " + " + ".join(
        _sql_count_occ(p, sw) for sw in ENGLISH_STOPWORDS
    ) + ")"
    toks = _sql_ws_token_count(col)
    return (
        f"(CASE WHEN {toks} > 0 THEN CAST({hits} AS DOUBLE) / {toks} "
        f"ELSE CAST(0.0 AS DOUBLE) END)"
    )


def _sql_punct_ratio(col: str) -> str:
    stripped = col
    for p in [".", ",", ";", ":", "!", "?"]:
        stripped = f"replace({stripped}, '{p}', '')"
    return (
        f"(CASE WHEN length({col}) > 0 THEN "
        f"CAST(length({col}) - length({stripped}) AS DOUBLE) / length({col}) "
        f"ELSE CAST(0.0 AS DOUBLE) END)"
    )


def _sql_quality_score(col: str) -> str:
    toks = _sql_ws_token_count(col)
    len_term = f"least(CAST(1.0 AS DOUBLE), CAST({toks} AS DOUBLE) / CAST(100.0 AS DOUBLE))"
    sw_term = f"least(CAST(1.0 AS DOUBLE), CAST(4.0 AS DOUBLE) * {_sql_stopword_ratio(col)})"
    punct_term = (
        f"(CAST(1.0 AS DOUBLE) - least(CAST(1.0 AS DOUBLE), "
        f"CAST(5.0 AS DOUBLE) * {_sql_punct_ratio(col)}))"
    )
    return (
        f"(CAST(0.4 AS DOUBLE) * {len_term} + CAST(0.4 AS DOUBLE) * {sw_term}"
        f" + CAST(0.2 AS DOUBLE) * {punct_term})"
    )


def _padded_lower(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.concat(F.lit(" "), F.lower(c), F.lit(" "))


def count_occurrences(text: Column | str, needle: str) -> Column:
    """Number of (possibly overlap-free) occurrences of ``needle``.

    Implemented as (len(t) - len(replace(t, needle, ''))) / len(needle):
    pure arithmetic, byte-identical across engines.
    """
    c = F.col(text) if isinstance(text, str) else text
    return (
        (F.length(c) - F.length(F.replace(c, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def lang_score(text: Column | str, lang: str) -> Column:
    """Total marker-stopword hits for one language over padded lower text."""
    padded = _padded_lower(text)
    score = F.lit(0).cast("long")
    for marker in LANG_MARKERS[lang]:
        score = score + count_occurrences(padded, marker)
    return score


def detect_language(text: Column | str) -> Column:
    """Heuristic language ID: argmax of marker-stopword counts.

    Deterministic tie-break: languages are compared in the fixed order
    en > es > de > fr (first max wins); all-zero → 'und' (undetermined).
    """
    if isinstance(text, str):
        return F.expr(_sql_detect_language(f"`{text}`"))
    scores = {lang: lang_score(text, lang) for lang in LANG_MARKERS}
    ordered = ["en", "es", "de", "fr"]
    result = F.lit("und")
    # Build CASE from last to first so earlier languages take precedence.
    for lang in reversed(ordered):
        cond = scores[lang] > 0
        for other in ordered:
            if other == lang:
                continue
            # strict > for languages earlier in order, >= for later ones
            if ordered.index(other) < ordered.index(lang):
                cond = cond & (scores[lang] > scores[other])
            else:
                cond = cond & (scores[lang] >= scores[other])
        result = F.when(cond, F.lit(lang)).otherwise(result)
    return result


def whitespace_token_count(text: Column | str) -> Column:
    """Token count by single-space splitting of trimmed text."""
    if isinstance(text, str):
        return F.expr(_sql_ws_token_count(f"`{text}`"))
    c = text
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        count_occurrences(t, " ") + 1
    )


def word_token_count(text: Column | str) -> Column:
    """BPE-ish token count: alpha runs, digit runs, punct singletons."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(
        F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0))
    )


def stopword_ratio(text: Column | str) -> Column:
    """English stopword hits / whitespace token count (0 for empty)."""
    hits = F.lit(0).cast("long")
    padded = _padded_lower(text)
    for sw in ENGLISH_STOPWORDS:
        hits = hits + count_occurrences(padded, sw)
    tokens = whitespace_token_count(text)
    return F.when(tokens > 0, hits.cast("double") / tokens).otherwise(F.lit(0.0))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters in {. , ; : ! ?} (0 for empty text)."""
    c = F.col(text) if isinstance(text, str) else text
    stripped = c
    for p in [".", ",", ";", ":", "!", "?"]:
        stripped = F.replace(stripped, F.lit(p), F.lit(""))
    n = F.length(c)
    return F.when(n > 0, (n - F.length(stripped)).cast("double") / n).otherwise(
        F.lit(0.0)
    )


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length + stopword + punct terms.

    score = 0.4*min(1, tokens/100) + 0.4*min(1, 4*stopword_ratio)
          + 0.2*(1 - min(1, 5*punct_ratio))
    """
    if isinstance(text, str):
        return F.expr(_sql_quality_score(f"`{text}`"))
    tokens = whitespace_token_count(text).cast("double")
    len_term = F.least(F.lit(1.0), tokens / F.lit(100.0))
    sw_term = F.least(F.lit(1.0), F.lit(4.0) * stopword_ratio(text))
    punct_term = F.lit(1.0) - F.least(F.lit(1.0), F.lit(5.0) * punct_ratio(text))
    return (
        F.lit(0.4) * len_term + F.lit(0.4) * sw_term + F.lit(0.2) * punct_term
    )


def fingerprint(text: Column | str) -> Column:
    """Polynomial rolling hash of the whole text, mod 1e9+7.

    fold over codepoints: acc = (acc * 31 + ascii(ch)) % m, left to right.
    Deterministic and portable (int64 arithmetic never overflows because
    acc < 1e9+7 and acc*31 + 0x10FFFF << 2^63).
    """
    c = F.col(text) if isinstance(text, str) else text
    chars = F.filter(F.split(c, ""), lambda x: x != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * FINGERPRINT_BASE + F.ascii(ch))
        % F.lit(FINGERPRINT_MOD),
    )


# --- NumPy twins for Arrow kernels -------------------------------------------
# The Python side of the polynomial hash, for mapInPandas kernels that
# cannot use the Column fold above (interpreted, DEVNOTES invariant 5).


def _powers(n: int):
    """int64 table [B^0 .. B^(n-1)] mod M, grown by doubling:
    B^(k+j) = B^j · B^k, each product < 2^60."""
    import numpy as np

    p = np.ones(1, dtype=np.int64)
    while len(p) < n:
        step = int(p[-1]) * FINGERPRINT_BASE % FINGERPRINT_MOD  # B^len(p)
        p = np.concatenate((p, p * step % FINGERPRINT_MOD))
    return p[: max(n, 1)]


def poly_hash_many(strings):
    """``fingerprint`` of every string in one vectorized pass: the
    Horner fold acc = (acc·B + codepoint) mod M, returned as int64[].

    This is the only Python implementation of the hash; the Column form
    (``fingerprint`` / ``dedup.token_hashes``) and the DuckDB form
    (``oracle_gen.token_hash_sql``) are its spec. The batch is encoded
    as ONE UTF-32 buffer plus offsets; each codepoint is weighted by
    B^(distance to its string's end), reduced mod M and summed per
    string, which equals the fold bit for bit. No overflow: a term is
    < 2^21 · 2^30 before its reduction and a string's sum of reduced
    terms stays < 2^63 below 2^33 codepoints. Memory is O(total
    codepoints), independent of the longest string. Empty → 0.
    """
    import numpy as np

    strings = list(strings)
    lens = np.fromiter(map(len, strings), dtype=np.int64, count=len(strings))
    out = np.zeros(len(strings), dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return out
    cps = np.frombuffer(
        "".join(strings).encode("utf-32-le", "surrogatepass"), dtype=np.uint32
    )
    ends = np.cumsum(lens)
    # exponent of each codepoint: its distance to the end of its string
    terms = np.repeat(ends - 1, lens)
    terms -= np.arange(total, dtype=np.int64)
    terms = _powers(int(lens.max()))[terms]
    terms *= cps
    terms %= FINGERPRINT_MOD
    nz = lens > 0
    out[nz] = np.add.reduceat(terms, (ends - lens)[nz]) % FINGERPRINT_MOD
    return out


def window_starts(counts, width: int):
    """Flat start index of every ``width``-long window inside
    consecutive segments of the given lengths (each ≥ ``width``),
    segment-major: the gather index for k-token shingles and for
    sliding-window minima over a flattened batch."""
    import numpy as np

    counts = np.asarray(counts, dtype=np.int64)
    n_win = counts - (width - 1)
    seg_off = np.cumsum(counts) - counts
    win_off = np.cumsum(n_win) - n_win
    return np.repeat(seg_off - win_off, n_win) + np.arange(
        int(n_win.sum()), dtype=np.int64
    )


def shingle_hash_many(tok_hash, tok_len, starts, k: int):
    """Hash of each k-token shingle "t_s t_s+1 … t_s+k-1" (tokens joined
    by one space) from per-token hashes and lengths, by polynomial
    decomposition of the fold:
        h(acc ⧺ " " ⧺ t) = acc·B^(|t|+1) + 32·B^|t| + h(t)   (mod M)
    — bit-identical to ``poly_hash_many`` over the shingle strings,
    without ever building them. ``starts`` indexes each shingle's first
    token (see ``window_starts``)."""
    P = _powers(int(tok_len.max()) + 2)
    acc = tok_hash[starts]
    for j in range(1, k):
        lj = tok_len[starts + j]
        acc *= P[lj + 1]
        acc %= FINGERPRINT_MOD
        acc += 32 * P[lj] + tok_hash[starts + j]
        acc %= FINGERPRINT_MOD
    return acc


def tokenize_many(texts, min_tokens: int = 1):
    """The hash kernels' shared tokenize step: ``text.lower().split(" ")``
    per document (Spark ``split(lower(text), ' ')``), flattened and
    interned for one batch.

    Returns ``(keep, n_tok, codes, uniq_hash, uniq_len)``: ``keep`` =
    positions of the documents with ≥ ``min_tokens`` tokens (null text
    has none and is never kept, as SQL's ``len(string_split(NULL))`` is
    NULL); ``n_tok`` = their token counts; ``codes`` = per-batch intern
    id of every kept token, doc-major (string-exact, so a hash collision
    never merges two tokens); ``uniq_hash`` / ``uniq_len`` = fingerprint
    and length per intern id.
    """
    import numpy as np
    import pandas as pd

    keep, n_tok, flat = [], [], []
    for pos, text in enumerate(texts):
        if not isinstance(text, str):
            continue
        toks = text.lower().split(" ")
        if len(toks) < min_tokens:
            continue
        keep.append(pos)
        n_tok.append(len(toks))
        flat.extend(toks)
    codes, uniq = pd.factorize(np.asarray(flat, dtype=object))
    return (
        keep,
        np.asarray(n_tok, dtype=np.int64),
        codes.astype(np.int64),
        poly_hash_many(uniq),
        np.fromiter(map(len, uniq), dtype=np.int64, count=len(uniq)),
    )


def shingles(text: Column | str, k: int = 5) -> Column:
    """Array of k-word shingles (space-joined) from lowercased text."""
    c = F.col(text) if isinstance(text, str) else text
    tokens = F.split(F.trim(F.lower(c)), r"\s+")
    n = F.size(tokens)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n >= k,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, k))),
    ).otherwise(F.array(F.concat_ws(" ", tokens)))


# ---------------------------------------------------------------------------
# PII scrubbing — patterns restricted to the regex subset with identical
# semantics in Java (Spark) and RE2 (DuckDB): ASCII classes, bounded
# repetition, word boundaries, no capture groups. Parity battery:
# tests/test_pii.py.
# ---------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def scrub_pii(text: Column | str) -> Column:
    """Redact emails, NANP phone numbers, and IPv4 addresses with typed
    placeholder tokens, in a fixed order (email → phone → ip) so
    results are reproducible across engines. Pure codegen'd
    regexp_replace chain — runs at scan speed with no shuffle."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        PII_IP,
        "<IP>",
    )


def pii_counts(text: Column | str) -> tuple[Column, Column, Column]:
    """(n_email, n_phone, n_ip) match counts as INT columns."""
    c = F.col(text) if isinstance(text, str) else text
    return (
        F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL), 0)),
        F.size(F.regexp_extract_all(c, F.lit(PII_PHONE), 0)),
        F.size(F.regexp_extract_all(c, F.lit(PII_IP), 0)),
    )
