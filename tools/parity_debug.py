"""The cross-engine check between Spark queries() and DuckDB oracle_sql().

This module is the one home of every per-query check; the pytest gate
(tests/test_oracle_parity.py), the driver simulation (drive_entry.py)
and the multilingual parity tests all call it:

- rows: order-insensitive cell compare after ``norm`` (``digits=6`` for
  the gate, ``None`` for the exact values the driver hashes);
- types: every oracle column's DuckDB type must map to the Spark dtype
  exactly (a HUGEINT from ``sum(INTEGER)`` hash-mismatches in the
  driver even when the numbers are equal);
- plan: no CartesianProduct / BroadcastNestedLoopJoin outside
  ``ONE_ROW_CROSS_OK``, no row-at-a-time Python UDF (BatchEvalPython)
  anywhere, and no allowlist entry whose plan has neither node.

As a tool it prints the first differing cells, exactly, plus type and
plan findings, and exits 1 on any finding.

Usage: python tools/parity_debug.py [query ...]   (default: all)
Env:   SVS_ORACLE_SF_DIR (default: the sf0.01 testdata directory)
"""

from __future__ import annotations

import math
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SVS_ORACLE_SF_DIR", "/root/testdata/sf0.01")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# Queries whose sf0.1 result is LEGITIMATELY empty (the synthetic
# corpus lacks the phenomenon), each credited to the pytest that runs
# it against planted non-empty truth. tests/test_registry_audits.py
# asserts the referenced tests exist, so the allowlist cannot go stale.
PLANTED_TRUTH = {
    "dedup_bag_of_words":
        "test_quality_ops.py::test_dedup_bag_of_words_planted_groups",
    "source_dup_overlap":
        "test_quality_ops.py::test_source_dup_overlap_planted_cross_source",
}

QUADRATIC_NODES = ("CartesianProduct", "BroadcastNestedLoopJoin")

# Queries where a nested-loop/cross join is a deliberate 1-row
# broadcast (scalar count / total / max folded into the plan). Every
# entry's plan must contain one of QUADRATIC_NODES (plan_findings), so
# an entry cannot outlive the join it excuses.
ONE_ROW_CROSS_OK = {
    "graph_edge_stats", "graph_degree", "tfidf_top_terms", "tpch_q22ish",
    "tpch_q11ish",  # 1-row global-threshold aggregate crossed into filter
    "graph_motif_stats",  # three 1-row motif counts crossed into one row
    # rounds 4-5: every entry below crosses a 1-row scalar aggregate
    # (corpus total / vocab total / min-max range / df cap / decile
    # divisor) into a scan-stage expression
    "basket_affinity", "bigram_backoff_quality", "bigram_pmi_top",
    "bm25_topk", "dau_wau_mau", "decontaminate_train_bloom",
    "hilbert_locality_stats", "hybrid_search_rrf",
    "length_decile_dup_rate", "nb_lang_confusion", "pareto_abc_parts",
    "rare_token_stats", "score_calibration_bins",
    "score_quantile_align", "sequence_packing_stats", "source_length_ks",
    "source_minhash_similarity", "temperature_resample",
    "tfidf_cosine_pairs", "token_lang_affinity", "token_zipf_profile",
    "unigram_logprob_quality", "value_autocorrelation",
    "vocab_growth_curve", "zorder_locality_stats",
    "quality_rank_fusion",  # three 1-row min/max range aggregates (one
    # per two-level rank) + the unigram vocab total
    "value_drift_ks",  # ks_vs_reference crosses the 1-row ref_total
    # aggregate into the bucket-cardinality grid (drift.py)
    "domain_reweighting",  # crosses the 1-row corpus token total into
    # the per-(source, tok) tf table — same shape as
    # unigram_logprob_quality, of which it is the source-level sibling
    "benford_first_digit",  # crosses the 1-row grand-total aggregate
    # into the 9-row digit histogram
    "event_disorder_audit",  # crosses the 1-row min/max event_id range
    # into the scan-stage bucket expression (the two-level running-max
    # decomposition) — same shape as hilbert/zorder's range broadcast
    "isotonic_calibration",  # the PAV minimax triangle: theta joins
    # (i <= j, i <= bin <= j) over the <=10-row BIN table — constant
    # work at any corpus size; the data-sized path is the one 10-bin
    # aggregate plus the 1-row max broadcast (score_calibration_bins
    # shape)
    "isotonic_score_transform",  # the transform form: the ONLY
    # nested-loop is the 1-row max broadcast the binning crosses in
    # (operators/evaluation.isotonic_calibrate); the fitted-map apply
    # is a broadcast HASH join on bin, and the PAV fit is driver-side
    # over the <=n_bins collected rows
}

# Deliberately quadratic EXACT baselines: the nested loop is over GEMM
# *blocks* (N/2048 per side) or a handful of query rows, never row×row,
# and each has a sub-quadratic scale alternative in the registry
# (minhash_lsh_dedup / ann_lsh_bucket / ann_ivf_probe / knn batch).
QUADRATIC_BY_DESIGN = {
    "pairwise_topk",        # blocked-GEMM strict-upper-triangle top-k
    "embedding_near_dup",   # blocked-GEMM threshold pairs (oracle form)
    "knn_bruteforce",       # 10 query rows × corpus, the recall baseline
    "knn_self_top1",        # blocked-GEMM self-kNN block-pair sweep
    "retrieval_ndcg_eval",  # 10 labeled eval rows × candidates — the
    # eval-set brute force that scores the embedding itself (eval sets
    # are bounded; the corpus side is the same one-pass scan)
    "matryoshka_recall_eval",  # same bounded-eval family: 10 queries ×
    # corpus per truncation width; widths fuse into one GEMM pass at
    # scale (prefix dots are partial sums — see the query docstring)
}
ONE_ROW_CROSS_OK |= QUADRATIC_BY_DESIGN

# DuckDB type -> Spark dtype string (canonical forms)
DUCK_TO_SPARK = {
    "BIGINT": "bigint",
    "INTEGER": "int",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
    "HUGEINT": "hugeint",       # never equal to any Spark type -> always flagged
    "UBIGINT": "uhugeint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "REAL": "float",
    "VARCHAR": "string",
    "BOOLEAN": "boolean",
    "TIMESTAMP": "timestamp",
    "DATE": "date",
    "BLOB": "binary",
}


def duck_type_to_spark(t: str) -> str:
    t = t.strip()
    m = re.match(r"^DECIMAL\((\d+),(\d+)\)$", t)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    m = re.match(r"^(.*)\[\]$", t)
    if m:
        return f"array<{duck_type_to_spark(m.group(1))}>"
    return DUCK_TO_SPARK.get(t, f"?{t}?")


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per testdata table."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def norm(v, digits: int | None = None):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if digits is not None:
            return round(v, digits)
    return v


def spark_rows(df, digits: int | None = None):
    cols = sorted(df.columns)
    rows = [tuple(norm(r[c], digits) for c in cols) for r in df.collect()]
    return cols, sorted(rows, key=repr)


def duck_rows(rel, digits: int | None = None):
    """Rows of a DuckDB relation (``con.sql(oracle)``), columns sorted."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [
        tuple(norm(row[i], digits) for i in order) for row in rel.fetchall()
    ]
    return sorted(cols), sorted(rows, key=repr)


def row_findings(s_cols, s, d_cols, d) -> list[str]:
    """Column set, row count and first differing cells, Spark vs DuckDB."""
    if s_cols != d_cols:
        return [f"COLS {s_cols} vs {d_cols}"]
    if len(s) != len(d):
        return [f"ROWS {len(s)} vs {len(d)}"]
    diffs = [(a, b) for a, b in zip(s, d) if a != b]
    if not diffs:
        return []
    cells = [
        f"\n    col {c}: spark={x!r} duck={y!r}"
        for a, b in diffs[:3]
        for c, x, y in zip(s_cols, a, b)
        if x != y
    ]
    return [f"VALUES {len(diffs)}/{len(s)} rows differ" + "".join(cells)]


def type_findings(df, rel) -> list[str]:
    """Spark dtypes vs the mapped DuckDB types of the oracle relation."""
    s_types = dict(df.dtypes)
    d_types = {
        c: duck_type_to_spark(str(t)) for c, t in zip(rel.columns, rel.types)
    }
    if set(s_types) != set(d_types):
        return []  # a column-set difference is reported by row_findings
    mism = {
        c: (s_types[c], d_types[c])
        for c in sorted(s_types)
        if s_types[c] != d_types[c]
    }
    return [f"TYPES {mism}"] if mism else []


def plan_findings(name: str, plan: str) -> list[str]:
    """Scale anti-patterns in an executed-plan string."""
    nodes = [n for n in QUADRATIC_NODES if n in plan]
    findings = []
    if name in ONE_ROW_CROSS_OK:
        if not nodes:
            findings.append(
                "PLAN stale ONE_ROW_CROSS_OK entry: no "
                + " or ".join(QUADRATIC_NODES)
            )
    elif nodes:
        findings.append(f"PLAN {', '.join(nodes)}")
    if "BatchEvalPython" in plan:
        findings.append("PLAN row-at-a-time Python UDF (BatchEvalPython)")
    return findings


def executed_plan(df) -> str:
    """The physical plan the next action on ``df`` runs (actions reuse
    the Dataset's QueryExecution, so reading it first plans once)."""
    return df._jdf.queryExecution().executedPlan().toString()


def check(name: str, df, rel, digits: int | None = None):
    """Every check on one built DataFrame: plan (read before the
    collect, which reuses it), then rows and types against the oracle
    relation ``rel`` (None for a rows-only query). Returns the sorted
    Spark rows and the list of findings."""
    findings = plan_findings(name, executed_plan(df))
    s_cols, s = spark_rows(df, digits)
    if rel is not None:
        d_cols, d = duck_rows(rel, digits)
        findings += type_findings(df, rel)
        findings += row_findings(s_cols, s, d_cols, d)
    return s, findings


def main():
    from svs_spark.queries import oracle_sql, queries
    from svs_spark.session import get_session

    names = sys.argv[1:]
    q = queries()
    o = oracle_sql()
    if not names:
        names = sorted(q)

    spark = get_session("parity_debug")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_views(SF_DIR)

    bad = []
    for name in names:
        try:
            rel = con.sql(o[name]) if name in o else None
            rows, findings = check(name, q[name](spark, SF_DIR), rel)
        except Exception as e:  # noqa: BLE001
            findings = [f"ERROR {e}"]
        if findings:
            for f in findings:
                print(f"{name}: {f}")
            bad.append(name)
        elif rel is None:
            print(f"{name}: no oracle (rows-only, {len(rows)} rows)")
        else:
            print(f"{name}: OK ({len(rows)} rows)")
    print(f"\n{len(bad)} mismatched: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
