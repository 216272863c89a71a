"""The registry-wide gates run per query inside
tests/test_oracle_parity.py (tools/parity_debug.check). What is left
here keeps their allowlists live and proves, on Spark alone, that the
shared checks still catch the faults they exist for:

- PLANTED_TRUTH names a pytest that really exists;
- every ONE_ROW_CROSS_OK entry is a registered query (a per-query
  entry whose plan has no nested-loop/cross join is itself a plan
  finding, so only a dangling name could outlive its query);
- an unhinted crossJoin and a row-at-a-time UDF are plan findings, and
  a DuckDB ``sum(INTEGER)`` (HUGEINT) against a Spark bigint is a type
  finding.
"""

from __future__ import annotations

import os

import duckdb
from pyspark.sql import functions as F

from tools.parity_debug import (
    ONE_ROW_CROSS_OK,
    PLANTED_TRUTH,
    executed_plan,
    plan_findings,
    type_findings,
)


def test_planted_truth_allowlist_is_live():
    here = os.path.dirname(__file__)
    for name, nodeid in PLANTED_TRUTH.items():
        fname, func = nodeid.split("::")
        path = os.path.join(here, fname)
        assert os.path.exists(path), (name, path)
        with open(path) as f:
            assert f"def {func}(" in f.read(), (name, nodeid)


def test_plan_allowlist_is_live():
    from svs_spark.queries import queries

    assert not ONE_ROW_CROSS_OK - set(queries())
    # an allowlisted query whose plan lost its nested-loop join is flagged
    assert plan_findings("tpch_q22ish", "Project\n+- Scan parquet")


def test_unhinted_cross_join_is_flagged(spark):
    a = spark.range(50)
    b = spark.range(50).withColumnRenamed("id", "j")
    findings = plan_findings("unregistered", executed_plan(a.crossJoin(b)))
    assert findings and findings[0].startswith("PLAN "), findings
    assert "NestedLoopJoin" in findings[0] or "Cartesian" in findings[0]


def test_row_at_a_time_udf_is_flagged(spark):
    plus_one = F.udf(lambda x: x + 1, "long")
    df = spark.range(5).select(plus_one("id").alias("y"))
    assert plan_findings("unregistered", executed_plan(df)) == [
        "PLAN row-at-a-time Python UDF (BatchEvalPython)"
    ]


def test_hugeint_sum_is_a_type_mismatch(spark):
    con = duckdb.connect()
    rel = con.sql("SELECT sum(x) AS s FROM (VALUES (1::INTEGER)) t(x)")
    df = spark.range(1).select(F.col("id").alias("s"))
    assert type_findings(df, rel) == ["TYPES {'s': ('bigint', 'hugeint')}"]
    ok = con.sql("SELECT CAST(sum(x) AS BIGINT) AS s FROM (VALUES (1)) t(x)")
    assert type_findings(df, ok) == []
