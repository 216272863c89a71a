"""Replicates the driver's correctness gate locally: every queries() entry
is built once at sf0.01 and every per-query check runs on that one
DataFrame (tools/parity_debug.check):

- plan anti-patterns, from the executed plan the collect then reuses;
- row count, column names and order-insensitive values (floats at 6
  places) against the DuckDB oracle;
- output types, from the ``.types`` of the same DuckDB relation;
- green-on-empty: an empty sf0.01 result must be non-empty at sf0.1
  or be credited to a planted-truth pytest in PLANTED_TRUTH.

A registry-wide check belongs here as one more per-query assertion,
never as a separate sweep that builds every query again.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_DIR_ORACLE
from tools.parity_debug import PLANTED_TRUTH, check

# The green-on-empty fallback corpus: the sf0.1 directory beside the
# oracle one.
SF01_DIR = os.path.join(os.path.dirname(SF_DIR_ORACLE), "sf0.1")


def _all_pairs():
    from svs_spark.queries import queries, oracle_sql

    q = queries()
    o = oracle_sql()
    return [(name, q[name], o.get(name)) for name in sorted(q)]


@pytest.mark.parametrize(
    "name,fn,oracle", _all_pairs(), ids=[p[0] for p in _all_pairs()]
)
def test_oracle_parity(spark, duck, name, fn, oracle):
    rel = None if oracle is None else duck.sql(oracle)
    rows, findings = check(name, fn(spark, SF_DIR_ORACLE), rel, digits=6)
    if not rows:
        if oracle is None:
            findings.append("EMPTY rows-only query returned 0 rows")
        elif name in PLANTED_TRUTH:
            pass
        elif not os.path.isdir(SF01_DIR):
            findings.append(
                f"EMPTY at sf0.01 and no sf0.1 corpus at {SF01_DIR} to "
                "confirm it is non-empty there"
            )
        elif not fn(spark, SF01_DIR).head(1):
            findings.append(
                "EMPTY at sf0.01 and sf0.1 with no planted-truth pytest"
            )
    assert not findings, f"{name}: " + "; ".join(findings)
