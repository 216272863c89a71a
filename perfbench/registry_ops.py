"""Registry queries as benchmark ops, over seeded sf0.1-shaped tables.

Each op builds one registered query and ``collect()``s it; the last
result of each query is checked against its DuckDB oracle (row count
plus an order-insensitive digest) after the timed window.
"""

from __future__ import annotations

import hashlib
import math
import time

import gen
from harness import log
from registry_names import HEADLINE_148

TABLES = ("customer", "orders", "documents")  # what the timed queries read


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    return v


def _fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Row count + order-insensitive digest over columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    digest = hashlib.sha256("\n".join(norm).encode()).hexdigest()[:16]
    return len(rows), digest


class Registry:
    """Seeded sf0.1 tables plus ops that build and collect registered
    queries; ``check`` compares each query's last result to its oracle."""

    def __init__(self, env, names):
        self.env, self.names = env, list(names)
        self.dir = env.scratch("sf0.1")
        t0 = time.perf_counter()
        gen.registry_tables(self.dir, env.seed)
        env.setup_parts["generate_tables_s"] = time.perf_counter() - t0

        from svs_spark import queries as qmod

        self.qmod = qmod
        self.registry = qmod.queries()
        missing = [n for n in self.names if n not in self.registry]
        if missing:
            raise RuntimeError(f"registry lacks frozen queries: {missing}")
        log(f"registry: {len(self.names)} of {len(HEADLINE_148)} frozen queries timed")
        self.last: dict[str, tuple[list[str], list]] = {}

    def op(self, name: str):
        """The benchmark op (kind, callable) for one registered query."""
        spark, tracer = self.env.spark, self.env.tracer

        def go():
            with tracer.span("queries.build"):
                df = self.registry[name](spark, self.dir)
            if tracer.enabled:
                with tracer.span("engine.plan"):
                    df._jdf.queryExecution().executedPlan()
            rows = df.collect()
            self.last[name] = (df.columns, [tuple(r) for r in rows])

        return f"query.{name}", go

    def check(self) -> list[str]:
        import duckdb

        self.qmod.release_caches()
        oracles = self.qmod.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        problems = []
        for name in self.names:
            if name not in self.last:
                problems.append(f"{name}: never completed")
                continue
            cols, rows = self.last[name]
            if not rows:
                problems.append(f"{name}: empty result")
            sql = oracles.get(name)
            if sql is None:
                continue
            res = con.sql(sql)
            want = _fingerprint(res.columns, res.fetchall())
            got = _fingerprint(cols, rows)
            if sorted(cols) != sorted(res.columns) or got != want:
                problems.append(f"{name}: spark {got} vs oracle {want}")
        con.close()
        return problems
