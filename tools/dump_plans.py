"""Dump `.explain("formatted")` snapshots of registered queries to
plans/<subdir>/<query>_<tag>.txt — before/after plan evidence for
every query a change touches.

Usage: python tools/dump_plans.py <subdir> <tag> <query> [query ...]

Reads the tables from the directory named by $SPARK_GRAFT_SF_DIR, and
writes that directory as `<sf_dir>` in the scan locations, so snapshots
taken on different hosts compare equal.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    subdir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from svs_spark.plans.explain import plan_string
    from svs_spark.queries import queries, release_caches
    from svs_spark.session import get_session

    out_dir = os.path.join(REPO, "plans", subdir)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_session("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    registry = queries()
    for name in names:
        df = registry[name](spark, sf_dir)
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            plan = plan_string(df)
            f.write(plan.replace(os.path.abspath(sf_dir), "<sf_dir>"))
        print(f"wrote plans/{subdir}/{name}_{tag}.txt")
    release_caches()
    spark.stop()


if __name__ == "__main__":
    main()
