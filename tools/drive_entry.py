"""Driver simulation: exercises the __spark_entry__ contract exactly as
the round driver does (entry smoke + queries-vs-DuckDB-oracle compare).

Usage:
    python tools/drive_entry.py                # full oracle compare at sf0.01
    SVS_DRIVE_SF=/root/testdata/sf0.1 \
        python tools/drive_entry.py --counts-only
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from tools.parity_debug import (  # noqa: E402
    duck_rows,
    duck_views,
    row_findings,
    spark_rows,
)


def main() -> int:
    counts_only = "--counts-only" in sys.argv
    sf = os.environ.get("SVS_DRIVE_SF", "/root/testdata/sf0.01")
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("driver-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    df = E.entry(spark)
    rows = df.collect()
    print(f"entry(): {len(rows)} rows, schema={df.schema.simpleString()}")

    qs, oracles = E.queries(), E.oracle_sql()
    print(f"{len(qs)} queries, {len(oracles)} oracles")
    fails = 0

    if counts_only:
        for name, fn in sorted(qs.items()):
            print(f"  {name}@{sf}: {fn(spark, sf).count()} rows")
        spark.stop()
        return 0

    con = duck_views(sf)
    for name, fn in sorted(qs.items()):
        scols, srows = spark_rows(fn(spark, sf), digits=6)
        if name not in oracles:
            print(f"  {name}: rows-only {len(srows)} rows")
            if not srows:
                fails += 1
                print(f"  {name}: FAIL rows-only query returned 0 rows")
            continue
        findings = row_findings(
            scols, srows, *duck_rows(con.sql(oracles[name]), digits=6)
        )
        if findings:
            fails += 1
            print(f"  {name}: MISMATCH {'; '.join(findings)}")
        else:
            print(f"  {name}: MATCH ({len(srows)} rows)")
    print("FAILURES:", fails)
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
