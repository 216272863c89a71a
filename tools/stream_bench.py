"""Streaming throughput bench: drain N synthetic events through each
windowed-sketch stream (count-min, HLL, MinHash signatures, windowed
counts, stateful z-score) with availableNow and report wall-clock +
rows/sec. The scale question this answers: do the pure-built-in
watermarked aggregates actually sustain firehose rates, or do they
bottleneck in the Python stages?

Usage: python tools/stream_bench.py [--n 2000000] [--ops a,b,c]
Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=2_000_000)
    ap.add_argument("--ops", type=str, default="")
    args = ap.parse_args()
    only = {o for o in args.ops.split(",") if o}

    from pyspark.sql import functions as F

    from svs_spark.session import driver_java_opts, get_session

    spark = get_session(
        "stream_bench",
        extra_conf={
            "spark.driver.extraJavaOptions": "-Xlog:disable "
            + driver_java_opts()
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    # synthetic firehose: n events over ~28 hours, 100k users, 5 types,
    # plus a text payload for the MinHash stream (12-token docs)
    src = os.path.join(tempfile.gettempdir(), f"stream_bench_{args.n}")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        (
            spark.range(args.n)
            .select(
                F.col("id").alias("event_id"),
                (F.col("id") % 100_000).alias("user_id"),
                F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias(
                    "event_type"
                ),
                F.timestamp_micros(
                    F.lit(1_600_000_000_000_000) + F.col("id") * 50_000
                ).alias("event_time"),
                (F.pmod(F.xxhash64("id"), 10_000) / 100.0).alias("value"),
                F.concat_ws(
                    " ",
                    *[
                        F.concat(
                            F.lit("w"),
                            F.pmod(
                                F.xxhash64(F.col("id") * 13 + j), 50_000
                            ).cast("string"),
                        )
                        for j in range(12)
                    ],
                ).alias("text"),
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(src)
        )

    schema = spark.read.parquet(src).schema
    timings: dict[str, float] = {}
    cells: dict[str, int] = {}

    def stream():
        return spark.readStream.schema(schema).parquet(src)

    def drain(name: str, df, mode: str = "append") -> None:
        if only and name not in only:
            return
        sink = f"sb_{name}"
        t0 = time.perf_counter()
        q = (
            df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        timings[name] = round(time.perf_counter() - t0, 2)
        cells[name] = spark.table(sink).count()

    from svs_spark.streaming.cm_window import cm_sketch_stream
    from svs_spark.streaming.hll_window import hll_sketch_stream
    from svs_spark.streaming.minhash_window import minhash_signature_stream
    from svs_spark.streaming.sessions import windowed_event_counts
    from svs_spark.streaming.anomaly import zscore_outlier_stream

    drain(
        "windowed_counts",
        windowed_event_counts(stream(), window="1 hour", watermark="2 hours"),
        mode="append",
    )
    drain(
        "cm_window",
        cm_sketch_stream(
            stream(), "user_id", "event_time",
            window_duration="1 hour", watermark="2 hours",
            width=1024, depth=4,
        ),
    )
    drain(
        "hll_window",
        hll_sketch_stream(
            stream(), "user_id", "event_time",
            window_duration="1 hour", watermark="2 hours", p=12,
        ),
    )
    drain(
        "minhash_window",
        minhash_signature_stream(
            stream().withColumn("source", F.pmod("user_id", F.lit(20)).cast("string")),
            text_col="text", id_col="event_id", group_col="source",
            ts_col="event_time", window_duration="1 hour",
            watermark="2 hours", num_hashes=16, shingle_size=3,
        ),
    )
    drain(
        "zscore_state",
        zscore_outlier_stream(stream()),
        mode="append",
    )

    from svs_spark.streaming.drift import value_histogram_stream

    drain(
        "drift_histogram",
        value_histogram_stream(
            stream(), value_col="value", group_col="event_type",
            ts_col="event_time", window_duration="1 hour",
            watermark="2 hours", lo=0.0, hi=100.0, n_buckets=64,
        ),
    )

    from svs_spark.streaming.lateness import lateness_stream

    # deterministic jitter pulls ~all rows below the running high-water
    # mark so the monitor's cummax/state path does real work
    drain(
        "lateness_state",
        lateness_stream(
            stream().select(
                "event_type",
                "event_id",
                (
                    F.unix_micros("event_time")
                    - F.pmod(F.xxhash64("event_id"), F.lit(100))
                    * F.lit(500_000)
                ).alias("us"),
            )
        ),
        mode="update",
    )

    # contrastive/hard-negative export: labeled vectors derived
    # scan-stage from the event columns (16-dim, 8 labels), 8 static
    # anchors, k=5 per role — foreachBatch + driver top-k merge, so it
    # can't ride drain()'s memory-format path
    if not only or "contrastive_export" in only:
        from svs_spark.streaming.contrastive import contrastive_export_stream

        emb_stream = stream().select(
            F.col("event_id").alias("vec_id"),
            F.pmod("user_id", F.lit(8)).cast("int").alias("label"),
            F.array(
                *[
                    (
                        F.pmod(
                            F.xxhash64(F.col("event_id") * F.lit(7 + j)),
                            F.lit(1000),
                        )
                        / F.lit(500.0)
                        - F.lit(1.0)
                    )
                    for j in range(16)
                ]
            ).alias("embedding"),
        )
        qvecs = [
            (i, i % 8, [1.0 if j == i else 0.0 for j in range(16)])
            for i in range(8)
        ]
        t0 = time.perf_counter()
        q = contrastive_export_stream(
            emb_stream, qvecs, k=5, sink_table="sb_contrastive"
        )
        q.awaitTermination()
        timings["contrastive_export"] = round(time.perf_counter() - t0, 2)
        cells["contrastive_export"] = spark.table("sb_contrastive").count()

    print(
        json.dumps(
            {
                "metric": "stream_drain_warm",
                "n_events": args.n,
                "unit": "sec",
                "timings": timings,
                "rows_per_sec": {
                    k: int(args.n / v) for k, v in timings.items() if v > 0
                },
                "sink_rows": cells,
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
