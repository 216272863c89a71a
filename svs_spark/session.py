"""SparkSession factory with scale-oriented defaults.

Defaults are tuned so the same logical plans that pass correctness at
sf0.01 keep working on a 1000-executor cluster at 100 TB:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow transfer on (pandas UDFs are the vector hot path)
- shuffle partitions sized for local testing but overridable via env;
  AQE coalescing makes the static number mostly a ceiling
- broadcast threshold left at default (10 MB) — dimension tables in the
  star schema are broadcast automatically; we also force ``broadcast()``
  hints where we *know* the side is small (top-k winner sets).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_java_opts() -> str:
    """The driver JVM flags every session starts with.

    Bound the tiered-JIT compiler pool: a long-lived driver JVM that
    plans/compiles hundreds of DISTINCT generated stages (the registry
    is 218 queries) otherwise runs ~cores/3 background compiler threads
    that compete with executor threads in local mode — measured round
    10: 433 CPU-s of accumulated JIT time 9 minutes into a bench pass,
    with not-yet-compiled codegen running interpreted (5-20x per-query
    inflation). Four threads keep compile latency low without starving
    execution; on a real cluster the driver runs no tasks, so the flag
    is harmless there (executor JVMs are not touched). C1-only
    (TieredStopAtLevel=1) was also measured and rejected: steady-state
    code too slow. Override via ``SVS_DRIVER_JAVA_OPTS`` or extra_conf.
    """
    return os.environ.get("SVS_DRIVER_JAVA_OPTS", "-XX:CICompilerCount=4")


def configure_builder(
    builder: SparkSession.Builder,
    shuffle_partitions: int | None = None,
) -> SparkSession.Builder:
    """Apply engine defaults onto an existing builder."""
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SVS_SHUFFLE_PARTITIONS", "32"))
    return (
        # local-mode driver == executor: the 1g JVM default starves the
        # columnar cache (6 GB of 1M×1536 f32 vectors is the reference's
        # own headline workload); only applies if the JVM isn't up yet
        builder.config(
            "spark.driver.memory", os.environ.get("SVS_DRIVER_MEMORY", "48g")
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # vectors are float32 arrays ~64-1536 dims; keep scan splits modest
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.driver.extraJavaOptions", driver_java_opts())
    )


def get_session(
    app_name: str = "svs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[N]`` controlled by ``SPARK_GRAFT_CPUS``
    (falls back to ``local[*]``); on a real cluster pass ``None`` after
    setting the master in spark-submit and this just applies configs.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    builder = configure_builder(builder, shuffle_partitions)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
