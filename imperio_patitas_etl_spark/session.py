"""SparkSession factory with scale-appropriate defaults.

The engine targets large multi-executor clusters; locally we run
``local[N]``. All settings below are cluster-safe: AQE re-plans at runtime
(skew joins, partition coalescing), timezone is pinned to UTC so results
are reproducible against external oracles (SURVEY.md §7 hard-part 5), and
Arrow is enabled for any Pandas-UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Quarter of physical RAM, clamped to [4g, 24g]; 8g if unreadable."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(
                next(line for line in f if line.startswith("MemTotal")).split()[1]
            )
    except (OSError, StopIteration, ValueError):
        return "8g"
    quarter_gb = total_kb // (4 * 1024 * 1024)
    return f"{max(4, min(24, quarter_gb))}g"


def get_spark(
    app_name: str = "imperio_patitas_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    AQE is on: at 100 TB the static shuffle-partition count is always wrong
    somewhere, so we give a generous initial number and let AQE coalesce and
    split skewed partitions at runtime.
    """
    # local[N] width and default shuffle partitions: $SPARK_GRAFT_CPUS,
    # else the machine's CPU count
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS) which Spark cannot
        # read natively; read as long and convert in sources/parquet.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", "128MB")
        # local[N] drives N concurrent tasks through one JVM; an 8g heap
        # left GC dominating run-to-run variance on the 32-core bench box
        # (measured ±40% on the bench total; 24g restored ±4%). The
        # default scales with the machine — a quarter of RAM capped at
        # 24g, floored at 4g — so small laptops/CI hosts are not asked
        # for a heap they cannot reserve. On a real cluster executor
        # memory is sized per-node anyway.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # A read of a table with more partition directories than the
        # threshold (default 32) lists them in a Spark job, one task per
        # directory: 0.7-1.0 s for a 150-day fact table. In local mode the
        # executors are threads of this JVM, so that job only adds
        # scheduling; the driver lists the same directories in
        # milliseconds. Cluster masters keep the default, where the job
        # spreads a large listing over executors.
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", "1000000"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
