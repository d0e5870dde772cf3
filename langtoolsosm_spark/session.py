"""SparkSession factory with scale-aware defaults.

Single place to configure AQE, Arrow, and shuffle parallelism so every
operator in the engine runs under the same execution profile. At 100 TB on
a real cluster only ``shuffle.partitions`` / memory sizing change; the plan
shapes produced by the operators are cluster-agnostic (declarative
DataFrame plans, Catalyst picks physical strategy).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the machine's physical RAM, capped at 48g: local mode runs
    every executor inside this one JVM, and the rest of RAM is left to
    the Python workers and the OS."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, phys // 2**31))}g"


def get_spark(
    app_name: str = "langtoolsosm_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    cluster: bool = False,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores=None -> local[*]. shuffle_partitions defaults to the core count
    (local mode: one JVM, shuffles through local disk — 200 partitions
    would just add scheduling overhead; on a real cluster this is set to
    ~2-3x total executor cores). Driver memory (local mode) is
    ``$SPARK_DRIVER_MEM`` if set, else half of physical RAM capped at 48g.

    ``cluster=True`` (or env SPARK_GRAFT_CLUSTER=1): spark-submit owns
    the master URL, executor topology, driver memory, and shuffle
    parallelism — the factory must not clobber them with local[]
    defaults, so it only sets the plan-shaping configs (AQE, Arrow,
    broadcast threshold, scan split size).
    """
    cluster = cluster or os.environ.get("SPARK_GRAFT_CLUSTER") == "1"
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)

    builder = SparkSession.builder
    if not cluster:
        builder = builder.master(f"local[{cores}]").config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
    if not cluster:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    builder = (
        builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # split scans finer than the 128 MB default so small-but-hot tables
        # still fan out across all cores (bench tiers are a few hundred MB)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
