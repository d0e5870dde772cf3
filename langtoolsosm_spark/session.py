"""SparkSession factory with scale-aware defaults.

Single place to configure AQE, Arrow, and shuffle parallelism so every
operator in the engine runs under the same execution profile. At 100 TB on
a real cluster only ``shuffle.partitions`` / memory sizing change; the plan
shapes produced by the operators are cluster-agnostic (declarative
DataFrame plans, Catalyst picks physical strategy).

In local mode the Python workers start through
:mod:`langtoolsosm_spark.worker_daemon` (``spark.python.daemon.module``):
it takes Spark's own ``pyspark.zip``, py4j zip and spark-core jar off the
workers' import path, so pyspark loads from site-packages, as on the
driver. With those archives on the path, every Python task re-read them
on its ``importlib.invalidate_caches()``, about 200 ms a task on 4 CPUs.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _workers_import_package() -> bool:
    """Whether a Python worker started from this process can import this
    package: ``python -m`` searches the working directory first, then
    ``$PYTHONPATH``, then site-packages."""
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    roots += [*site.getsitepackages(), site.getusersitepackages()]
    here = os.path.realpath(_PACKAGE_ROOT)
    return any(r and os.path.realpath(r) == here for r in roots)


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
    Local-mode workers run ``langtoolsosm_spark.worker_daemon`` (module
    docstring) when they can import this package, that is when it lies in
    the working directory, on ``$PYTHONPATH`` or in site-packages;
    otherwise they keep pyspark's own daemon.

    ``cluster=True`` (or env SPARK_GRAFT_CLUSTER=1): spark-submit owns
    the master URL, executor topology, driver memory, and shuffle
    parallelism — the factory must not clobber them with local[]
    defaults, so it only sets the plan-shaping configs (AQE, Arrow,
    broadcast threshold, scan split size). The worker daemon stays
    pyspark's too: spark-submit owns the executors' Python environment
    (``--py-files``, archives, their ``PYTHONPATH``), and an executor
    need not have this package where the driver does.
    """
    cluster = cluster or os.environ.get("SPARK_GRAFT_CLUSTER") == "1"
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)

    builder = SparkSession.builder
    if not cluster:
        builder = (
            builder.master(f"local[{cores}]")
            .config(
                "spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
            )
            .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        )
        if _workers_import_package():
            builder = builder.config(
                "spark.python.daemon.module", "langtoolsosm_spark.worker_daemon"
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
