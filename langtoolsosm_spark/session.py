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

The local-mode JVM runs the parallel collector (``-XX:+UseParallelGC``).
Local mode puts every executor in that one JVM, and it is most of the
process tree's memory. Under the JDK's default G1, the adaptive young
generation moves eden across the whole heap, so nearly every heap page
gets touched: two ``perfbench`` ``ann_mobility`` rounds on 4 CPUs / 16 GB
peak at 3.37 GB of RSS for the tree, 2.6 GB of it the JVM's. The
parallel collector reuses a fixed eden, and the same run peaks at
2.13 GB with a 1.35 GB JVM, for the same answers. It spends more time
in GC (0.6 s against G1's 0.3 s over those rounds, 0.4 s of it in five
full collections), but the workloads' throughput and latency do not
move. The flag goes in ``spark.driver.defaultJavaOptions``, which spark-submit
puts ahead of ``spark.driver.extraJavaOptions``: a caller's own JVM
options (``-Xms``, ``-D...``) still apply and do not replace it. It is
left out when the caller already picks a collector, because the JVM
refuses to start with two ("Multiple garbage collectors selected").
"""

from __future__ import annotations

import os
import re
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


# a collector-selection flag: -XX:+UseG1GC, -XX:-UseParallelGC, ...
_GC_FLAG = re.compile(r"-XX:[+-]Use\w*GC\b")


def _collector_chosen(conf: dict) -> bool:
    """Whether the driver JVM already gets a collector from the caller:
    ``spark.driver.defaultJavaOptions`` set in ``conf``, or a collector
    flag in ``conf``'s ``spark.driver.extraJavaOptions`` or in the
    environment the JVM reads options from."""
    if "spark.driver.defaultJavaOptions" in conf:
        return True
    opts = [conf.get("spark.driver.extraJavaOptions", "")]
    opts += [
        os.environ.get(v, "")
        for v in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")
    ]
    return any(_GC_FLAG.search(str(o)) for o in opts)


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
    otherwise they keep pyspark's own daemon. The local-mode JVM runs
    the parallel collector (module docstring), set through
    ``spark.driver.defaultJavaOptions`` so ``extra_conf``'s
    ``spark.driver.extraJavaOptions`` adds to it. The flag is left out
    when the caller names a collector itself, in ``extra_conf``'s
    ``spark.driver.defaultJavaOptions`` (any value there wins) or as a
    ``-XX:[+-]Use...GC`` flag in ``extra_conf``'s
    ``spark.driver.extraJavaOptions``, ``$JAVA_TOOL_OPTIONS``,
    ``$_JAVA_OPTIONS`` or ``$SPARK_SUBMIT_OPTS``.

    ``cluster=True`` (or env SPARK_GRAFT_CLUSTER=1): spark-submit owns
    the master URL, executor topology, driver memory, and shuffle
    parallelism — the factory must not clobber them with local[]
    defaults, so it only sets the plan-shaping configs (AQE, Arrow,
    broadcast threshold, scan split size). The worker daemon stays
    pyspark's too: spark-submit owns the executors' Python environment
    (``--py-files``, archives, their ``PYTHONPATH``), and an executor
    need not have this package where the driver does. No collector is
    set either: spark-submit owns the driver and executor JVMs.
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
        if not _collector_chosen(extra_conf or {}):
            builder = builder.config(
                "spark.driver.defaultJavaOptions", "-XX:+UseParallelGC"
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
