"""Python workers import pyspark from the installed package.

``session.get_spark`` starts local-mode workers through
``langtoolsosm_spark.worker_daemon``, which drops Spark's own archives
(``pyspark.zip``, ``py4j-*-src.zip``, the spark-core jar) from the worker's
import path before pyspark loads. Each cached ``zipimporter`` re-reads its
whole archive directory on the ``importlib.invalidate_caches()`` that
precedes every task, so a worker that still holds them pays that per task.

The local-mode JVM runs the parallel collector, set through
``spark.driver.defaultJavaOptions`` unless the caller names a collector.
"""

import os
import re
import types

import pyspark
from pyspark.sql import SparkSession

from langtoolsosm_spark import session
from langtoolsosm_spark.worker_daemon import strip_spark_archives

_SPARK_ARCHIVE = re.compile(r"(pyspark\.zip|py4j-[^/]*\.zip|\.jar)(/|$)")


def test_workers_hold_no_zipimporter(spark):
    def probe(_):
        import sys

        import pyspark

        cache = sorted({type(v).__name__ for v in sys.path_importer_cache.values()})
        yield cache, list(sys.path), pyspark.__version__

    # two rounds, so the second task runs on a reused worker
    for _ in range(2):
        [(cache, path, version)] = (
            spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
        )
        assert "zipimporter" not in cache, cache
        assert not [p for p in path if _SPARK_ARCHIVE.search(p)], path
        assert version == pyspark.__version__


def _builder_options(monkeypatch, **kw):
    """The options ``get_spark(**kw)`` hands the builder, with no session
    started."""
    seen = {}

    def fake(self):
        seen.update(self._options)
        return types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None)
        )

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake)
    session.get_spark("options", cores=2, **kw)
    return seen


def test_daemon_module_local_mode_only(monkeypatch, tmp_path):
    monkeypatch.chdir(session._PACKAGE_ROOT)
    opts = _builder_options(monkeypatch)
    assert opts["spark.python.daemon.module"] == "langtoolsosm_spark.worker_daemon"
    # spark-submit owns the worker environment on a cluster
    assert "spark.python.daemon.module" not in _builder_options(monkeypatch, cluster=True)
    # a worker that cannot import this package keeps pyspark's own daemon
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert "spark.python.daemon.module" not in _builder_options(monkeypatch)
    monkeypatch.setenv("PYTHONPATH", session._PACKAGE_ROOT)
    assert "spark.python.daemon.module" in _builder_options(monkeypatch)


_JAVA_ENV = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")


def test_local_session_runs_parallel_collector(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    names = {bean.getName() for bean in mf.getGarbageCollectorMXBeans()}
    assert names == {"PS Scavenge", "PS MarkSweep"}


def test_parallel_collector_local_mode_only(monkeypatch):
    for var in _JAVA_ENV:
        monkeypatch.delenv(var, raising=False)
    opts = _builder_options(monkeypatch)
    assert opts["spark.driver.defaultJavaOptions"] == "-XX:+UseParallelGC"
    # spark-submit owns the JVMs on a cluster
    assert "spark.driver.defaultJavaOptions" not in _builder_options(
        monkeypatch, cluster=True
    )
    # a caller's own JVM options still go through extraJavaOptions
    opts = _builder_options(
        monkeypatch, extra_conf={"spark.driver.extraJavaOptions": "-Xms1g"}
    )
    assert opts["spark.driver.defaultJavaOptions"] == "-XX:+UseParallelGC"
    assert opts["spark.driver.extraJavaOptions"] == "-Xms1g"


def test_no_collector_flag_when_the_caller_names_one(monkeypatch):
    for var in _JAVA_ENV:
        monkeypatch.delenv(var, raising=False)
    # two collector flags stop the JVM at start
    extra = {"spark.driver.extraJavaOptions": "-Xms1g -XX:+UseG1GC"}
    opts = _builder_options(monkeypatch, extra_conf=extra)
    assert "spark.driver.defaultJavaOptions" not in opts
    for var in _JAVA_ENV:
        monkeypatch.setenv(var, "-Dfoo=1 -XX:+UseSerialGC")
        assert "spark.driver.defaultJavaOptions" not in _builder_options(monkeypatch)
        monkeypatch.delenv(var)
    # not collector flags
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-XX:+UseGCOverheadLimit -Xss4m")
    assert "spark.driver.defaultJavaOptions" in _builder_options(monkeypatch)
    # the caller's own defaultJavaOptions reach the builder unchanged
    own = {"spark.driver.defaultJavaOptions": "-XX:+UseZGC -Xss4m"}
    opts = _builder_options(monkeypatch, extra_conf=own)
    assert opts["spark.driver.defaultJavaOptions"] == "-XX:+UseZGC -Xss4m"


def _package(root, *names):
    for name in names:
        os.makedirs(root / name)
        (root / name / "__init__.py").write_text("")
    return str(root)


SPARK = [
    "/spark/python/lib/pyspark.zip",
    "/spark/python/lib/pyspark.zip/pyspark/sql",
    "/spark/python/lib/py4j-0.10.9.9-src.zip",
    "/spark/jars/spark-core_2.13-4.1.2.jar",
]
OTHER = ["/usr/lib/python311.zip", "/work/deps.zip", "/work/pyspark_helpers.zip"]


def test_strip_drops_spark_archives_only(tmp_path):
    site = _package(tmp_path, "pyspark", "py4j")
    path = [SPARK[0], OTHER[0], SPARK[1], OTHER[1], SPARK[2], SPARK[3], OTHER[2], site]
    assert strip_spark_archives(path) == [*OTHER, site]


def test_strip_keeps_archives_without_an_installed_copy(tmp_path):
    only_pyspark = _package(tmp_path / "a", "pyspark")
    only_py4j = _package(tmp_path / "b", "py4j")
    for path in ([*SPARK, *OTHER], [*SPARK, only_pyspark], [*SPARK, only_py4j, *OTHER]):
        assert strip_spark_archives(path) is path
    plain = [*OTHER, only_pyspark]
    assert strip_spark_archives(plain) is plain
