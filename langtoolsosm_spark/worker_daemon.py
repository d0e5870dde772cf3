"""Python worker daemon that imports pyspark from the installed package.

Spark starts its Python workers with ``PYTHONPATH`` led by its own
archives: ``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries),
``py4j-*-src.zip`` and the ``spark-core`` jar. The daemon imports pyspark
from them, so a reused worker ends up holding one ``zipimporter`` per
pyspark subpackage plus one each for py4j and the jar (16 on pyspark
4.1.2). Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python 3.11 each cached
``zipimporter`` then re-reads its whole archive directory.

Timed inside a task on reused workers of a ``local[4]`` session (4 CPUs),
that call took 223 ms with the 16 zipimporters and 0.1 ms without them. A
4-task identity ``rdd.map`` went from 0.37 to 0.16 s, and a no-op
``mapInArrow`` over 4 partitions from 0.54 to 0.33 s (medians of 10).

Run as ``python -m langtoolsosm_spark.worker_daemon`` (Spark does, when
``spark.python.daemon.module`` names this module; ``session.get_spark``
sets that in local mode). It drops Spark's archives from ``sys.path`` and
``sys.path_importer_cache`` when ``pyspark`` and ``py4j`` both resolve on
the rest of the path, then runs ``pyspark.daemon``. Forked workers inherit
the cleaned path. Any other zip on the path (a ``--py-files`` archive, the
stdlib's ``python311.zip``) stays. Nothing here imports pyspark at module
level: the import must happen after the path is cleaned.
"""

from __future__ import annotations

import importlib.machinery
import os
import re
import runpy
import sys

_SPARK_ARCHIVE = re.compile(r"pyspark\.zip|py4j-.*-src\.zip|.*\.jar")


def _in_spark_archive(entry: str) -> bool:
    """Whether ``entry`` is one of Spark's archives or a path inside one
    (a subpackage path such as ``.../pyspark.zip/pyspark/sql``)."""
    return any(_SPARK_ARCHIVE.fullmatch(part) for part in entry.split(os.sep))


def strip_spark_archives(path: list[str]) -> list[str]:
    """``path`` without Spark's own archives, or ``path`` unchanged when
    ``pyspark`` or ``py4j`` cannot be found on what would remain."""
    kept = [p for p in path if not _in_spark_archive(p)]
    if len(kept) == len(path):
        return path
    finder = importlib.machinery.PathFinder
    if any(finder.find_spec(m, kept) is None for m in ("pyspark", "py4j")):
        return path
    return kept


def main() -> None:
    kept = strip_spark_archives(sys.path)
    if kept is not sys.path:
        sys.path[:] = kept
        for entry in list(sys.path_importer_cache):
            if _in_spark_archive(entry):
                del sys.path_importer_cache[entry]
    runpy.run_module("pyspark.daemon", run_name="__main__")


if __name__ == "__main__":
    main()
