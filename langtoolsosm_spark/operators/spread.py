"""Scan-parallelism rebalance for under-split inputs.

A parquet file is splittable only at row-group boundaries, so a table
written as ONE row group is read by ONE task no matter what
``spark.sql.files.maxPartitionBytes`` says — and every pre-exchange
expression in the query (shingle explodes, md5, regex canonicalization,
mapInPandas kernels) runs single-threaded on it. The bench fixtures
(documents/embeddings/events at every sf tier) are exactly that shape.

``scan_spread`` round-robin repartitions such a frame to the session
default parallelism, and is a NO-OP whenever the scan already has at
least that many partitions — at production scale inputs arrive pre-split
(a 100 TB table is millions of row groups) and no shuffle is added. The
repartition is deterministic (Spark sorts before round-robin
repartitioning, SPARK-23207) and every consumer here is an aggregate /
join / distinct whose result is partitioning-independent.

``kernel_width`` is the one width rule for an exchange that feeds heavy
Python work (grouped pandas/Arrow kernels, range-ranked passes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def kernel_width(spark: SparkSession) -> int:
    """Partition count for an exchange feeding a Python kernel:
    ``max(defaultParallelism, spark.sql.shuffle.partitions)`` — shuffle
    partitions track cluster size at scale. Callers pass it as an EXPLICIT
    count: AQE's CoalesceShufflePartitions sizes partitions by shuffle
    bytes and never merges a fixed-count exchange, so a few-KB exchange
    in front of seconds of per-group Python still lands on every core."""
    return max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )


def scan_spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Rebalance ``df`` to ``min_parts`` (default: defaultParallelism)
    partitions iff it currently has fewer — the single-row-group fixture
    fix that stays a no-op on well-split production inputs."""
    sc = df.sparkSession.sparkContext
    want = min_parts or sc.defaultParallelism
    # metadata-only peek at the planned partition count: builds the RDD
    # DAG on the driver, runs no job, moves no rows through the RDD path
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want)
