"""Range-partitioned exact global rank.

A ``Window.orderBy(...)`` with no partition key funnels every row through
ONE task — fine on fixture tiers, a stopped job at 10^12 rows. The
two-pass formulation here computes the identical 1-based dense row
numbering under any strict total order:

1. range-repartition + sort-within-partitions by the order columns and
   pin the result (one eager materialization);
2. count rows per range partition (metadata-scale collect: one row per
   partition) and turn the counts into per-partition rank offsets;
3. one narrow ``mapInPandas`` pass enumerates each partition's rows,
   adding its offset — order within a partition is preserved from the
   sort, partitions are ordered by the range exchange.

Ranks are invariant to the sampled range boundaries because the order is
strict (ties impossible by construction of the caller's key list), so
the result is byte-identical to the single-task window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .spread import kernel_width


def range_ranked(
    df: DataFrame, order_cols: list[str], rank_col: str = "rank"
) -> tuple[DataFrame, int]:
    """(ranked_df, n_rows): ``df`` with an int64 1-based ``rank_col``
    assigned by ascending ``order_cols`` (must be a strict total order —
    include a unique id as the last column). The ranked frame is
    materialized (localCheckpoint) so the offset pass and the caller's
    downstream passes share one computation; ``n_rows`` comes from the
    offset pass, so no extra count action is needed."""
    import numpy as np

    sc = df.sparkSession.sparkContext
    # width from session config, NOT df.rdd.getNumPartitions(): touching
    # .rdd on a post-shuffle frame forces AQE to execute its query
    # stages eagerly — measured 10x on the vocab_growth lineage.
    want = kernel_width(df.sparkSession)
    parted = (
        df.repartitionByRange(want, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = sorted(
        (r["__pid"], r["cnt"])
        for r in parted.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    offsets: dict[int, int] = {}
    total = 0
    for pid, cnt in counts:
        offsets[pid] = total
        total += cnt
    bc = sc.broadcast(offsets)

    out_cols = [c for c in df.columns]
    schema = parted.drop("__pid").schema.simpleString()[7:-1].replace(":", " ")
    schema = f"{schema}, {rank_col} bigint"

    def kern(batches):
        base = None
        seen = 0
        for pdf in batches:
            if not len(pdf):
                continue
            if base is None:
                base = bc.value[int(pdf["__pid"].iloc[0])]
            out = pdf[out_cols].copy()
            out[rank_col] = np.arange(
                base + seen + 1, base + seen + 1 + len(pdf), dtype=np.int64
            )
            seen += len(pdf)
            yield out

    return parted.mapInPandas(kern, schema=schema), total
