"""Scale-adaptive parallelism floor (optimization guide §2.5, input skew).

CPU-heavy per-row operators (8x md5 per shingle, cosine lambdas, Arrow
passes) inherit the scan's partitioning. A small or single-row-group
parquet input yields 1-2 scan tasks, so the whole chain runs on 1-2 of N
cores. ``ensure_parallelism`` round-robin repartitions up to the session's
defaultParallelism ONLY when the input has fewer partitions than that —
the shuffle moves just the projected input rows, far cheaper than the
serialized CPU work it unlocks. At real scale (scan partitions >= cores)
it is a no-op, so nothing extra is ever shuffled at 100 TB; there is no
constant tuned to either local mode or a cluster size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
