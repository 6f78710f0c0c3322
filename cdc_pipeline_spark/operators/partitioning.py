"""Partitioning utilities shared by expression-heavy operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition an under-partitioned input to the session's default
    parallelism before expensive per-row work — shingling, hashing,
    all-pairs scoring, Arrow decode.

    Small single-file parquet inputs arrive as ONE partition and would
    otherwise serialize the whole operator onto one core (measured 10s →
    0.6s for sf0.1 shingling). Uses an explicit numPartitions so AQE does
    not coalesce it away. The physical partition count is checked first
    and well-partitioned inputs pass through untouched: an unconditional
    Exchange on an already-parallel 100 TB input (or on every streaming
    micro-batch) would dominate the cost of narrow scan-speed operators
    like chunking.
    """
    if df.isStreaming:
        # a streaming frame has no inspectable partitioning (and .rdd is
        # illegal on it); micro-batches take the source's parallelism —
        # which is precisely the "no Exchange per micro-batch" behavior
        # this helper exists to preserve
        return df
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    return df.repartition(parallelism)
