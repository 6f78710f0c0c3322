"""Physical data-layout operators: Z-order clustering + small-file
compaction.

At 100 TB the dominant query cost is how much parquet a scan can SKIP.
Row-group min/max statistics only prune on columns the data is sorted
by; a linear sort helps exactly one column. Z-ordering (Morton curve)
interleaves the bits of several columns' ranks so a range predicate on
ANY of them maps to a bounded number of curve segments — multi-column
pruning from one layout (public technique: Morton 1966; used by every
modern lakehouse table format).

Compaction is the other half: streaming sinks and small micro-batches
leave thousands of KB-files whose open/footer overhead dwarfs the data.
Rewriting a partition into target-sized files restores scan efficiency.

Both operators are pure DataFrame transforms — the write side reuses
``streaming.batch_sink.write_partitioned_parquet``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def zorder_key(rank_cols: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of pre-computed integer ranks
    into one Morton key (column i contributes bit j to position
    ``j * n_cols + i``). Pure long arithmetic — whole-stage codegen,
    ≤ 64 output bits enforced."""
    n = len(rank_cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a long's 63 usable bits")
    key = F.lit(0).cast("long")
    for i, col in enumerate(rank_cols):
        for j in range(bits):
            key = key + F.shiftleft(
                F.shiftright(col.cast("long"), j).bitwiseAND(F.lit(1)), j * n + i
            )
    return key


def zorder_sort(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    num_partitions: int | None = None,
) -> DataFrame:
    """Cluster rows along a Z-curve over ``cols``.

    Each column is first reduced to a dense integer rank via
    ``percent_rank`` scaled to ``2^bits`` levels — rank-based (not
    value-based) interleaving makes the curve resolution independent of
    each column's distribution or type (skewed longs, doubles and
    strings all spread evenly). Rows are then range-partitioned and
    sorted by the interleaved key, so row groups cover small Z-curve
    segments → parquet min/max prunes range predicates on ANY of the
    Z-columns.

    Cost: one window pass per column (single global shuffle each — at
    scale, swap in approx quantile-bucketing to rank without a global
    sort) plus the final range partition. Worth it for write-once,
    read-many tables.
    """
    levels = (1 << bits) - 1
    ranked = df
    rank_cols = []
    for c in cols:
        rname = f"__zr_{c}"
        ranked = ranked.withColumn(
            rname,
            F.floor(F.percent_rank().over(Window.orderBy(F.col(c))) * levels).cast("long"),
        )
        rank_cols.append(F.col(rname))
    keyed = ranked.withColumn("__zkey", zorder_key(rank_cols, bits))
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    out = keyed.repartitionByRange(parts, F.col("__zkey")).sortWithinPartitions("__zkey")
    return out.drop("__zkey", *[f"__zr_{c}" for c in cols])


def compact_small_files(spark, path: str, target_rows_per_file: int) -> int:
    """Rewrite a parquet directory into ceil(total/target) files.
    Returns the file count
    written. Read → repartition → overwrite-to-temp → swap would be the
    zero-downtime variant; here the overwrite is in place (the caller
    owns scheduling around readers)."""
    import math

    df = spark.read.parquet(path)
    n_files = max(1, math.ceil(df.count() / target_rows_per_file))
    # write to a sibling temp dir then swap — a failed in-place overwrite
    # would destroy the only copy
    tmp = path.rstrip("/") + ".__compact_tmp"
    df.repartition(n_files).write.mode("overwrite").option(
        "maxRecordsPerFile", int(target_rows_per_file)
    ).parquet(tmp)
    import glob
    import shutil

    shutil.rmtree(path)
    shutil.move(tmp, path)
    # report what was actually written, not the planned task count
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
