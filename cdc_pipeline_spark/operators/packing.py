"""Training-sequence packing: assign documents to fixed-token-budget
packs.

LLM training batches concatenate documents into fixed-length sequences;
the pipeline step is "give every document a pack id such that packs are
filled in a deterministic order". This implements offset packing: within
each partition group, documents are laid out in a deterministic order,
and a document belongs to the pack where its START offset falls
(running-sum window → integer-divide by the budget). Documents larger
than the budget simply span packs — the trainer's concat+chunk step
handles splitting; the pipeline's job is the deterministic layout.

Scale: the window partitions by ``partition_cols`` (e.g. source shard),
so the running sum is per-group and distributes; a GLOBAL ordered pack
layout would serialize into one task — at 100 TB partition by a stable
shard key and treat pack ids as (shard, local_pack). One shuffle on the
partition key, whole-stage-codegen arithmetic after.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(
    df: DataFrame,
    token_count_col: str,
    budget: int,
    partition_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Adds ``pack_id``: 0-based pack index within each partition group,
    by start-offset of the document in the group's deterministic layout
    (ordered by ``order_cols``, which must be a total order per group).
    Integer arithmetic throughout — engine-portable (no double division).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(F.col(token_count_col).cast("long")).over(w)
    return (
        df.withColumn("__start", cum - F.col(token_count_col).cast("long"))
        # integer division (SQL DIV): engine-portable, no double rounding
        .withColumn("pack_id", F.expr(f"__start DIV {int(budget)}"))
        .drop("__start")
    )


DEFAULT_LENGTH_EDGES: tuple[int, ...] = (16, 32, 64, 128, 256, 512, 1024)


def length_bucketed_batches(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    batch_size: int,
    edges: Sequence[int] = DEFAULT_LENGTH_EDGES,
) -> DataFrame:
    """Padded-batch formation with length bucketing — the OTHER batch
    layout next to :func:`pack_sequences`: instead of concatenating to a
    token budget, group ``batch_size`` similar-length documents and pad
    each to the batch max. Bucketing by length cap (smallest edge ≥
    n_tokens; beyond the last edge = one overflow bucket) bounds the
    per-batch length spread, which is what keeps the padding overhead
    low — the standard inference/finetuning batching trick.

    Scale shape: batches form per (bucket, shard) with shard =
    hash(id) % 4 — a trainer loads shards independently, so
    batch formation never needs a global order. One shuffle on
    (bucket, shard); within a shard the layout is a deterministic
    window (n_tokens desc, id), so reruns and engines agree. Returns
    one row per batch: (bucket_cap, shard, batch_idx, n_docs,
    max_tokens, sum_tokens, pad_overhead) where pad_overhead is the
    wasted fraction of the padded token grid, 6-dp rounded.
    """
    if batch_size <= 0:
        raise ValueError(f"batch_size must be positive, got {batch_size}")
    from cdc_pipeline_spark.operators.rounding import round_half_up
    from cdc_pipeline_spark.operators.sampling import KNUTH

    n = F.col(tokens_col).cast("long")
    cap = F.lit(None).cast("long")
    for e in sorted(edges, reverse=True):
        cap = F.when(n <= F.lit(int(e)), F.lit(int(e))).otherwise(cap)
    bucket = F.coalesce(cap, F.lit(-1)).alias("bucket_cap")  # -1 = overflow
    shard = (
        F.pmod(F.col(id_col).cast("long") * F.lit(KNUTH) + F.lit(7), F.lit(2147483647))
        % F.lit(4)
    ).alias("shard")
    laid = df.select(F.col(id_col), n.alias("__n"), bucket, shard)
    w = Window.partitionBy("bucket_cap", "shard").orderBy(
        F.col("__n").desc(), F.col(id_col).asc()
    )
    batched = laid.withColumn(
        "batch_idx",
        F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(batch_size)).cast("long"),
    )
    grid = F.col("n_docs") * F.col("max_tokens")
    return (
        batched.groupBy("bucket_cap", "shard", "batch_idx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("__n").alias("max_tokens"),
            F.sum("__n").alias("sum_tokens"),
        )
        .select(
            "bucket_cap",
            "shard",
            "batch_idx",
            "n_docs",
            "max_tokens",
            "sum_tokens",
            round_half_up(
                (grid - F.col("sum_tokens")) / F.greatest(grid, F.lit(1)), 6
            ).alias("pad_overhead"),
        )
    )
