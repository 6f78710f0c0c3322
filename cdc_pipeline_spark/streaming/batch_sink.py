"""Partitioned parquet batch sink — the reference's unbuilt batch-ETL
write side (``src/batch/batch_etl.py:12-20`` was a TODO: "CSV/JSON/
Parquet/logs → Iceberg"). Iceberg itself needs its runtime jar; the
table layout decisions (partitioning, file sizing, compaction-friendly
writes) are the engine's job and are identical either way.

Scale rules encoded here:
  * partition by low-cardinality time/tenant columns (date, hour) —
    never by high-cardinality keys (one directory per key kills the
    namenode/listing);
  * size output files (repartition on the partition columns, or
    ``num_output_files`` without them; ``layout.compact_small_files``
    after the fact) — thousands of KB-sized files are as bad as one
    10 GB file;
  * writes go through a deterministic column order so schema drift is
    diffable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    num_output_files: int | None = None,
) -> None:
    """Write a DataFrame as a partitioned parquet table.

    With partition columns, rows are pre-shuffled onto their partition
    (``repartition(partition_cols)``) so each task writes one file per
    directory instead of every task writing into every directory (the
    small-files explosion).

    A many-partition input of small batches in the NON-partitioned mode
    would write one tiny file per task. Pass ``num_output_files`` there
    to consolidate via a shuffle-free ``coalesce``; without it,
    non-partitioned callers are expected to pre-coalesce.
    """
    out = df
    if partition_cols:
        out = out.repartition(*[F.col(c) for c in partition_cols])
    elif num_output_files:
        out = out.coalesce(num_output_files)
    writer = out.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def with_date_partitions(df: DataFrame, time_col: str) -> DataFrame:
    """Attach (event_date, event_hour) partition columns from an event
    timestamp — the standard time-partitioned lake layout."""
    return df.withColumn("event_date", F.to_date(F.col(time_col))).withColumn(
        "event_hour", F.hour(F.col(time_col))
    )


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a managed table bucketed (and optionally sorted) by the
    join/aggregation key — the lake-layout answer to repeated co-located
    joins at 100 TB: two tables bucketed on the same key with the same
    bucket count join with NO shuffle on either side (verified by plan
    test). Bucketing metadata requires the session catalog, hence
    saveAsTable rather than path-based parquet."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def write_training_shards(df: DataFrame, path: str, id_col: str, n_shards: int = 8) -> DataFrame:
    """Export a prepared corpus as deterministic training shards and
    return the manifest.

    Shard assignment is ``pmod(xxhash64(id), n_shards)`` — a pure
    function of the record id, so re-exports, task retries and cluster
    resizes place every record in the SAME shard (a reader can resume
    mid-epoch against a re-written export). Layout:
    ``path/shard=<k>/part-*.parquet``, one task per shard directory
    (repartition on the shard key — no small-files explosion). The
    returned manifest (one row per shard:
    row count) is what a data loader checks before an epoch; persist it
    next to the export.

    At 100 TB: shards are the unit of reader parallelism — size
    ``n_shards`` to the training world size × prefetch factor, not to
    Spark's partition count.
    """
    shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).alias("shard")
    df.withColumn("shard", shard).repartition(F.col("shard")).write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(path)
    back = df.sparkSession.read.parquet(path)
    return back.groupBy("shard").agg(F.count(F.lit(1)).alias("n_rows"))


def avro_batch_writer(path: str, codec: str = "null"):
    """``foreachBatch`` writer landing each micro-batch as Avro OCF
    container files under ``<path>/batch-<id>/`` — the interchange-edge
    sink for consumers that ingest Avro (vendor feeds, Kafka-ecosystem
    tooling), mirroring the jar-free batch writer
    (``sources.files.write_avro``).

    Replay-idempotent by construction: foreachBatch is at-least-once,
    and a replayed batch rewrites ``batch-<id>/`` with byte-identical
    containers — same partition file names, same DETERMINISTIC sync
    markers (``avro_ocf._sync_marker`` is keyed on schema + partition,
    not randomness), so the at-least-once delivery converges to
    exactly-once output. The replay lands WRITE-ASIDE: the whole batch
    (containers + ``_SUCCESS`` marker, marker last) is rewritten into
    ``batch-<id>.inprogress/`` and swapped in with two directory
    renames — a replay of an already-committed, consumer-visible batch
    never takes it offline for the duration of the rewrite (an
    in-place overwrite would), only for the swap itself; a crash
    mid-rewrite leaves the committed directory untouched.
    """
    import os
    import shutil

    from cdc_pipeline_spark.sources.files import write_avro

    def write(batch_df: DataFrame, batch_id: int) -> None:
        target = os.path.join(path, f"batch-{int(batch_id):06d}")
        staging = target + ".inprogress"
        write_avro(batch_df, staging, codec=codec, mode="overwrite")
        with open(os.path.join(staging, "_SUCCESS"), "w"):
            pass
        old = target + ".old"
        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(target):
            os.rename(target, old)
        os.rename(staging, target)
        shutil.rmtree(old, ignore_errors=True)

    return write
