"""Streaming corpus ingest: the steady-state form of the training-data
build — documents arrive continuously, and every micro-batch is gated,
chunked and landed into the sharded training layout.

Composition (all stateless, so the whole chain runs in update-free
append mode with NO state store):

    file/Kafka stream → quality gate (C4/Gopher rules, scan-parallel)
                      → RAG chunking (zero shuffle)
                      → deterministic shard assignment
                      → parquet FILE SINK, partitioned by shard

Exactly-once for free: Spark's file sink commits each batch through its
``_spark_metadata`` transaction log, so a replayed micro-batch after a
crash re-commits the same files idempotently — no foreachBatch
bookkeeping needed (contrast: the rollup writer needs per-batch
partition overwrite because it MERGES; this sink only appends rows
whose identity is a pure function of the input).

The batch twin of this job is `pipelines.prepare_training_corpus` +
`batch_sink.write_training_shards`; the golden test pins
streaming ≡ batch over the same input. Near-dup filtering is
deliberately NOT in this chain — dedup against history is the
`dedup.incremental_minhash_neardup` maintenance pass, run on the landed
shards at its own cadence (same split as reference's stream/batch
layering, FLOW.md's hot path vs maintenance).

No reference counterpart (its streams aggregate events; this lands
training rows), reference-adjacent: file stream config
`src/streaming/kafka_sources.py:55-63`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


def corpus_ingest_transform(docs: DataFrame) -> DataFrame:
    """The (stateless) gate → chunk → shard transformation, shared
    verbatim by the streaming job and its batch twin — one definition,
    two execution modes, which is what makes the golden equivalence test
    meaningful. Output: (doc_id, chunk_id, n_tokens, chunk_text, shard).
    """
    from cdc_pipeline_spark.operators.chunking import chunk_documents
    from cdc_pipeline_spark.operators.quality import quality_rule_columns

    gated = docs.select("doc_id", "text", *quality_rule_columns("text")).filter(F.col("keep"))
    chunks = chunk_documents(gated, window=64, stride=48)
    return chunks.withColumn(
        "shard", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(8))
    )


def start_corpus_ingest(
    spark: SparkSession,
    src_path: str,
    out_path: str,
    checkpoint: str,
    schema: StructType,
    max_files_per_trigger: int | None = 1,
) -> StreamingQuery:
    """Start the streaming corpus-ingest job over a file source (the
    Kafka variant swaps the reader; the transform chain is identical).

    It drains the current backlog and stops (``availableNow``, the
    catch-up/backfill mode). Restart with the same checkpoint to resume
    exactly-once from the last committed batch."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(src_path)
    return (
        corpus_ingest_transform(stream)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("shard")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
