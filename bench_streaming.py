#!/usr/bin/env python
"""Streaming throughput bench: sustained rows/s through the KPI pipeline
(rate source → projection → watermark → sliding-window agg → kv sink).

Prints one JSON line {"metric": "streaming_rows_per_sec", ...}. Not part
of the driver's bench contract (bench.py owns that); numbers recorded in
BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

from pyspark.sql import functions as F

from cdc_pipeline_spark.operators import aggregates
from cdc_pipeline_spark.session import create_spark_session
from cdc_pipeline_spark.streaming.sinks import InMemoryKV, latest_row_hash_writer

CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
RATE = int(os.environ.get("SPARK_GRAFT_STREAM_RATE", "200000"))  # rows/s offered
DURATION = int(os.environ.get("SPARK_GRAFT_STREAM_SECS", "30"))


def main() -> None:
    spark = create_spark_session(
        app_name="cdc-pipeline-spark-stream-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")

    source = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(RATE))
        .option("numPartitions", CPUS)
        .load()
    )
    fused = source.select(
        F.col("timestamp").alias("event_time"),
        (F.col("value") % 10000).alias("session_id"),
        F.when(F.col("value") % 10 == 0, (F.col("value") % 100).cast("double")).otherwise(F.lit(0.0)).alias(
            "revenue_amount"
        ),
        F.when(F.col("value") % 10 == 0, F.lit(1)).otherwise(F.lit(0)).alias("order_count"),
        F.when(F.col("value") % 50 == 0, F.lit(1)).otherwise(F.lit(0)).alias("error_count"),
        F.lit(1).alias("request_count"),
        (F.col("value") % 500).cast("double").alias("latency_ms"),
    )
    agg = aggregates.windowed_kpi(fused.withWatermark("event_time", "1 minute"))

    kv = InMemoryKV()
    processed = {"rows": 0}
    writer = latest_row_hash_writer(kv, "bench:kpi", order_cols=["window_end"])

    def counting_writer(batch, batch_id):
        writer(batch, batch_id)

    query = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp())
        .foreachBatch(counting_writer)
        .trigger(processingTime="5 seconds")
        .start()
    )

    start = time.time()
    time.sleep(DURATION)
    # sum input rows across completed micro-batches from query progress
    rows = 0
    secs = 0.0
    for p in query.recentProgress:
        rows += p["numInputRows"]
        secs += p["batchDuration"] / 1000.0
    elapsed = time.time() - start
    query.stop()

    sustained = rows / elapsed if elapsed else 0.0
    print(f"# input rows {rows} over {elapsed:.1f}s wall; busy {secs:.1f}s", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "streaming_rows_per_sec",
                "value": round(sustained, 1),
                "unit": "rows/s",
                "offered_rate": RATE,
                "kpi_snapshot_written": bool(kv.read_hash("bench:kpi")),
                "trigger": "5 seconds",
            }
        )
    )
    cdc_result = bench_generated_cdc(spark)
    print(json.dumps(cdc_result))
    spark.stop()


def bench_generated_cdc(spark) -> dict:
    """End-to-end CDC job bench: seeded generator traffic (the engine's
    counterpart of the reference's `make stress`) through the full
    transaction job — KPI fusion + activity feed + region snapshot —
    from file-source micro-batches. Reports drained rows/s of wall time
    across all three queries."""
    import shutil

    from pyspark.sql import functions as F

    from cdc_pipeline_spark.sources.files import stream_parquet
    from cdc_pipeline_spark.streaming import generator, jobs
    from cdc_pipeline_spark.streaming.generator import (
        generate_batches,
        kpi_components_from_cdc,
    )
    from cdc_pipeline_spark.streaming.sinks import InMemoryKV

    rate = int(os.environ.get("SPARK_GRAFT_CDC_RATE", "2000"))  # cycles/s offered
    ticks = int(os.environ.get("SPARK_GRAFT_CDC_TICKS", "10"))
    base = tempfile.mkdtemp(prefix="cdc-gen-bench-")
    try:
        dirs = generate_batches(spark, base, rate=rate, n_ticks=ticks, seed=7)
        n_rows = sum(spark.read.parquet(d).count() for d in dirs.values())

        def src(table):
            return stream_parquet(spark, dirs[table], generator.TABLE_SCHEMAS[table],
                                  max_files_per_trigger=None)

        fused = kpi_components_from_cdc(src("orders"), src("user_events"), src("request_log"))
        region_src = src("user_events").select(
            F.col("created_at").alias("event_time"),
            F.col("region_name"),
            F.coalesce(F.col("amount"), F.lit(0.0)).alias("sales"),
            F.lit(1).alias("request_count"),
        )
        kv = InMemoryKV()
        start = time.time()
        queries = jobs.start_transaction_job(
            fused, src("user_events"), region_src, kv,
            os.path.join(base, "ckpt"), trigger={"availableNow": True},
        )
        for q in queries:
            q.awaitTermination(600)
        elapsed = time.time() - start
        return {
            "metric": "cdc_generated_rows_per_sec",
            "value": round(n_rows / elapsed, 1) if elapsed else 0.0,
            "unit": "rows/s",
            "generated_rows": n_rows,
            "offered_cycles_per_sec": rate,
            "wall_sec": round(elapsed, 2),
            "kpi_snapshot_written": bool(kv.read_hash("nexus:kpi:current")),
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
