#!/usr/bin/env python
"""Adversarial-skew benchmark for the capped/salted scale paths.

Plants the two classic 100 TB failure shapes at sf0.1 and measures the
guards against the unguarded baselines, printing ONE JSON line:

  * hot LSH buckets — 30% of the corpus replaced with ONE boilerplate
    document, so every band funnels those docs into a single bucket and
    the candidate self-join goes quadratic. Measured: candidate-pair
    count and wall time for `minhash_lsh_pairs` with `max_bucket=None`
    (the oracle-exact default) vs `max_bucket=100` (the production
    guard, `operators/dedup.py::prune_hot_buckets`).
  * hot aggregation keys — events with 90% of rows on one key.
    Measured: the max reduce-partition row count (the straggler's
    workload — deterministic, unlike wall clock) for a plain
    groupBy vs `operators/skew.py::salted_agg` with 16 salts, plus
    both wall times.

Caps stay DEFAULT-OFF in the registered queries; this harness exists
to document what they buy when an operator owner turns them on.
Results are recorded in SCALE.md ("Adversarial-skew measurements").
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from cdc_pipeline_spark.session import create_spark_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Fixed, not host-sized, so plan shapes and skew metrics compare across hosts.
SHUFFLE_PARTITIONS = 32
BOILERPLATE_FRACTION = 0.3
MAX_BUCKET = 100
N_SALTS = 16


def planted_corpus(spark):
    """sf0.1 documents with 30% replaced by one boilerplate string —
    the 'every site shares a cookie banner' shape."""
    from cdc_pipeline_spark.sources.files import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    boiler = (
        "all rights reserved terms of service privacy policy cookie "
        "settings subscribe to our newsletter follow us on social media"
    )
    return docs.withColumn(
        "text",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(10)) < int(BOILERPLATE_FRACTION * 10),
            F.lit(boiler),
        ).otherwise(F.col("text")),
    ).localCheckpoint()


def measure_lsh(spark, docs, max_bucket):
    from cdc_pipeline_spark.operators.dedup import minhash_lsh_pairs

    start = time.perf_counter()
    # verify=False isolates the candidate join — the stage the cap
    # protects; verification cost is proportional to candidates anyway
    n = minhash_lsh_pairs(docs, verify=False, max_bucket=max_bucket).count()
    return n, round(time.perf_counter() - start, 3)


def hot_key_events(spark):
    from cdc_pipeline_spark.sources.files import load_table

    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    # 90% of rows collapse onto one key
    return ev.withColumn(
        "k",
        F.when(F.pmod(F.col("event_id"), F.lit(10)) < 9, F.lit("hot")).otherwise(
            F.concat(F.lit("cold-"), F.pmod(F.col("event_id"), F.lit(1000)).cast("string"))
        ),
    ).localCheckpoint()


def reduce_partition_skew(df, keys, n_partitions):
    """Max rows landing in one hash-shuffle reduce partition — the
    straggler task's input size, computed deterministically."""
    per_key = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    per_part = (
        per_key.withColumn(
            "p", F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_partitions))
        )
        .groupBy("p")
        .agg(F.sum("n").alias("rows"))
    )
    return max(r["rows"] for r in per_part.collect())


def measure_agg(spark, ev, salted: bool):
    from cdc_pipeline_spark.operators.skew import salted_agg

    start = time.perf_counter()
    if salted:
        out = salted_agg(
            ev,
            ["k"],
            [
                F.sum("value").alias("s"),
                F.count(F.lit(1)).alias("c"),
                F.collect_set(F.pmod(F.col("user_id"), F.lit(512))).alias("u"),
            ],
            [
                F.round(F.sum("s"), 2).alias("total"),
                F.sum("c").alias("n"),
                F.size(F.array_distinct(F.flatten(F.collect_list("u")))).alias("approx_users"),
            ],
            n_salts=N_SALTS,
            salt_source="event_id",
        )
    else:
        out = ev.groupBy("k").agg(
            F.round(F.sum("value"), 2).alias("total"),
            F.count(F.lit(1)).alias("n"),
            F.size(F.collect_set(F.pmod(F.col("user_id"), F.lit(512)))).alias("approx_users"),
        )
    rows = out.count()
    return rows, round(time.perf_counter() - start, 3)


def ingest_frames(spark, n_history: int = 1_000_000, n_increment: int = 200_000,
                  n_overlap: int = 10_000):
    """Incremental-ingest shape: a big fingerprint history, a small
    increment, ~5% true overlap — the docs_bloom_incremental scenario
    at a history:increment ratio the sandbox corpus can't produce."""
    hist = (
        spark.range(n_history)
        .select(
            F.when(F.col("id") < n_overlap, F.md5(F.concat(F.lit("i"), F.col("id"))))
            .otherwise(F.md5(F.concat(F.lit("h"), F.col("id"))))
            .alias("fingerprint")
        )
        .localCheckpoint()
    )
    inc = (
        spark.range(n_increment)
        .select(
            F.col("id").alias("doc_id"),
            F.md5(F.concat(F.lit("i"), F.col("id"))).alias("fingerprint"),
        )
        .localCheckpoint()
    )
    return hist, inc


def measure_anti(spark, hist, inc, bloom: bool):
    from cdc_pipeline_spark.operators.bloom import bloom_anti_join

    start = time.perf_counter()
    if bloom:
        out = bloom_anti_join(inc, hist, fact_key="fingerprint", n_bits=1 << 22)
    else:
        out = inc.join(hist, "fingerprint", "left_anti")
    rows = out.count()
    return rows, round(time.perf_counter() - start, 3)


def main() -> None:
    spark = create_spark_session(
        app_name="cdc-pipeline-spark-bench-skew",
        shuffle_partitions=SHUFFLE_PARTITIONS,
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = planted_corpus(spark)
    n_docs = docs.count()
    capped_pairs, capped_sec = measure_lsh(spark, docs, MAX_BUCKET)
    uncapped_pairs, uncapped_sec = measure_lsh(spark, docs, None)

    ev = hot_key_events(spark)
    shuffle_n = SHUFFLE_PARTITIONS
    plain_skew = reduce_partition_skew(ev, ["k"], shuffle_n)
    salted_skew = reduce_partition_skew(
        ev.withColumn("__salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS))),
        ["k", "__salt"],
        shuffle_n,
    )
    plain_rows, plain_sec = measure_agg(spark, ev, salted=False)
    salted_rows, salted_sec = measure_agg(spark, ev, salted=True)
    assert plain_rows == salted_rows

    # incremental-ingest anti join: how many history rows survive the
    # bloom prune (the join's right-side input — THE deterministic
    # metric; wall clock is the secondary one)
    from cdc_pipeline_spark.operators.bloom import bloom_filter_words, bloom_might_contain

    hist, inc = ingest_frames(spark)
    n_history = hist.count()
    words = bloom_filter_words(inc, "fingerprint", n_bits=1 << 22)
    pruned_history = hist.filter(
        bloom_might_contain(words, F.col("fingerprint"))
    ).count()
    plain_new, plain_anti_sec = measure_anti(spark, hist, inc, bloom=False)
    bloom_new, bloom_anti_sec = measure_anti(spark, hist, inc, bloom=True)
    assert plain_new == bloom_new

    print(
        json.dumps(
            {
                "metric": "adversarial_skew",
                "sf_dir": SF_DIR,
                "n_docs": n_docs,
                "boilerplate_fraction": BOILERPLATE_FRACTION,
                "lsh": {
                    "max_bucket": MAX_BUCKET,
                    "capped_candidates": capped_pairs,
                    "capped_sec": capped_sec,
                    "uncapped_candidates": uncapped_pairs,
                    "uncapped_sec": uncapped_sec,
                },
                "salted_agg": {
                    "n_salts": N_SALTS,
                    "n_groups": plain_rows,
                    "plain_max_partition_rows": plain_skew,
                    "salted_max_partition_rows": salted_skew,
                    "plain_sec": plain_sec,
                    "salted_sec": salted_sec,
                },
                "bloom_anti_ingest": {
                    "history_rows": n_history,
                    "pruned_history_rows": pruned_history,
                    "new_docs": plain_new,
                    "plain_anti_sec": plain_anti_sec,
                    "bloom_anti_sec": bloom_anti_sec,
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
