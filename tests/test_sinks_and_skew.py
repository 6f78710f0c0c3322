"""Tests for trend/idempotent sink writers, salted aggregation, and the
composite job entry points."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.skew import salted_agg
from cdc_pipeline_spark.sources.files import load_table
from cdc_pipeline_spark.streaming.sinks import (
    InMemoryKV,
    capped_list_writer,
    idempotent_capped_list_writer,
    trend_hash_writer,
)

SF_DIR = "/root/testdata/sf0.001"


def test_trend_hash_writer_period_over_period(spark):
    kv = InMemoryKV()
    writer = trend_hash_writer(
        kv, "kpi:current", order_cols=["window_end"], trend_cols=["revenue"],
        state_key_prefix="kpi:hourly", period_seconds=3600,
    )
    hour = 3600
    # first batch: hour bucket 10 — no baseline → trend 0.0, baseline stored
    b1 = spark.createDataFrame([(10 * hour + 30, 100.0)], "window_end long, revenue double")
    writer(b1, 0)
    assert kv.read_hash("kpi:current")["revenue_trend"] == "0.0"
    assert kv.read_hash("kpi:hourly:10")["revenue"] == "100.0"
    # second batch in the same hour must NOT overwrite the baseline
    writer(spark.createDataFrame([(10 * hour + 60, 140.0)], "window_end long, revenue double"), 1)
    assert kv.read_hash("kpi:hourly:10")["revenue"] == "100.0"
    # next hour: trend vs previous hour's baseline (150 vs 100 → +50%)
    writer(spark.createDataFrame([(11 * hour + 30, 150.0)], "window_end long, revenue double"), 2)
    assert kv.read_hash("kpi:current")["revenue_trend"] == "50.0"


def test_idempotent_list_writer_skips_replayed_batch(spark):
    kv = InMemoryKV()
    writer = idempotent_capped_list_writer(kv, "feed", max_len=5, order_cols=["ts"])
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "ts long, v string")
    writer(batch, 7)
    assert len(kv.lists["feed"]) == 2
    writer(batch, 7)  # replay of same micro-batch id → no duplicates
    assert len(kv.lists["feed"]) == 2
    writer(spark.createDataFrame([(3, "c")], "ts long, v string"), 8)
    assert len(kv.lists["feed"]) == 3
    assert json.loads(kv.lists["feed"][0])["v"] == "c"


@pytest.mark.parametrize("make_writer", [capped_list_writer, idempotent_capped_list_writer])
def test_list_writer_publishes_once_per_batch(spark, make_writer):
    """Appending a 5-row batch keeps the newest-first order and the cap
    but publishes once, the newest row: each publish makes every WS and
    SSE client re-fetch and re-send the list."""
    kv = InMemoryKV()
    writer = make_writer(kv, "feed", 6, ["ts"], "chan")
    writer(spark.createDataFrame([(1, "a"), (2, "b")], "ts long, v string"), 0)
    writer(spark.createDataFrame([(t, f"r{t}") for t in (5, 3, 7, 4, 6)], "ts long, v string"), 1)
    assert [json.loads(i)["ts"] for i in kv.lists["feed"]] == [7, 6, 5, 4, 3, 2]
    assert [(c, json.loads(p)) for c, p in kv.published] == [
        ("chan", {"ts": 2, "v": "b"}),
        ("chan", {"ts": 7, "v": "r7"}),
    ]


def test_salted_agg_matches_plain_agg(spark):
    ev = load_table(spark, SF_DIR, "events")
    plain = {
        (r.event_type): (r.revenue, r.n)
        for r in ev.groupBy("event_type")
        .agg(F.round(F.sum("value"), 2).alias("revenue"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        (r.event_type): (r.revenue, r.n)
        for r in salted_agg(
            ev,
            ["event_type"],
            [F.sum("value").alias("s"), F.count(F.lit(1)).alias("c")],
            [F.round(F.sum("s"), 2).alias("revenue"), F.sum("c").alias("n")],
            n_salts=8,
            salt_source="user_id",
        ).collect()
    }
    assert salted == plain


def test_salted_agg_fallback_salt_deterministic(spark):
    """Without salt_source the salt hashes every input column — content-
    derived, so re-runs (and task retries) produce identical groupings;
    the merged result must also still match the plain aggregation."""
    ev = load_table(spark, SF_DIR, "events").select("event_type", "value")
    run = lambda: sorted(  # noqa: E731
        salted_agg(
            ev,
            ["event_type"],
            [F.sum("value").alias("s"), F.count(F.lit(1)).alias("c")],
            [F.round(F.sum("s"), 2).alias("revenue"), F.sum("c").alias("n")],
            n_salts=8,
        ).collect()
    )
    first, second = run(), run()
    assert first == second
    plain = sorted(
        ev.groupBy("event_type")
        .agg(F.round(F.sum("value"), 2).alias("revenue"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert first == plain


def test_composite_jobs_start_and_stop(spark, tmp_path):
    import datetime as dt

    from cdc_pipeline_spark.sources.files import stream_parquet
    from cdc_pipeline_spark.streaming.jobs import start_infrastructure_job
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("created_at", TimestampType()),
            StructField("recorded_at", TimestampType()),
            StructField("metric_name", StringType()),
            StructField("metric_value", DoubleType()),
            StructField("node_name", StringType()),
            StructField("id", LongType()),
        ]
    )
    base = dt.datetime(2024, 1, 1)
    rows = [(base, base, "cpu_percent", 40.0, "node-1", 1), (base, base, "memory_percent", 60.0, "node-2", 2)]
    src_dir = str(tmp_path / "infra")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src_dir)

    kv = InMemoryKV()
    queries = start_infrastructure_job(
        stream_parquet(spark, src_dir, schema),
        stream_parquet(spark, src_dir, schema),
        stream_parquet(spark, src_dir, schema),
        kv,
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    for q in queries:
        q.awaitTermination(120)
    assert kv.lists.get("nexus:traffic:timeseries")
    assert kv.read_hash("nexus:health:current")["cpu_avg"] == "40.0"
    assert kv.read_hash("nexus:geo:header")["request_count"] == "2"


def test_capped_list_writer_upsert_dedupes_reemitted_windows(spark):
    from cdc_pipeline_spark.streaming.sinks import capped_list_writer

    kv = InMemoryKV()
    writer = capped_list_writer(
        kv, "traffic", max_len=3, order_cols=["window_end"], dedupe_key="window_end"
    )
    # window 100 emitted, then RE-emitted with a revised count (update
    # mode), plus newer windows
    writer(spark.createDataFrame([(100, 5)], "window_end long, n long"), 0)
    writer(spark.createDataFrame([(100, 9), (110, 2)], "window_end long, n long"), 1)
    items = [json.loads(i) for i in kv.lists["traffic"]]
    assert [(i["window_end"], i["n"]) for i in items] == [(110, 2), (100, 9)]
    # cap evicts the OLDEST window, not the most recently pushed
    writer(spark.createDataFrame([(120, 1), (130, 4)], "window_end long, n long"), 2)
    items = [json.loads(i) for i in kv.lists["traffic"]]
    assert [i["window_end"] for i in items] == [130, 120, 110]


def test_idempotent_list_writer_new_run_unfreezes_guard(spark):
    kv = InMemoryKV()
    w1 = idempotent_capped_list_writer(kv, "feed2", max_len=5, order_cols=["ts"], run_id="run-a")
    w1(spark.createDataFrame([(1, "a")], "ts long, v string"), 500)
    # checkpoint reset: epoch ids restart at 0 under a new run_id — the
    # guard must not silently drop the new run's batches
    w2 = idempotent_capped_list_writer(kv, "feed2", max_len=5, order_cols=["ts"], run_id="run-b")
    w2(spark.createDataFrame([(2, "b")], "ts long, v string"), 0)
    assert len(kv.lists["feed2"]) == 2


def test_trend_hash_writer_tolerates_null_aggregates(spark):
    kv = InMemoryKV()
    writer = trend_hash_writer(
        kv, "kpi:n", order_cols=["window_end"], trend_cols=["latency_p50"],
        state_key_prefix="kpi:nh", period_seconds=3600,
    )
    b = spark.createDataFrame([(3600, None)], "window_end long, latency_p50 double")
    writer(b, 0)  # must not raise float(None)
    snap = kv.read_hash("kpi:n")
    assert snap["latency_p50_trend"] == "0.0"
    assert "latency_p50" not in snap, "NULL aggregates are dropped, not stringified"
