"""Structured Streaming tests: file-source micro-batches through the job
wiring, sink contents asserted against batch-mode goldens (SURVEY §5 test
plan: streaming test via file-source micro-batches with golden sink
snapshots)."""

from __future__ import annotations

import json
import os
import time
import uuid

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from cdc_pipeline_spark.operators import aggregates
from cdc_pipeline_spark.sources.files import stream_parquet
from cdc_pipeline_spark.streaming import jobs
from cdc_pipeline_spark.streaming.sinks import InMemoryKV
from cdc_pipeline_spark.streaming.stateful import consecutive_breach_alerts

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("created_at", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _write_batches(spark, base, batches):
    """Write each batch as one parquet file with increasing mtime so the
    file source ingests them in order (maxFilesPerTrigger=1)."""
    os.makedirs(base, exist_ok=True)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1)
        part = os.path.join(base, f"batch_{i}")
        df.write.mode("overwrite").parquet(part)
        # relocate the data file to the stream dir with a deterministic name
        data_file = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        os.rename(os.path.join(part, data_file), os.path.join(base, f"{i:04d}.parquet"))
        now = time.time() + i  # strictly increasing mtimes
        os.utime(os.path.join(base, f"{i:04d}.parquet"), (now, now))
    return base


def _rows(ts_values):
    import datetime as dt

    out = []
    for i, (sec, etype, val) in enumerate(ts_values):
        out.append(
            (
                i,
                dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=sec),
                100 + i % 3,
                etype,
                float(val),
            )
        )
    return out


@pytest.fixture
def stream_dir(tmp_path):
    return str(tmp_path / f"stream-{uuid.uuid4().hex[:8]}")


@pytest.fixture
def checkpoint(tmp_path):
    return str(tmp_path / "ckpt")


def _run_until_done(query, timeout=60):
    query.awaitTermination(timeout)
    assert not query.isActive or query.awaitTermination(timeout)


def test_traffic_pipeline_streaming_matches_batch(spark, stream_dir, checkpoint):
    batches = [
        _rows([(0, "view", 1), (3, "view", 2), (12, "click", 3)]),
        _rows([(14, "view", 4), (21, "purchase", 5)]),
    ]
    _write_batches(spark, stream_dir, batches)
    source = stream_parquet(spark, stream_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    kv = InMemoryKV()
    q = jobs.start_traffic_pipeline(
        source, kv, checkpoint, time_col="created_at", trigger={"availableNow": True}
    )
    q.awaitTermination(120)

    # golden: batch-mode tumbling counts over the union of all batches
    all_rows = [r for b in batches for r in b]
    batch_df = spark.createDataFrame(all_rows, EVENT_SCHEMA)
    golden = {
        r["window_start"]: r["value"]
        for r in aggregates.tumbling_traffic(batch_df, time_col="created_at").collect()
    }

    got = [json.loads(item) for item in kv.lists["nexus:traffic:timeseries"]]
    assert got, "traffic sink should have datapoints"
    # ring buffer may contain superseded window snapshots from earlier
    # micro-batches (at-least-once, reference-identical); the NEWEST entry
    # per window must match the batch golden.
    newest = {}
    for item in reversed(got):  # oldest → newest
        newest[item["window_start"]] = item["value"]
    assert newest == golden
    # label contract: "hh:mm:ss a"
    assert all(item["label"].endswith(("AM", "PM")) for item in got)


def test_kpi_pipeline_latest_hash(spark, stream_dir, checkpoint):
    batches = [
        _rows([(0, "purchase", 100.0), (5, "view", 1.0), (8, "error", 0.0)]),
        _rows([(11, "purchase", 50.0), (15, "view", 2.0)]),
    ]
    _write_batches(spark, stream_dir, batches)
    source = stream_parquet(spark, stream_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    fused = source.select(
        F.col("created_at").alias("event_time"),
        F.col("user_id").alias("session_id"),
        F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(F.lit(0.0)).alias("revenue_amount"),
        F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0)).alias("order_count"),
        F.when(F.col("event_type") == "error", F.lit(1)).otherwise(F.lit(0)).alias("error_count"),
        F.lit(1).alias("request_count"),
        F.col("value").alias("latency_ms"),
    )
    kv = InMemoryKV()
    # the pipeline aggregates with sketches (approx_count_distinct /
    # percentile_approx): streaming rejects exact distinct aggregations,
    # and exact mode exists for the batch oracle gate only.
    q = jobs.start_kpi_pipeline(fused, kv, checkpoint, trigger={"availableNow": True})
    q.awaitTermination(120)

    snap = kv.read_hash("nexus:kpi:current")
    assert snap, "kpi hash should be written"
    # events span 0..15s past the 2024-01-01 base epoch; sliding 30s/10s →
    # the latest window is [base+10, base+40), holding the 11s and 15s events
    base = 1704067200
    assert snap["window_end"] == str(base + 40)
    assert snap["orders"] == "1"
    assert snap["revenue"] == "50.0"
    assert kv.published and kv.published[-1][0] == "nexus:kpi"


def test_kpi_pipeline_trend_readback_across_batches(spark, stream_dir, checkpoint):
    """Golden for the K5 trend contract (kpi_aggregator.py:74-95): each
    micro-batch reads the PREVIOUS period's kv snapshot and publishes
    percent trends. Three batches land in three consecutive 30 s periods:
    revenue 100 → 150 (+50%) → 120 (−20%)."""
    batches = [
        _rows([(0, "purchase", 100.0)]),
        _rows([(35, "purchase", 150.0)]),
        _rows([(65, "purchase", 120.0)]),
    ]
    _write_batches(spark, stream_dir, batches)
    source = stream_parquet(spark, stream_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    fused = source.select(
        F.col("created_at").alias("event_time"),
        F.col("user_id").alias("session_id"),
        F.col("value").alias("revenue_amount"),
        F.lit(1).alias("order_count"),
        F.lit(0).alias("error_count"),
        F.lit(1).alias("request_count"),
        F.col("value").alias("latency_ms"),
    )
    kv = InMemoryKV()
    trends = []

    orig_write = kv.write_hash

    def capture(key, payload, **kw):
        orig_write(key, payload, **kw)
        if key == "nexus:kpi:current":
            trends.append((payload["window_end"], payload["revenue"], payload["revenue_trend"]))

    kv.write_hash = capture
    q = jobs.start_kpi_pipeline(
        fused, kv, checkpoint, trigger={"availableNow": True},
        trend_period_seconds=30,
    )
    q.awaitTermination(120)

    # batch 1: no prior period snapshot → trend 0; batch 2: (150−100)/100;
    # batch 3: (120−150)/150. Latest windows end at base+30/+60/+90 →
    # period buckets are consecutive, so each batch sees its predecessor.
    assert [(r, t) for _, r, t in trends] == [
        (100.0, 0.0),
        (150.0, 50.0),
        (120.0, -20.0),
    ]
    base = 1704067200
    assert [w for w, _, _ in trends] == [base + 30, base + 60, base + 90]
    # the period baselines were persisted with a 2-period TTL (K5 state)
    assert kv.read_hash(f"nexus:kpi:current:snapshot:{(base + 90) // 30}")


def test_platform_pipeline_complete_mode(spark, stream_dir, checkpoint):
    batches = [
        _rows([(0, "view", 1), (1, "view", 1), (2, "click", 1)]),
        _rows([(3, "view", 1)]),
    ]
    _write_batches(spark, stream_dir, batches)
    source = stream_parquet(spark, stream_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    kv = InMemoryKV()
    q = jobs.start_platform_pipeline(
        source, kv, checkpoint, platform_col="event_type", trigger={"availableNow": True}
    )
    q.awaitTermination(120)

    got = {r["platform"]: r["count"] for r in json.loads(kv.strings["nexus:platform:breakdown"])}
    assert got == {"view": 3, "click": 1}


@pytest.mark.slow  # ~120 s of trigger waits; restart + golden tests keep default coverage
def test_activity_pipeline_append(spark, stream_dir, checkpoint):
    batches = [_rows([(0, "purchase", 10.0), (5, "view", 1.0)])]
    _write_batches(spark, stream_dir, batches)
    source = stream_parquet(spark, stream_dir, EVENT_SCHEMA, max_files_per_trigger=1).withColumn(
        "props_k", F.lit("k")
    )
    kv = InMemoryKV()
    q = jobs.start_activity_pipeline(
        source,
        kv,
        checkpoint,
        time_col="created_at",
        id_col="event_id",
        event_type_col="event_type",
        user_col="user_id",
        amount_col="value",
        city_col="props_k",
        country_col="event_type",
        action_map={"purchase": "purchase", "click": "cart"},
        purchase_event="purchase",
    )
    q.awaitTermination(120)

    feed = [json.loads(i) for i in kv.lists["nexus:activity:feed"]]
    assert len(feed) == 2
    assert feed[0]["id"] == "evt_1"  # newest first in the ring buffer
    purchase = next(i for i in feed if i["action"] == "purchase")
    assert purchase["amount"] == 10.0


def test_consecutive_breach_state_machine(spark, stream_dir, checkpoint):
    # one rule, statuses over 5 windows: firing, firing, firing, ok, firing
    import datetime as dt

    schema = StructType(
        [
            StructField("rule_id", StringType()),
            StructField("status", StringType()),
            StructField("window_end", LongType()),
        ]
    )
    batches = [
        [("cpu", "firing", 10), ("cpu", "firing", 20)],
        [("cpu", "firing", 30)],
        [("cpu", "ok", 40), ("cpu", "firing", 50)],
    ]
    os.makedirs(stream_dir, exist_ok=True)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema).coalesce(1)
        part = os.path.join(stream_dir, f"b{i}")
        df.write.mode("overwrite").parquet(part)
        data_file = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        os.rename(os.path.join(part, data_file), os.path.join(stream_dir, f"{i:04d}.parquet"))
        now = time.time() + i
        os.utime(os.path.join(stream_dir, f"{i:04d}.parquet"), (now, now))

    source = stream_parquet(spark, stream_dir, schema, max_files_per_trigger=1)
    out = consecutive_breach_alerts(source, n_breaches=3)
    seen = []

    def capture(batch, _):
        seen.extend(r.asDict() for r in batch.collect())

    q = (
        out.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(capture)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    per_batch = {(r["consecutive_breaches"], r["status"]) for r in seen}
    # batch0: 2 consecutive → pending; batch1: 3rd → firing;
    # batch2: ok resets then one breach → pending(1)
    assert (2, "pending") in per_batch
    assert (3, "firing") in per_batch
    assert (1, "pending") in per_batch


def test_streaming_dedup_within_watermark(spark, stream_dir, checkpoint):
    """CDC streaming twin of latest_state: dropDuplicatesWithinWatermark
    suppresses re-delivered rows with the same key across micro-batches
    (within the watermark horizon)."""
    batches = [
        _rows([(0, "view", 1.0), (5, "view", 2.0)]),
        _rows([(0, "view", 1.0), (8, "view", 3.0)]),  # first row = replay of event 0
    ]
    # same event_id 0 appears in both batches (replay); _rows assigns
    # sequential ids per batch, so craft explicitly instead:
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    b0 = [(0, base, 100, "view", 1.0), (1, base + dt.timedelta(seconds=5), 101, "view", 2.0)]
    b1 = [(0, base, 100, "view", 1.0), (2, base + dt.timedelta(seconds=8), 102, "view", 3.0)]
    _write_batches(spark, stream_dir, [b0, b1])
    source = stream_parquet(spark, stream_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    deduped = source.withWatermark("created_at", "10 minutes").dropDuplicatesWithinWatermark(["event_id"])
    seen = []

    def capture(batch, _):
        seen.extend(r.event_id for r in batch.collect())

    q = (
        deduped.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(capture)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(seen) == [0, 1, 2], f"replayed event must be suppressed, saw {seen}"


def test_checkpoint_recovery_resumes_without_reprocessing(spark, stream_dir, checkpoint):
    """Durable checkpoints (the engine keeps them; the reference wiped
    them at startup, SURVEY §2.9): a restarted query picks up AFTER the
    last committed file and only emits new/changed windows."""
    batches = [
        _rows([(0, "view", 1.0), (3, "view", 1.0)]),       # window [0,10) = 2
        _rows([(12, "view", 1.0)]),                        # window [10,20) = 1
    ]
    _write_batches(spark, stream_dir, batches)
    kv = InMemoryKV()
    q = jobs.start_traffic_pipeline(
        stream_parquet(spark, stream_dir, EVENT_SCHEMA, max_files_per_trigger=1),
        kv, checkpoint, time_col="created_at", trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    pushes_after_first_run = len(kv.lists["nexus:traffic:timeseries"])

    # add one more file and RESTART from the same checkpoint
    extra = _rows([(25, "view", 1.0)])                     # window [20,30) = 1
    df = spark.createDataFrame(extra, EVENT_SCHEMA).coalesce(1)
    part = os.path.join(stream_dir, "late")
    df.write.mode("overwrite").parquet(part)
    data_file = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
    os.rename(os.path.join(part, data_file), os.path.join(stream_dir, "9999.parquet"))
    now = time.time() + 100
    os.utime(os.path.join(stream_dir, "9999.parquet"), (now, now))

    q2 = jobs.start_traffic_pipeline(
        stream_parquet(spark, stream_dir, EVENT_SCHEMA, max_files_per_trigger=1),
        kv, checkpoint, time_col="created_at", trigger={"availableNow": True},
    )
    q2.awaitTermination(120)

    items = [json.loads(i) for i in kv.lists["nexus:traffic:timeseries"]]
    base = 1704067200
    # the restart emitted ONLY the new window — exactly one more push
    assert len(items) == pushes_after_first_run + 1, items
    assert items[0]["window_start"] == base + 20 and items[0]["value"] == 1
    # earlier windows were not re-emitted (no duplicates of window 0)
    assert sum(1 for i in items if i["window_start"] == base) == 1


def test_stream_stream_join_with_watermarks(spark, stream_dir, checkpoint):
    """Watermarked stream-stream inner join (streaming enrichment — a
    class the reference avoided via fat events, FLOW.md:42-55): clicks
    join purchases of the same user within 30s event-time."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    clicks_dir = os.path.join(stream_dir, "clicks")
    buys_dir = os.path.join(stream_dir, "buys")
    click_rows = [(i + 1, base + dt.timedelta(seconds=s), 100, "click", 0.0) for i, s in enumerate((0, 5, 100))]
    buy_rows = [(10, base + dt.timedelta(seconds=20), 100, "purchase", 9.99)]
    for d, rows in ((clicks_dir, click_rows), (buys_dir, buy_rows)):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(d)

    clicks = (
        stream_parquet(spark, clicks_dir, EVENT_SCHEMA, max_files_per_trigger=None)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("created_at").alias("click_time"),
        )
        .withWatermark("click_time", "1 minute")
    )
    buys = (
        stream_parquet(spark, buys_dir, EVENT_SCHEMA, max_files_per_trigger=None)
        .select(
            F.col("event_id").alias("buy_id"),
            F.col("user_id"),
            F.col("created_at").alias("buy_time"),
            F.col("value").alias("amount"),
        )
        .withWatermark("buy_time", "1 minute")
    )
    joined = clicks.join(
        buys,
        (clicks["user_id"] == buys["user_id"])
        & (buys["buy_time"] >= clicks["click_time"])
        & (buys["buy_time"] <= clicks["click_time"] + F.expr("INTERVAL 30 SECONDS")),
    )
    seen = []
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(lambda b, _: seen.extend(r.asDict() for r in b.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # clicks at 0s and 5s are within 30s of the 20s purchase; 100s is not
    assert sorted(r["click_id"] for r in seen) == [1, 2]
    assert all(r["amount"] == 9.99 for r in seen)


def test_streaming_session_window_append(spark, stream_dir, checkpoint):
    """Session windows in streaming: watermarked gap-sessions close and
    emit (append mode) once the watermark passes their end; still-open
    sessions are withheld. Uses the same sessionize helper as the batch
    user_sessionization query."""
    import datetime as dt

    from cdc_pipeline_spark.operators.windows import sessionize

    def ev(eid, uid, sec):
        return (eid, dt.datetime(2024, 1, 1, 10, 0, 0) + dt.timedelta(seconds=sec), uid, "click", 1.0)

    batches = [
        # session 1: user 101 at 0/10/20s, user 102 at 5s (gap 30s)
        [ev(1, 101, 0), ev(2, 101, 10), ev(3, 101, 20), ev(4, 102, 5)],
        # much later event opens a new session and advances the watermark
        [ev(5, 101, 600)],
        # final event pushes the watermark far past the first sessions
        [ev(6, 101, 1200)],
    ]
    _write_batches(spark, stream_dir, batches)
    source = stream_parquet(spark, stream_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    sessions = sessionize(
        source.withWatermark("created_at", "10 seconds"),
        "created_at",
        "30 seconds",
        ["user_id"],
        F.count(F.lit(1)).alias("n_events"),
    )
    seen = []

    def capture(batch, _):
        seen.extend(r.asDict() for r in batch.collect())

    q = (
        sessions.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(capture)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    base = int(dt.datetime(2024, 1, 1, 10, 0, 0).timestamp())
    by_user = {(r["user_id"], r["session_start"]): r for r in seen}
    # user 101's first session: [0, 20+30) → 3 events, closed by the watermark
    s1 = by_user[(101, base)]
    assert s1["n_events"] == 3 and s1["session_end"] == base + 50
    # user 102's single-event session: [5, 35)
    s2 = by_user[(102, base + 5)]
    assert s2["n_events"] == 1 and s2["session_end"] == base + 35
    # the session at +1200s is still open when the stream drains → withheld
    assert (101, base + 1200) not in by_user


def test_stream_stream_interval_join(spark, stream_dir, checkpoint):
    """Two live streams (purchases / errors per user) joined on user_id
    with the error constrained to [purchase_ts, purchase_ts + 10s] —
    state is watermark-bounded on both sides. Golden: each purchase
    matches exactly the error events inside its window."""
    from cdc_pipeline_spark.streaming.joins import stream_stream_interval_join

    purchases = [(0, "purchase", 100.0), (30, "purchase", 50.0)]
    errors = [(5, "error", 0.0), (9, "error", 0.0), (20, "error", 0.0), (35, "error", 0.0)]
    # one file per stream; the join sees both in micro-batches
    left_dir = stream_dir + "-l"
    right_dir = stream_dir + "-r"
    _write_batches(spark, left_dir, [_rows(purchases)])
    _write_batches(spark, right_dir, [_rows(errors)])

    left = stream_parquet(spark, left_dir, EVENT_SCHEMA).select(
        F.lit(1).alias("user_id"), F.col("created_at").alias("p_time"), F.col("value").alias("amount")
    )
    right = stream_parquet(spark, right_dir, EVENT_SCHEMA).select(
        F.lit(1).alias("user_id"), F.col("created_at").alias("e_time")
    )
    joined = stream_stream_interval_join(
        left, right, key_cols=["user_id"], left_time="p_time", right_time="e_time",
        max_delay="interval 10 seconds",
    )
    results = []
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda b, i: results.extend(b.collect()))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["l_amount"], r["r_e_time"].second) for r in results)
    # purchase@0 matches errors at 5s and 9s (20s is outside +10s);
    # purchase@30 matches the error at 35s
    assert got == [(50.0, 35), (100.0, 5), (100.0, 9)]


def test_stream_stream_left_outer_join_emits_unmatched(spark, stream_dir, checkpoint):
    """Left-outer interval join: unmatched purchases emit NULL-padded
    rows — but only after BOTH watermarks pass the join interval, so a
    far-future flush event in a second micro-batch advances event time
    past the outer-emission horizon."""
    from cdc_pipeline_spark.streaming.joins import stream_stream_interval_join

    left_dir, right_dir = stream_dir + "-l", stream_dir + "-r"
    # purchase@0 has a match (error@5); purchase@30 has none;
    # @600 flush rows push the watermark far past both
    _write_batches(spark, left_dir, [_rows([(0, "purchase", 100.0), (30, "purchase", 50.0)]),
                                     _rows([(600, "purchase", 1.0)])])
    _write_batches(spark, right_dir, [_rows([(5, "error", 0.0)]),
                                      _rows([(600, "error", 0.0)])])

    left = stream_parquet(spark, left_dir, EVENT_SCHEMA, max_files_per_trigger=1).select(
        F.lit(1).alias("user_id"), F.col("created_at").alias("p_time"), F.col("value").alias("amount")
    )
    right = stream_parquet(spark, right_dir, EVENT_SCHEMA, max_files_per_trigger=1).select(
        F.lit(1).alias("user_id"), F.col("created_at").alias("e_time")
    )
    joined = stream_stream_interval_join(
        left, right, key_cols=["user_id"], left_time="p_time", right_time="e_time",
        max_delay="interval 10 seconds", left_watermark="5 seconds", right_watermark="5 seconds",
        how="left_outer",
    )
    results = []
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda b, i: results.extend(b.collect()))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    by_amount = {}
    for r in results:
        by_amount.setdefault(r["l_amount"], []).append(r["r_e_time"])
    # matched purchase keeps its error; unmatched one emits exactly one NULL row
    assert by_amount[100.0] == [r for r in by_amount[100.0] if r is not None]
    assert len(by_amount[100.0]) == 1
    assert by_amount[50.0] == [None]


def test_scd2_writer_incremental_equals_batch(spark, stream_dir, checkpoint, tmp_path):
    """Golden: maintaining the SCD2 table incrementally (foreachBatch,
    one micro-batch per file, touched-bucket rewrite) must produce
    exactly the table the batch operator builds from the full change
    log — intervals, no-op compression, is_current flags and all."""
    import datetime as dt

    from pyspark.sql.types import StructType, StructField, LongType, StringType, TimestampType

    from cdc_pipeline_spark.operators.cdc import scd2_history
    from cdc_pipeline_spark.streaming.scd2 import Scd2TableWriter, read_scd2_table

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("status", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    batches = [
        [(1, "new", ts(0)), (2, "new", ts(1))],
        # key 1 transitions; key 2 re-emits unchanged (must compress away);
        # key 3 appears for the first time
        [(1, "paid", ts(10)), (2, "new", ts(11)), (3, "new", ts(12))],
        # key 1 transitions again; key 3 transitions
        [(1, "shipped", ts(20)), (3, "cancelled", ts(21))],
    ]
    os.makedirs(stream_dir, exist_ok=True)
    all_rows = []
    for i, rows in enumerate(batches):
        all_rows.extend(rows)
        df = spark.createDataFrame(rows, schema).coalesce(1)
        part = os.path.join(stream_dir, f"b{i}")
        df.write.mode("overwrite").parquet(part)
        data_file = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        os.rename(os.path.join(part, data_file), os.path.join(stream_dir, f"{i:04d}.parquet"))
        now = time.time() + i
        os.utime(os.path.join(stream_dir, f"{i:04d}.parquet"), (now, now))

    table_path = str(tmp_path / "scd2_table")
    writer = Scd2TableWriter(
        table_path, key_cols=["id"], version_col="ts", attr_cols=["status"], n_buckets=4
    )
    q = (
        stream_parquet(spark, stream_dir, schema, max_files_per_trigger=1)
        .writeStream.option("checkpointLocation", checkpoint)
        .foreachBatch(writer)
        .trigger(availableNow=True)
        .start()
    )
    _run_until_done(q)

    got = {
        tuple(r)
        for r in read_scd2_table(spark, table_path)
        .select("id", "status", "valid_from", "valid_to", "is_current")
        .collect()
    }
    expected = {
        tuple(r)
        for r in scd2_history(
            spark.createDataFrame(all_rows, schema),
            key_cols=["id"],
            version_col="ts",
            attr_cols=["status"],
        )
        .select("id", "status", "valid_from", "valid_to", "is_current")
        .collect()
    }
    assert got == expected
    # the compressed no-op: key 2 has exactly ONE interval row
    assert sum(1 for r in got if r[0] == 2) == 1


def test_stream_static_broadcast_enrich(spark, stream_dir, checkpoint):
    """Stream-static join: each micro-batch enriches against the static
    dim with NO state store and a broadcast dim side (the plan must not
    shuffle the stream on the join key)."""
    from cdc_pipeline_spark.streaming.joins import stream_static_enrich

    _write_batches(
        spark,
        stream_dir,
        [_rows([(0, "page_view", 1.0), (1, "purchase", 2.0)]),
         _rows([(2, "page_view", 3.0)])],
    )
    dim = spark.createDataFrame(
        [(100, "emea"), (101, "amer"), (102, "apac")], "user_id long, region string"
    )
    source = stream_parquet(spark, stream_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    enriched = stream_static_enrich(source, dim, on="user_id")
    out = []
    q = (
        enriched.writeStream.option("checkpointLocation", checkpoint)
        .foreachBatch(lambda b, _i: out.extend(b.collect()))
        .trigger(availableNow=True)
        .start()
    )
    _run_until_done(q)
    assert len(out) == 3
    regions = {r.user_id: r.region for r in out}
    assert regions == {100: "emea", 101: "amer"}
    # broadcast pin: the static side must carry the broadcast hint
    # (a streaming frame can't be optimized outside writeStream, so the
    # assertion reads the analyzed logical plan)
    plan = enriched._jdf.queryExecution().analyzed().toString()
    assert "strategy=broadcast" in plan, plan


def test_scd2_expire_history_retention(spark, stream_dir, checkpoint, tmp_path):
    """Retention removes only CLOSED intervals older than the horizon;
    current rows always survive, including in buckets where everything
    else expires."""
    import datetime as dt

    from pyspark.sql.types import StructType, StructField, LongType, StringType, TimestampType

    from cdc_pipeline_spark.streaming.scd2 import Scd2TableWriter, expire_history, read_scd2_table

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("status", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, "new", t0),
        (1, "paid", t0 + dt.timedelta(days=10)),
        (1, "shipped", t0 + dt.timedelta(days=40)),
        (2, "new", t0),
    ]
    table_path = str(tmp_path / "scd2_retention")
    writer = Scd2TableWriter(
        table_path, key_cols=["id"], version_col="ts", attr_cols=["status"], n_buckets=4
    )
    writer(spark.createDataFrame(rows, schema), 0)
    before = read_scd2_table(spark, table_path).count()
    assert before == 4
    # horizon: day 30 — only key 1's first interval (closed at day 10) expires
    removed = expire_history(spark, table_path, older_than=t0 + dt.timedelta(days=30))
    assert removed == 1
    after = read_scd2_table(spark, table_path)
    assert after.count() == 3
    assert after.filter("is_current").count() == 2, "current rows are never expired"
    # idempotent: nothing left to expire
    assert expire_history(spark, table_path, older_than=t0 + dt.timedelta(days=30)) == 0


def test_scd2_writer_replay_is_idempotent(spark, tmp_path):
    """Delivery contract: re-running a micro-batch (at-least-once
    foreachBatch replay) leaves the table byte-identical — change rows
    dedup on (key, version) before the rebuild."""
    import datetime as dt

    from pyspark.sql.types import StructType, StructField, LongType, StringType, TimestampType

    from cdc_pipeline_spark.streaming.scd2 import Scd2TableWriter, read_scd2_table

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("status", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)
    b0 = spark.createDataFrame([(1, "new", t0), (2, "new", t0)], schema)
    b1 = spark.createDataFrame([(1, "paid", t0 + dt.timedelta(minutes=5))], schema)
    table_path = str(tmp_path / "scd2_replay")
    writer = Scd2TableWriter(
        table_path, key_cols=["id"], version_col="ts", attr_cols=["status"], n_buckets=4
    )
    writer(b0, 0)
    writer(b1, 1)
    snapshot = sorted(tuple(r) for r in read_scd2_table(spark, table_path).collect())
    writer(b1, 1)  # replay the same micro-batch
    replayed = sorted(tuple(r) for r in read_scd2_table(spark, table_path).collect())
    assert replayed == snapshot


def test_scd2_writes_never_flip_session_overwrite_mode(spark, tmp_path, monkeypatch):
    """The SCD2 writer and retention pass overwrite touched buckets with
    a per-write dynamic option: flipping the session-wide
    partitionOverwriteMode races other foreachBatch writers on the same
    session, and a writer whose write lands in static mode deletes every
    other bucket of its table."""
    import datetime as dt

    from pyspark.sql.conf import RuntimeConfig

    from cdc_pipeline_spark.streaming.scd2 import Scd2TableWriter, expire_history, read_scd2_table

    keys = []
    real_set = RuntimeConfig.set
    monkeypatch.setattr(
        RuntimeConfig, "set", lambda self, key, value: keys.append(key) or real_set(self, key, value)
    )
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, "new", t0),
        (1, "paid", t0 + dt.timedelta(days=10)),
        (1, "shipped", t0 + dt.timedelta(days=40)),
        (2, "new", t0),
    ]
    path = str(tmp_path / "scd2_conf")
    writer = Scd2TableWriter(path, key_cols=["id"], version_col="ts", attr_cols=["status"], n_buckets=4)
    writer(spark.createDataFrame(rows, "id long, status string, ts timestamp"), 0)
    assert expire_history(spark, path, older_than=t0 + dt.timedelta(days=30)) == 1
    assert "spark.sql.sources.partitionOverwriteMode" not in keys
    # dynamic semantics held: the untouched key's bucket survived
    assert read_scd2_table(spark, path).count() == 3


def test_progress_listener_writes_kv_metrics(spark, stream_dir, checkpoint):
    """KvProgressListener publishes per-query throughput/state metrics
    into the kv layer (the monitor surface), discoverable without key
    scans via the directory hash."""
    import time as _time

    from cdc_pipeline_spark.streaming.monitor import KvProgressListener, read_stream_metrics

    _write_batches(spark, stream_dir, [_rows([(0, "view", 1.0), (5, "view", 2.0)])])
    kv = InMemoryKV()
    listener = KvProgressListener(kv)
    spark.streams.addListener(listener)
    try:
        q = (
            stream_parquet(spark, stream_dir, EVENT_SCHEMA, max_files_per_trigger=1)
            .writeStream.queryName("monitor_probe")
            .format("noop")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        _run_until_done(q)
        # listener bus is async — poll briefly for the progress write
        for _ in range(40):
            metrics = read_stream_metrics(kv)
            if "monitor_probe" in metrics and metrics["monitor_probe"].get("batch_id"):
                break
            _time.sleep(0.25)
        assert "monitor_probe" in metrics, metrics
        m = metrics["monitor_probe"]
        assert int(m["num_input_rows"]) == 2
        assert "trigger_duration_ms" in m and "state_rows" in m
    finally:
        spark.streams.removeListener(listener)


def test_serving_monitor_streams_route(spark):
    """/api/monitor/streams serves whatever the listener recorded."""
    from cdc_pipeline_spark.serving.app import create_app

    kv = InMemoryKV()
    kv.write_hash("nexus:monitor:streams", {"kpi": "2024-01-01T00:00:00Z"})
    kv.write_hash(
        "nexus:monitor:streams:kpi",
        {"status": "running", "batch_id": "3", "num_input_rows": "42"},
    )
    client = create_app(kv).test_client()
    got = client.get("/api/monitor/streams").get_json()
    assert got == {"kpi": {"status": "running", "batch_id": "3", "num_input_rows": "42"}}


def test_rollup_writer_incremental_matches_batch(spark, stream_dir, checkpoint, tmp_path):
    """Continuous aggregate: partials streamed batch-by-batch, merged at
    read time, must match a from-scratch batch aggregation — counts
    exactly; sums within the per-batch cent quantization of the partial
    DECIMAL(28,2). Replaying a batch must not double-count."""
    import datetime as dt

    from cdc_pipeline_spark.streaming.rollup import (
        RollupTableWriter,
        compact_partials,
        read_rollup,
    )

    batches = [
        _rows([(0, "view", 10.5), (70, "view", 1.25)]),
        _rows([(90, "view", 2.0), (400, "click", 3.75)]),
        _rows([(3700, "view", 7.0)]),
    ]
    table = str(tmp_path / "rollup")
    writer = RollupTableWriter(table, time_col="created_at", value_col="value")
    for i, rows in enumerate(batches):
        writer(spark.createDataFrame(rows, EVENT_SCHEMA), i)

    all_rows = [r for b in batches for r in b]
    golden = (
        spark.createDataFrame(all_rows, EVENT_SCHEMA)
        .groupBy((F.floor(F.col("created_at").cast("long") / 300) * 300).cast("long").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    )
    gold = {r.b: (r.n, float(r.v)) for r in golden.collect()}

    got = {r.bucket_start: (r.n_events, float(r.sum_value)) for r in read_rollup(spark, table, "5min").collect()}
    assert set(got) == set(gold)
    for b in gold:
        assert got[b][0] == gold[b][0], "counts must merge exactly"
        assert abs(got[b][1] - gold[b][1]) < 0.01 * len(batches)

    # hour grain re-aggregates the same partials
    hour = {r.bucket_start: r.n_events for r in read_rollup(spark, table, "hour").collect()}
    base = 1704067200
    assert hour[base] == 4 and hour[base + 3600] == 1

    # replay: same batch id again → table unchanged
    before = sorted(got.items())
    writer(spark.createDataFrame(batches[1], EVENT_SCHEMA), 1)
    after = sorted(
        (r.bucket_start, (r.n_events, float(r.sum_value)))
        for r in read_rollup(spark, table, "5min").collect()
    )
    assert after == before

    # compaction folds per-batch dirs without changing reads
    compact_partials(spark, table)
    compacted = {r.bucket_start: (r.n_events, float(r.sum_value)) for r in read_rollup(spark, table, "5min").collect()}
    assert compacted == got


def test_rollup_writer_from_stream(spark, stream_dir, checkpoint, tmp_path):
    """Full writeStream path: file-source micro-batches drive the
    rollup writer; merged partials equal the batch aggregation."""
    from cdc_pipeline_spark.streaming.rollup import RollupTableWriter, read_rollup

    batches = [
        _rows([(0, "view", 1.0), (30, "view", 2.0)]),
        _rows([(301, "view", 4.0)]),
    ]
    _write_batches(spark, stream_dir, batches)
    table = str(tmp_path / "rollup_stream")
    writer = RollupTableWriter(table, time_col="created_at", value_col="value")
    q = (
        stream_parquet(spark, stream_dir, EVENT_SCHEMA, max_files_per_trigger=1)
        .writeStream.option("checkpointLocation", checkpoint)
        .foreachBatch(writer)
        .trigger(availableNow=True)
        .start()
    )
    _run_until_done(q)
    base = 1704067200
    got = {r.bucket_start: (r.n_events, float(r.sum_value)) for r in read_rollup(spark, table).collect()}
    assert got == {base: (2, 3.0), base + 300: (1, 4.0)}


def test_rollup_compaction_replay_does_not_double_count(spark, tmp_path):
    """A foreachBatch replay of a batch that compaction already folded
    into batch_id=-1 must be a no-op — the compaction marker records the
    highest folded id and the writer skips at-or-below it."""
    from cdc_pipeline_spark.streaming.rollup import (
        RollupTableWriter,
        compact_partials,
        read_rollup,
    )

    batches = [
        _rows([(0, "view", 10.0)]),
        _rows([(60, "view", 2.0)]),
    ]
    table = str(tmp_path / "rollup_replay")
    writer = RollupTableWriter(table, time_col="created_at", value_col="value")
    for i, rows in enumerate(batches):
        writer(spark.createDataFrame(rows, EVENT_SCHEMA), i)
    compact_partials(spark, table)
    before = sorted(
        (r.bucket_start, r.n_events, float(r.sum_value))
        for r in read_rollup(spark, table, "5min").collect()
    )
    # replay an already-folded batch, then a genuinely new one
    writer(spark.createDataFrame(batches[1], EVENT_SCHEMA), 1)
    replayed = sorted(
        (r.bucket_start, r.n_events, float(r.sum_value))
        for r in read_rollup(spark, table, "5min").collect()
    )
    assert replayed == before
    writer(spark.createDataFrame(_rows([(120, "view", 5.0)]), EVENT_SCHEMA), 2)
    base = 1704067200
    after = {
        r.bucket_start: (r.n_events, float(r.sum_value))
        for r in read_rollup(spark, table, "5min").collect()
    }
    assert after[base] == (3, 17.0)


def test_monitor_termination_only_marks_matching_query():
    """With two live queries, one terminating must not mark the other
    terminated (nor attach its exception to it) — termination events
    carry id only, and the listener matches on the id each progress
    payload stored."""
    from types import SimpleNamespace

    from cdc_pipeline_spark.streaming.monitor import KvProgressListener
    from cdc_pipeline_spark.streaming.sinks import InMemoryKV

    kv = InMemoryKV()
    listener = KvProgressListener(kv)

    def progress(name, qid):
        return SimpleNamespace(
            progress=SimpleNamespace(
                name=name, id=qid, batchId=1, timestamp="2024-01-01T00:00:00Z",
                numInputRows=10, inputRowsPerSecond=1.0, processedRowsPerSecond=1.0,
                durationMs={"triggerExecution": 5}, stateOperators=[],
            )
        )

    listener.onQueryProgress(progress("alpha", "id-a"))
    listener.onQueryProgress(progress("beta", "id-b"))
    listener.onQueryTerminated(SimpleNamespace(id="id-b", exception="boom"))

    alpha = kv.read_hash("nexus:monitor:streams:alpha")
    beta = kv.read_hash("nexus:monitor:streams:beta")
    assert beta["status"] == "terminated" and beta["exception"] == "boom"
    assert alpha["status"] == "running" and "exception" not in alpha


def test_temp_conf_unsets_previously_unset_key(spark):
    """temp_conf must UNSET a conf that was never set, not leak the
    temporary value into the rest of the session."""
    from cdc_pipeline_spark.session import temp_conf

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)  # ensure session default state
    with temp_conf(spark, key, "dynamic"):
        assert spark.conf.get(key) == "dynamic"
    assert spark.conf.get(key, None) is None
    # and restores an explicit prior value
    spark.conf.set(key, "static")
    with temp_conf(spark, key, "dynamic"):
        pass
    assert spark.conf.get(key) == "static"
    spark.conf.unset(key)


def test_corpus_ingest_streaming_equals_batch_and_resumes(spark, tmp_path):
    """Golden equivalence: the streaming corpus-ingest job (gate → chunk
    → shard → exactly-once file sink) over the sf0.001 documents must
    land EXACTLY the rows its batch twin computes; restarting on the
    same checkpoint with no new input must commit nothing new."""
    from cdc_pipeline_spark.sources.files import load_table
    from cdc_pipeline_spark.streaming.corpus_ingest import (
        corpus_ingest_transform,
        start_corpus_ingest,
    )

    import shutil

    src = str(tmp_path / "incoming")
    (tmp_path / "incoming").mkdir()
    shutil.copy("/root/testdata/sf0.001/documents.parquet", src + "/documents.parquet")
    schema = load_table(spark, "/root/testdata/sf0.001", "documents").schema
    out_dir, cp = str(tmp_path / "shards"), str(tmp_path / "cp")
    q = start_corpus_ingest(
        spark, src, out_dir, cp, schema, max_files_per_trigger=None
    )
    q.awaitTermination(120)

    landed = spark.read.parquet(out_dir)
    batch = corpus_ingest_transform(
        load_table(spark, "/root/testdata/sf0.001", "documents")
    )
    cols = ["doc_id", "chunk_id", "n_tokens", "chunk_text", "shard"]
    got = sorted(map(tuple, landed.select(*cols).collect()))
    want = sorted(map(tuple, batch.select(*cols).collect()))
    assert got == want and len(got) > 0

    # resume on the same checkpoint: backlog already committed → no dupes
    q2 = start_corpus_ingest(
        spark, src, out_dir, cp, schema, max_files_per_trigger=None
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == len(got)


def test_monitor_crash_before_first_progress_still_records_exception():
    """A named query that dies during batch 0 (started, no progress
    event yet) must still be marked terminated with its exception —
    onQueryStarted registers the name in the directory so the
    terminated id-match can find it."""
    from types import SimpleNamespace

    from cdc_pipeline_spark.streaming.monitor import KvProgressListener
    from cdc_pipeline_spark.streaming.sinks import InMemoryKV

    kv = InMemoryKV()
    listener = KvProgressListener(kv)
    listener.onQueryStarted(SimpleNamespace(name="alpha", id="id-a"))
    listener.onQueryTerminated(SimpleNamespace(id="id-a", exception="boom at batch 0"))
    alpha = kv.read_hash("nexus:monitor:streams:alpha")
    assert alpha["status"] == "terminated"
    assert alpha["exception"] == "boom at batch 0"


def test_rollup_replay_guard_is_run_scoped(spark, tmp_path):
    """The folded-batch replay guard must apply only within the SAME
    run's batch-id sequence: a recreated checkpoint restarts ids at 0,
    and dropping its first batches would be silent data loss."""
    import datetime as dt

    from cdc_pipeline_spark.streaming.rollup import (
        RollupTableWriter,
        compact_partials,
        read_rollup,
    )

    table = str(tmp_path / "rollup")
    rows = [(dt.datetime(2024, 1, 1, 0, 0, 30), 10.0)]
    df = spark.createDataFrame(rows, "created_at timestamp, value double")

    run_a = RollupTableWriter(table, time_col="created_at", value_col="value", run_id="ckpt-A")
    run_a(df, 0)
    compact_partials(spark, table, run_id="ckpt-A")

    # same run replays its folded batch 0 → guarded (no double count)
    run_a(df, 0)
    assert read_rollup(spark, table).collect()[0].n_events == 1

    # NEW checkpoint generation restarts at batch 0 → must land
    run_b = RollupTableWriter(table, time_col="created_at", value_col="value", run_id="ckpt-B")
    run_b(df, 0)
    assert read_rollup(spark, table).collect()[0].n_events == 2


def test_histogram_rollup_incremental_matches_batch(spark, tmp_path):
    """Streaming-maintained percentile sketch: per-batch bin-count
    partials, merged at read time, must EXACTLY equal the batch
    histogram sketch over the union (integer state — no quantization
    tolerance), and replaying a batch must not change the table."""
    from cdc_pipeline_spark.operators.sketches import (
        histogram_percentiles,
        percentiles_from_bin_counts,
    )
    from cdc_pipeline_spark.streaming.rollup import (
        HistogramRollupWriter,
        read_histogram_rollup,
    )

    batches = [
        _rows([(i, "view", float(v)) for i, v in enumerate(range(0, 50))]),
        _rows([(i, "view", float(v)) for i, v in enumerate(range(50, 80))]),
        _rows([(i, "click", float(v)) for i, v in enumerate(range(80, 100))]),
    ]
    table = str(tmp_path / "hist_rollup")
    writer = HistogramRollupWriter(
        table, value_col="value", lo=0.0, hi=100.0, n_bins=20,
        group_cols=("event_type",),
    )
    for i, rows in enumerate(batches):
        writer(spark.createDataFrame(rows, EVENT_SCHEMA), i)

    pcts = {"p50_est": 0.5, "p90_est": 0.9}
    merged = read_histogram_rollup(spark, table, group_cols=("event_type",))
    got = {
        r.event_type: (r.p50_est, r.p90_est, r.total)
        for r in percentiles_from_bin_counts(
            merged, ["event_type"], pcts, lo=0.0, width=5.0
        ).collect()
    }
    all_rows = [r for b in batches for r in b]
    gold = {
        r.event_type: (r.p50_est, r.p90_est, r.total)
        for r in histogram_percentiles(
            spark.createDataFrame(all_rows, EVENT_SCHEMA),
            "value", ["event_type"], pcts, lo=0.0, hi=100.0, n_bins=20,
        ).collect()
    }
    assert got == gold

    # at-least-once replay of an already-written batch: table unchanged
    writer(spark.createDataFrame(batches[1], EVENT_SCHEMA), 1)
    again = {
        r.event_type: (r.p50_est, r.p90_est, r.total)
        for r in percentiles_from_bin_counts(
            read_histogram_rollup(spark, table, group_cols=("event_type",)),
            ["event_type"], pcts, lo=0.0, width=5.0,
        ).collect()
    }
    assert again == gold


def test_histogram_rollup_compaction_and_replay_guard(spark, tmp_path):
    """compact_histogram_partials must fold without changing reads, and
    a replay of an already-folded batch must be skipped by the marker
    (folding by hand to a fresh path would lose it and double-count)."""
    from cdc_pipeline_spark.streaming.rollup import (
        HistogramRollupWriter,
        compact_histogram_partials,
        read_histogram_rollup,
    )

    batches = [
        _rows([(i, "view", float(v)) for i, v in enumerate(range(0, 40))]),
        _rows([(i, "view", float(v)) for i, v in enumerate(range(40, 90))]),
    ]
    table = str(tmp_path / "hist_compact")
    writer = HistogramRollupWriter(
        table, value_col="value", lo=0.0, hi=100.0, n_bins=10, run_id="run-a"
    )
    for i, rows in enumerate(batches):
        writer(spark.createDataFrame(rows, EVENT_SCHEMA), i)
    before = {
        (r.bin): r.n for r in read_histogram_rollup(spark, table).collect()
    }
    compact_histogram_partials(spark, table, run_id="run-a")
    after = {(r.bin): r.n for r in read_histogram_rollup(spark, table).collect()}
    assert after == before, "compaction must not change merged reads"
    # replay of folded batch 1: guard must skip it
    writer(spark.createDataFrame(batches[1], EVENT_SCHEMA), 1)
    replayed = {(r.bin): r.n for r in read_histogram_rollup(spark, table).collect()}
    assert replayed == before, "replay after compaction must not double-count"


def test_breach_alerts_count_each_window_once(spark, stream_dir, checkpoint):
    """An update-mode upstream re-emits the SAME window as late events
    revise it; three revisions of one breached window are ONE breach,
    not a Normal→Firing transition."""
    import pandas as pd

    from cdc_pipeline_spark.streaming.stateful import _fold_breaches

    rows = pd.DataFrame(
        {"status": ["firing", "firing", "firing"], "window_end": [100, 100, 100]}
    )
    count, status, last_window, last_epoch = _fold_breaches(
        rows, "status", "window_end", 0, "normal", 0, 3
    )
    assert (count, status) == (1, "pending"), "one window = one breach"
    assert last_window == 100 and last_epoch == 100
    # three DISTINCT consecutive breached windows still fire
    rows2 = pd.DataFrame(
        {"status": ["firing", "firing"], "window_end": [110, 120]}
    )
    count, status, last_window, _ = _fold_breaches(
        rows2, "status", "window_end", count, status, last_window, 3
    )
    assert (count, status) == (3, "firing")
    # an ok row on a NEW window resets; a stale revision of an old
    # window changes nothing
    rows3 = pd.DataFrame({"status": ["ok", "firing"], "window_end": [130, 120]})
    count, status, last_window, _ = _fold_breaches(
        rows3, "status", "window_end", count, status, last_window, 3
    )
    assert (count, status) == (0, "normal") and last_window == 130


def test_interval_join_outer_keeps_right_keys(spark):
    """Unmatched right rows in a full-outer interval join must keep
    their key values (the bare key coalesces from the right twin)."""
    import datetime as _dt

    from cdc_pipeline_spark.streaming.joins import stream_stream_interval_join

    t0 = _dt.datetime(2024, 1, 1, 0, 0, 0)
    left = spark.createDataFrame(
        [(1, t0, "l1")], "user_id long, lt timestamp, lv string"
    )
    right = spark.createDataFrame(
        [(1, t0, "r1"), (42, t0, "r-orphan")], "user_id long, rt timestamp, rv string"
    )
    out = stream_stream_interval_join(
        left, right, key_cols=["user_id"], left_time="lt", right_time="rt",
        how="full_outer",
    )
    got = {r.user_id: r.r_rv for r in out.collect()}
    assert 42 in got and got[42] == "r-orphan", "orphan right row must keep its key"
    # a time column used as a join key is a contract error, not silent
    import pytest as _pytest

    with _pytest.raises(ValueError, match="must not be join keys"):
        stream_stream_interval_join(
            left, right, key_cols=["user_id", "lt"], left_time="lt", right_time="rt"
        )


def test_monitor_sanitizes_nan_rates(spark):
    import math

    from cdc_pipeline_spark.streaming.monitor import DIRECTORY_KEY, KvProgressListener
    from cdc_pipeline_spark.streaming.sinks import InMemoryKV

    class _P:  # minimal QueryProgress stand-in
        name = "q1"
        id = "abc"
        batchId = 0
        timestamp = "2024-01-01T00:00:00Z"
        numInputRows = 10
        inputRowsPerSecond = float("nan")
        processedRowsPerSecond = 5.0
        durationMs = {"triggerExecution": 12}
        stateOperators = ()

    class _E:
        progress = _P()

    kv = InMemoryKV()
    listener = KvProgressListener(kv)
    listener.onQueryProgress(_E())
    snap = kv.read_hash(f"{DIRECTORY_KEY}:q1")
    assert snap["input_rows_per_second"] == "0.0", snap
    assert snap["processed_rows_per_second"] == "5.0"


def test_compaction_lock_serializes_with_writers(spark, tmp_path):
    """The table lock enforces 'compaction from the maintenance cadence':
    a held lock makes compaction fail loudly instead of swapping dirs
    under an active writer; a stale (crash-leftover) lock is broken."""
    from cdc_pipeline_spark.streaming import state_table
    from cdc_pipeline_spark.streaming.rollup import (
        RollupTableWriter,
        compact_partials,
        read_rollup,
    )

    table = str(tmp_path / "locked-rollup")
    writer = RollupTableWriter(table, time_col="created_at", value_col="value")
    writer(spark.createDataFrame(_rows([(0, "view", 1.0), (70, "view", 2.0)]), EVENT_SCHEMA), 0)
    before = {r.bucket_start: r.n_events for r in read_rollup(spark, table).collect()}

    lock = table + state_table.LOCK_SUFFIX
    with open(lock, "w") as fh:
        fh.write("held\n")
    with pytest.raises(RuntimeError, match="locked"):
        compact_partials(spark, table, lock_timeout=0.5)
    # table untouched by the refused compaction
    assert {r.bucket_start: r.n_events for r in read_rollup(spark, table).collect()} == before

    # stale lock (older than the staleness horizon) is broken and
    # compaction proceeds; the lock is released afterwards
    old = time.time() - state_table.LOCK_STALE_SECONDS - 5
    os.utime(lock, (old, old))
    compact_partials(spark, table, lock_timeout=5)
    assert not os.path.exists(lock)
    assert {r.bucket_start: r.n_events for r in read_rollup(spark, table).collect()} == before


def test_backlogged_file_source_drains_in_bounded_batches(spark, tmp_path):
    """Rate limiting replaces the reference's checkpoint-wipe backlog
    dodge: a pre-existing backlog with maxFilesPerTrigger=1 drains
    across N bounded micro-batches, and the final sink state equals the
    single-batch (unbounded) run."""
    batches = [
        _rows([(0, "view", 1), (3, "view", 2)]),
        _rows([(12, "click", 3)]),
        _rows([(14, "view", 4)]),
        _rows([(21, "purchase", 5)]),
        _rows([(33, "view", 6)]),
    ]

    def run(base, limit):
        _write_batches(spark, base, batches)
        source = stream_parquet(spark, base, EVENT_SCHEMA, max_files_per_trigger=limit)
        kv = InMemoryKV()
        q = jobs.start_traffic_pipeline(
            source, kv, str(tmp_path / f"ckpt-{limit}"), time_col="created_at",
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        newest = {}
        for item in reversed([json.loads(i) for i in kv.lists["nexus:traffic:timeseries"]]):
            newest[item["window_start"]] = item["value"]
        return n_batches, newest

    bounded_batches, bounded = run(str(tmp_path / "backlog-bounded"), 1)
    unbounded_batches, unbounded = run(str(tmp_path / "backlog-all"), None)
    assert bounded_batches >= len(batches), "each file must arrive in its own micro-batch"
    assert unbounded_batches == 1, "no limit -> the whole backlog in one batch"
    assert bounded == unbounded, "drained state must be independent of batch slicing"


def test_gram_rollup_incremental_matches_batch(spark, tmp_path):
    """Streaming-maintained covariance precompute: per-batch Gram
    partials merged at read time must BIT-EXACTLY equal the batch
    quantized_gram over the union (decimal integer state, no
    tolerance), replay must not change the table, and compaction must
    fold without changing reads or re-admitting folded batches."""
    import random

    from cdc_pipeline_spark.operators.linalg import quantized_gram
    from cdc_pipeline_spark.streaming.rollup import (
        GramRollupWriter,
        compact_gram_partials,
        read_gram_rollup,
    )

    rng = random.Random(17)
    dim, scale = 5, 1 << 12
    mk = lambda n, base: [
        (base + i, [rng.uniform(-0.5, 0.5) for _ in range(dim)]) for i in range(n)
    ]
    batches = [mk(30, 0), mk(20, 100), mk(25, 200)]
    schema = "vec_id long, embedding array<double>"
    table = str(tmp_path / "gram_rollup")
    writer = GramRollupWriter(table, scale=scale, run_id="run-g")
    for i, rows in enumerate(batches):
        writer(spark.createDataFrame(rows, schema), i)

    def snap(df):
        return {(r["i"], r["j"]): int(r["g"]) for r in df.collect()}

    got = snap(read_gram_rollup(spark, table))
    union = [r for b in batches for r in b]
    gold = snap(quantized_gram(spark.createDataFrame(union, schema), scale=scale))
    assert got == gold

    # at-least-once replay: same batch id overwrites its own partition
    writer(spark.createDataFrame(batches[1], schema), 1)
    assert snap(read_gram_rollup(spark, table)) == gold

    # compaction folds exactly; replay of a folded id is guard-skipped
    compact_gram_partials(spark, table, run_id="run-g")
    assert snap(read_gram_rollup(spark, table)) == gold
    writer(spark.createDataFrame(batches[2], schema), 2)
    assert snap(read_gram_rollup(spark, table)) == gold


def test_compaction_marker_tolerates_non_dict_json(tmp_path):
    """A valid-JSON-but-not-a-dict marker must degrade to 'never
    compacted' like every other corruption shape (review finding:
    TypeError escaped the except and killed the streaming query)."""
    import os

    from cdc_pipeline_spark.streaming.state_table import (
        COMPACTION_MARKER,
        compaction_state,
    )

    table = tmp_path / "marker_tbl"
    table.mkdir()
    (table / COMPACTION_MARKER).write_text('["not", "a", "dict"]')
    assert compaction_state(str(table)) == (-1, "")


def test_gram_rollup_drops_non_finite_rows(spark, tmp_path):
    """A NaN/Inf embedding row must be dropped by the writer (not kill
    the query), and the merged Gram must equal a batch pass over the
    finite rows only."""
    from cdc_pipeline_spark.operators.linalg import quantized_gram
    from cdc_pipeline_spark.streaming.rollup import GramRollupWriter, read_gram_rollup

    schema = "vec_id long, embedding array<double>"
    good = [(0, [0.5, -0.25]), (1, [0.125, 0.75])]
    bad = [(2, [float("nan"), 1.0]), (3, [float("inf"), 0.0]), (4, None)]
    table = str(tmp_path / "gram_nan")
    writer = GramRollupWriter(table, scale=1 << 12, run_id="run-n")
    writer(spark.createDataFrame(good + bad, schema), 0)
    got = {(r["i"], r["j"]): int(r["g"]) for r in read_gram_rollup(spark, table).collect()}
    gold = {
        (r["i"], r["j"]): int(r["g"])
        for r in quantized_gram(spark.createDataFrame(good, schema), scale=1 << 12).collect()
    }
    assert got == gold


def test_neardup_index_writer_matches_batch_twin_and_replays(spark, tmp_path):
    """Continuous near-dup (streaming/neardup_index.py): per-batch
    probe-then-append against the landed LSH index must produce exactly
    the matches of the batch twin (incremental_minhash_neardup run per
    increment over the same history), and replaying a batch must leave
    every table bit-identical (probe reads batch_id < current only)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cdc_pipeline_spark.operators.dedup import incremental_minhash_neardup
    from cdc_pipeline_spark.streaming.neardup_index import (
        NearDupIndexWriter,
        read_matches,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    base = "the quick brown fox jumps over the lazy dog again and again"
    batches = [
        [(1, base), (2, "completely different content about spark engines")],
        [(3, base + " tail"), (4, "unrelated second batch text entirely")],
        [(5, base), (6, "completely different content about spark engines plus")],
    ]
    path = str(tmp_path / "ndidx")
    writer = NearDupIndexWriter(path, threshold=0.4)
    for i, rows in enumerate(batches):
        writer(spark.createDataFrame(rows, schema), i)

    got = {
        (r["doc_id"], r["match_id"], r["jaccard"])
        for r in read_matches(spark, path).collect()
    }

    # batch twin: for each increment, history = union of earlier batches
    expected = set()
    for i in range(1, len(batches)):
        hist = [r for b in batches[:i] for r in b]
        inc = batches[i]
        df = spark.createDataFrame(hist + inc, schema)
        inc_ids = {d for d, _ in inc}
        twin = incremental_minhash_neardup(
            df, F.col("doc_id").isin(list(inc_ids)), threshold=0.4
        )
        expected |= {
            (r["doc_id"], r["match_id"], r["jaccard"]) for r in twin.collect()
        }
    assert got == expected
    assert got, "fixture must produce at least one near-dup match"
    # doc 5 duplicates docs 1 and 3 from earlier batches
    assert {(d, m) for d, m, _ in got} >= {(5, 1), (5, 3)}

    # replay batch 1: all three tables unchanged
    def snapshot():
        out = {}
        for sub in ("matches", "postings", "shingles"):
            rows = spark.read.parquet(f"{path}/{sub}").collect()
            out[sub] = sorted(map(str, rows))
        return out

    before = snapshot()
    writer(spark.createDataFrame(batches[1], schema), 1)
    assert snapshot() == before


def test_neardup_index_clean_corpus_reads_empty(spark, tmp_path):
    """A corpus with zero near-dups writes file-less matches/ partitions;
    read_matches must return an empty TYPED frame, not raise
    UNABLE_TO_INFER_SCHEMA. Also: before any batch ran, the directory
    does not exist at all — same contract."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cdc_pipeline_spark.streaming.neardup_index import (
        NearDupIndexWriter,
        read_matches,
    )

    path = str(tmp_path / "ndidx_clean")
    pre = read_matches(spark, path)  # nothing written yet
    assert pre.count() == 0
    assert pre.columns == ["doc_id", "match_id", "jaccard", "batch_id"]

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    writer = NearDupIndexWriter(path, threshold=0.4)
    writer(
        spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")], schema
        ),
        0,
    )
    writer(
        spark.createDataFrame(
            [(2, "omicron sigma tau upsilon phi chi psi omega")], schema
        ),
        1,
    )
    out = read_matches(spark, path)
    assert out.count() == 0
    assert out.columns == ["doc_id", "match_id", "jaccard", "batch_id"]


def test_neardup_index_reingested_doc_matches_once(spark, tmp_path):
    """A historical doc re-ingested in several batches has one shingle
    row per batch; the probe must still emit each (doc, match) pair
    exactly once — same multiplicity as the batch twin."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cdc_pipeline_spark.streaming.neardup_index import (
        NearDupIndexWriter,
        read_matches,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    base = "the quick brown fox jumps over the lazy dog again and again"
    path = str(tmp_path / "ndidx_reingest")
    writer = NearDupIndexWriter(path, threshold=0.4)
    writer(spark.createDataFrame([(7, base)], schema), 0)
    writer(spark.createDataFrame([(7, base)], schema), 1)  # re-ingest
    writer(spark.createDataFrame([(9, base + " tail")], schema), 2)

    rows = read_matches(spark, path).filter("doc_id = 9").collect()
    assert len(rows) == 1, f"expected one (9, 7) match, got {rows}"
    assert rows[0]["match_id"] == 7


def test_bm25_index_writer_matches_batch_twin_and_replays(spark, tmp_path):
    """Streaming-maintained BM25 index (streaming/retrieval_index.py):
    after ingesting N micro-batches, ranking over the accumulated index
    must be BIT-IDENTICAL to the batch operator over the concatenated
    corpus (corpus stats are derived at query time, so later batches
    retroactively reshape idf/avgdl); replaying a batch must leave both
    index tables unchanged."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cdc_pipeline_spark.operators.retrieval import bm25_topk
    from cdc_pipeline_spark.streaming.retrieval_index import (
        Bm25IndexWriter,
        bm25_topk_over_index,
        read_index,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    batches = [
        [(1, "apple banana apple"), (2, "apple cherry")],
        [(3, "banana banana banana banana"), (4, "")],  # dl=0 doc shapes N/avgdl
        [(5, "cherry apple date"), (6, "date date banana")],
    ]
    queries = ((0, ("apple",)), (1, ("banana", "cherry")), (2, ("date",)))
    path = str(tmp_path / "bm25idx")
    writer = Bm25IndexWriter(path)
    for i, rows in enumerate(batches):
        writer(spark.createDataFrame(rows, schema), i)

    got = {
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in bm25_topk_over_index(spark, path, queries, k=5).collect()
    }
    full = spark.createDataFrame([r for b in batches for r in b], schema)
    expected = {
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in bm25_topk(full, queries, k=5).collect()
    }
    assert got == expected
    assert got, "fixture queries must match documents"

    def snapshot():
        tf, dls = read_index(spark, path)
        return sorted(map(str, tf.collect())), sorted(map(str, dls.collect()))

    before = snapshot()
    writer(spark.createDataFrame(batches[1], schema), 1)  # replay
    assert snapshot() == before


def test_bm25_index_compaction_golden(spark, tmp_path):
    """compact_index folds per-batch partitions into batch_id=-1:
    query results must be IDENTICAL before/after, a replayed folded
    batch must be a no-op (marker guard), and post-compaction ingest
    must keep working and reshape results."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cdc_pipeline_spark.operators.retrieval import bm25_topk
    from cdc_pipeline_spark.streaming.retrieval_index import (
        Bm25IndexWriter,
        bm25_topk_over_index,
        compact_index,
        read_index,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    batches = [
        [(1, "apple banana apple"), (2, "apple cherry")],
        [(3, "banana banana banana banana"), (4, "")],
        [(5, "cherry apple date"), (6, "date date banana")],
    ]
    queries = ((0, ("apple",)), (1, ("banana", "cherry")))
    path = str(tmp_path / "bm25cmp")
    writer = Bm25IndexWriter(path, run_id="run-a")
    for i, rows in enumerate(batches):
        writer(spark.createDataFrame(rows, schema), i)

    def ranked():
        return sorted(
            (r.query_id, r.doc_id, r.score, r.rank)
            for r in bm25_topk_over_index(spark, path, queries, k=5).collect()
        )

    before = ranked()
    tf_rows, dl_rows = compact_index(spark, path, run_id="run-a")
    assert tf_rows > 0 and dl_rows == 6
    assert ranked() == before, "compaction must not change query results"
    tf, dls = read_index(spark, path)
    assert {r.batch_id for r in tf.select("batch_id").distinct().collect()} == {-1}
    assert {r.batch_id for r in dls.select("batch_id").distinct().collect()} == {-1}

    # replay of a folded batch: the marker guard makes it a no-op
    # (without it the rewrite would re-create batch_id=1 and every
    # doc-3/4 posting would count twice on merge)
    snap = (sorted(map(str, tf.collect())), sorted(map(str, dls.collect())))
    writer(spark.createDataFrame(batches[1], schema), 1)
    tf2, dls2 = read_index(spark, path)
    assert (sorted(map(str, tf2.collect())), sorted(map(str, dls2.collect()))) == snap

    # ingest continues after compaction; results = batch twin over all docs
    writer(spark.createDataFrame([(7, "apple apple banana")], schema), 3)
    full = spark.createDataFrame([r for b in batches for r in b] + [(7, "apple apple banana")], schema)
    expected = sorted(
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in bm25_topk(full, queries, k=5).collect()
    )
    assert ranked() == expected


def test_neardup_index_compaction_golden(spark, tmp_path):
    """compact_neardup_index folds postings (distinct) + shingles
    (latest per doc) into batch_id=-1, leaves the matches log alone:
    the matches read and all FUTURE probes must behave exactly as
    before, a replayed folded batch must be a no-op (the guard is what
    prevents the probe from self-matching against its own folded
    postings), and post-compaction ingest still probes history."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cdc_pipeline_spark.streaming.neardup_index import (
        NearDupIndexWriter,
        compact_neardup_index,
        read_matches,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    base = "the quick brown fox jumps over the lazy dog again and again"
    path = str(tmp_path / "ndcmp")
    writer = NearDupIndexWriter(path, threshold=0.4, run_id="run-a")
    writer(spark.createDataFrame([(7, base), (2, "unrelated spark engine text")], schema), 0)
    writer(spark.createDataFrame([(7, base)], schema), 1)  # re-ingest: shingle fold dedup case
    writer(spark.createDataFrame([(9, base + " tail")], schema), 2)

    def matches():
        return sorted(
            (r.doc_id, r.match_id, r.jaccard, r.batch_id)
            for r in read_matches(spark, path).collect()
        )

    before = matches()
    assert any(d == 9 and m == 7 for d, m, _, _ in before)
    p_rows, s_rows = compact_neardup_index(spark, path, run_id="run-a")
    assert p_rows > 0 and s_rows == 3  # docs 7, 2, 9 — one shingle row each after dedup
    assert matches() == before, "matches log must survive compaction untouched"

    # replay of folded batch 2: guard must skip it — otherwise its probe
    # would see its OWN folded postings as history and emit (9, 9)
    writer(spark.createDataFrame([(9, base + " tail")], schema), 2)
    assert matches() == before
    assert all(d != m for d, m, _, _ in matches())

    # post-compaction ingest probes the folded history exactly as before
    writer(spark.createDataFrame([(11, base)], schema), 3)
    after = matches()
    assert {(d, m) for d, m, _, _ in after} - {(d, m) for d, m, _, _ in before} == {
        (11, 7),
        (11, 9),
    }


def test_bm25_index_reads_empty_before_any_batch(spark, tmp_path):
    """Before any batch ran (or after an all-empty batch) the reader
    must return empty TYPED frames, never UNABLE_TO_INFER_SCHEMA."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cdc_pipeline_spark.streaming.retrieval_index import (
        Bm25IndexWriter,
        bm25_topk_over_index,
        read_index,
    )

    path = str(tmp_path / "bm25idx_empty")
    tf, dls = read_index(spark, path)
    assert tf.count() == 0 and dls.count() == 0
    assert tf.columns == ["doc_id", "token", "tf", "batch_id"]
    assert bm25_topk_over_index(spark, path).count() == 0

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    Bm25IndexWriter(path)(spark.createDataFrame([(1, "")], schema), 0)
    tf, dls = read_index(spark, path)
    assert tf.count() == 0  # empty doc yields no postings...
    assert dls.count() == 1  # ...but still a dl=0 length row


def test_neardup_hot_bucket_cap_counts_docs_not_rows(spark, tmp_path):
    """With max_bucket set, a doc re-ingested across batches must count
    ONCE per bucket (like the batch twin, one row per doc) — otherwise
    a boundary bucket's fate flips when compaction dedupes postings to
    distinct, breaking before/after-compaction probe parity."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from cdc_pipeline_spark.streaming.neardup_index import (
        NearDupIndexWriter,
        compact_neardup_index,
        read_matches,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    base = "the quick brown fox jumps over the lazy dog again and again"
    path = str(tmp_path / "ndcap")
    # cap=2: history doc 7 (re-ingested twice) + incoming doc 9 = 2 docs
    # per shared bucket — allowed; row-counting would see 3 and prune
    writer = NearDupIndexWriter(path, threshold=0.4, max_bucket=2, run_id="r")
    writer(spark.createDataFrame([(7, base)], schema), 0)
    writer(spark.createDataFrame([(7, base)], schema), 1)  # re-ingest
    writer(spark.createDataFrame([(9, base + " tail")], schema), 2)

    def pairs():
        return {(r.doc_id, r.match_id) for r in read_matches(spark, path).collect()}

    assert (9, 7) in pairs(), "doc-counting cap must keep the shared bucket"

    # parity: an identical probe against a compacted vs uncompacted
    # index must produce the SAME matches (build a twin index from the
    # same batches, compact only one, ingest the same batch 3 in both)
    twin = str(tmp_path / "ndcap_twin")
    wtwin = NearDupIndexWriter(twin, threshold=0.4, max_bucket=2, run_id="r")
    wtwin(spark.createDataFrame([(7, base)], schema), 0)
    wtwin(spark.createDataFrame([(7, base)], schema), 1)
    wtwin(spark.createDataFrame([(9, base + " tail")], schema), 2)
    compact_neardup_index(spark, path, run_id="r")
    batch3 = [(11, base)]
    writer(spark.createDataFrame(batch3, schema), 3)
    wtwin(spark.createDataFrame(batch3, schema), 3)
    compacted = pairs()
    uncompacted = {
        (r.doc_id, r.match_id) for r in read_matches(spark, twin).collect()
    }
    assert compacted == uncompacted
    assert (11, 7) in compacted


def _state_table_family(spark, family: str):
    """(write(path, i), compact(path), state(path), swapped table under
    path, state before/after batch 3) for one state-table family. Every
    batch i adds rows; the near-dup batches 1 and 3 near-duplicate
    batch 0, so batch 3 only matches if the probe reads history."""
    if family == "rollup":
        from cdc_pipeline_spark.streaming.rollup import (
            RollupTableWriter,
            compact_partials,
            read_rollup,
        )

        def write(path, i):
            rows = _rows([(60 * i, "view", 1.0), (60 * i + 1, "view", 2.0)])
            RollupTableWriter(path, time_col="created_at", value_col="value")(
                spark.createDataFrame(rows, EVENT_SCHEMA), i
            )

        def state(path):
            return sum(r.n_events for r in read_rollup(spark, path).collect())

        return write, lambda path: compact_partials(spark, path), state, "", (6, 8)
    if family == "frontier":
        from cdc_pipeline_spark.sources.warc import build_warc, warc_records
        from cdc_pipeline_spark.streaming.frontier_index import (
            FrontierIndexWriter,
            compact_frontier_index,
            read_frontier,
        )

        payloads = _frontier_batches() + [
            build_warc([_frontier_capture("https://c.com/q", b'<a href="/n">n</a>')])
        ]

        def write(path, i):
            records = spark.createDataFrame(
                [(f"b{i}.warc", bytearray(payloads[i]))], "path string, content binary"
            )
            FrontierIndexWriter(path)(warc_records(records), i)

        def state(path):
            return read_frontier(spark, path).count()

        def compact(path):
            return compact_frontier_index(spark, path)

        return write, compact, state, "partials", (2, 3)
    if family == "neardup":
        from cdc_pipeline_spark.streaming.neardup_index import (
            NearDupIndexWriter,
            compact_neardup_index,
            read_matches,
        )

        base = "the quick brown fox jumps over the lazy dog again and again"
        texts = [base, base, "unrelated text about spark engines", base + " tail"]

        def write(path, i):
            NearDupIndexWriter(path, threshold=0.4)(
                spark.createDataFrame([(i + 1, texts[i])], "doc_id long, text string"), i
            )

        def state(path):
            return read_matches(spark, path).count()

        def compact(path):
            return compact_neardup_index(spark, path)

        return write, compact, state, "postings", (1, 3)
    from cdc_pipeline_spark.streaming.retrieval_index import (
        Bm25IndexWriter,
        compact_index,
        read_index,
    )

    def write(path, i):
        Bm25IndexWriter(path)(
            spark.createDataFrame([(i + 1, f"apple w{i}")], "doc_id long, text string"), i
        )

    def state(path):
        tf, dls = read_index(spark, path)
        assert tf.count() == 2 * dls.count()
        return tf.count()

    return write, lambda path: compact_index(spark, path), state, "tf", (6, 8)


@pytest.mark.parametrize("family", ["rollup", "frontier", "neardup", "bm25"])
def test_crashed_compaction_swap_is_refused(spark, tmp_path, family):
    """A compaction that crashed between its two renames leaves the
    table only at <table>.old. Every write, compaction and read must
    refuse that state with a RuntimeError naming the .old directory:
    a write would start a fresh table that the next compaction's swap
    replaces — deleting .old and the history in it — and a read would
    serve an empty table (an empty 200 from a serving route looks like a
    real empty corpus). Renaming .old back recovers every row."""
    write, compact, state, sub, (n_before, n_after) = _state_table_family(spark, family)
    path = str(tmp_path / family)
    table = os.path.join(path, sub).rstrip("/")
    for i in range(3):
        write(path, i)
    compact(path)
    assert state(path) == n_before

    os.rename(table, table + ".old")
    refused = pytest.raises(
        RuntimeError, match=r"compaction crashed mid-swap; rename .*\.old back"
    )
    if family != "neardup":  # its reader is the probe, inside the write
        with refused:
            state(path)
    with refused:
        write(path, 3)
    with refused:
        compact(path)
    assert os.path.isdir(table + ".old") and not os.path.exists(table)

    os.rename(table + ".old", table)
    assert state(path) == n_before
    write(path, 3)
    compact(path)
    assert state(path) == n_after

    # a never-written table still reads as empty
    assert state(str(tmp_path / "nothing")) == 0


def _phash_png(light_positions):
    """8x8 black/white PNG with 255 at the given row-major positions —
    ahash64 bits == light positions by the exact-integer threshold."""
    import numpy as np

    from cdc_pipeline_spark.operators.imaging import encode_png

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    for i in light_positions:
        img[i // 8, i % 8] = 255
    return bytearray(encode_png(img))


_PHASH_SCHEMA = "doc_id long, payload binary"


def test_phash_index_writer_matches_batch_twin_and_replays(spark, tmp_path):
    """Streaming image near-dup (VERDICT r10 #8,
    streaming/neardup_index.py:PhashNearDupIndexWriter): per-batch
    probe-then-append over the SHARED dedup.banded_chunks banding must
    produce exactly the matches of the batch twin (image_phash +
    hamming_banded_pairs over the accumulated corpus, restricted to
    incoming x history per increment), quarantined payloads must post
    nothing yet keep their audit row, and a replayed batch must leave
    every table bit-identical."""
    from cdc_pipeline_spark.operators.dedup import hamming_banded_pairs
    from cdc_pipeline_spark.operators.multimodal import image_phash
    from cdc_pipeline_spark.streaming.neardup_index import (
        PhashNearDupIndexWriter,
        read_phash_matches,
    )

    base = {5, 12, 23, 34, 45, 56, 60, 61}
    far = {i for i in range(64) if i % 3 == 0}
    batches = [
        [(1, _phash_png(base)), (2, _phash_png(far))],
        # doc 3 at hamming 1 from doc 1; doc 4 undecodable
        [(3, _phash_png(base ^ {13})), (4, bytearray(b"not an image"))],
        # doc 5 at hamming 1 from 1 / 2 from 3; doc 6 at hamming 1 from 2
        [(5, _phash_png(base ^ {14})), (6, _phash_png(far ^ {7}))],
    ]
    path = str(tmp_path / "phidx")
    writer = PhashNearDupIndexWriter(path)
    for i, rows in enumerate(batches):
        writer(spark.createDataFrame(rows, _PHASH_SCHEMA), i)

    got = {
        (r.doc_id, r.match_id, r.hamming)
        for r in read_phash_matches(spark, path).collect()
    }

    # batch twin per increment: banded pairs over history+incoming,
    # restricted to pairs straddling the increment boundary
    expected = set()
    for i in range(1, len(batches)):
        hist_ids = {d for b in batches[:i] for d, _ in b}
        inc_ids = {d for d, _ in batches[i]}
        df = spark.createDataFrame(
            [r for b in batches[: i + 1] for r in b], _PHASH_SCHEMA
        )
        hashed = image_phash(df).filter("decoded")
        pairs = hamming_banded_pairs(
            hashed, sig_col="ahash", bits=64, bands=4, max_hamming=3,
            max_bucket=None,
        ).collect()
        for p in pairs:
            if p.id_a in inc_ids and p.id_b in hist_ids:
                expected.add((p.id_a, p.id_b, p.hamming))
            elif p.id_b in inc_ids and p.id_a in hist_ids:
                expected.add((p.id_b, p.id_a, p.hamming))
    assert got == expected
    assert {(d, m) for d, m, _ in got} >= {(3, 1), (5, 1), (5, 3), (6, 2)}
    assert all(d != 4 and m != 4 for d, m, _ in got)  # quarantined

    # the quarantined payload keeps its in-band audit row, posts nothing
    hashes = spark.read.parquet(f"{path}/hashes")
    audit = {r.doc_id: r.decoded for r in hashes.collect()}
    assert audit[4] is False and audit[1] is True
    postings = spark.read.parquet(f"{path}/postings")
    assert postings.filter("doc_id = 4").count() == 0

    # replay batch 1: all three tables bit-identical
    def snapshot():
        return {
            sub: sorted(
                map(str, spark.read.parquet(f"{path}/{sub}").collect())
            )
            for sub in ("matches", "postings", "hashes")
        }

    before = snapshot()
    writer(spark.createDataFrame(batches[1], _PHASH_SCHEMA), 1)
    assert snapshot() == before


def test_phash_index_compaction_and_quarantine_refresh(spark, tmp_path):
    """compact_phash_index folds postings (distinct) + hashes (latest
    DECODED row per doc, bool_or decoded) into batch_id=-1: the match
    log survives untouched, a replayed folded batch is a no-op, a
    post-compaction ingest probes folded history exactly as before —
    and a doc whose first ingest was corrupt but whose re-ingest
    decoded cleanly both matches and is matchable afterwards."""
    from cdc_pipeline_spark.streaming.neardup_index import (
        PhashNearDupIndexWriter,
        compact_phash_index,
        read_phash_matches,
    )

    base = {5, 12, 23, 34, 45, 56, 60, 61}
    path = str(tmp_path / "phcmp")
    writer = PhashNearDupIndexWriter(path, run_id="run-p")
    writer(
        spark.createDataFrame([(4, bytearray(b"corrupt")), (8, _phash_png(base))], _PHASH_SCHEMA), 0
    )
    # doc 4 re-ingested GOOD: matches 8, never itself
    writer(spark.createDataFrame([(4, _phash_png(base ^ {13}))], _PHASH_SCHEMA), 1)

    def matches():
        return sorted(
            (r.doc_id, r.match_id, r.hamming, r.batch_id)
            for r in read_phash_matches(spark, path).collect()
        )

    before = matches()
    assert [(d, m) for d, m, _, _ in before] == [(4, 8)]
    p_rows, h_rows = compact_phash_index(spark, path, run_id="run-p")
    assert p_rows == 8 and h_rows == 2  # 4 bands x 2 decoded docs; 2 docs
    assert matches() == before, "match log must survive compaction untouched"
    # folded hashes: doc 4 kept its DECODED hash (not the corrupt null)
    folded = {r.doc_id: r for r in spark.read.parquet(f"{path}/hashes").collect()}
    assert folded[4].decoded is True and folded[4].ahash is not None

    # replayed folded batch: guard skips it (no (4, 4) self-match)
    writer(spark.createDataFrame([(4, _phash_png(base ^ {13}))], _PHASH_SCHEMA), 1)
    assert matches() == before

    # post-compaction ingest probes folded history: matches BOTH docs
    writer(spark.createDataFrame([(9, _phash_png(base ^ {14}))], _PHASH_SCHEMA), 2)
    assert {(d, m) for d, m, _, _ in matches()} == {(4, 8), (9, 8), (9, 4)}


def test_phash_index_reads_empty_before_any_batch(spark, tmp_path):
    """Typed empty matches before any batch ran / on a clean corpus."""
    from cdc_pipeline_spark.streaming.neardup_index import (
        PhashNearDupIndexWriter,
        read_phash_matches,
    )

    path = str(tmp_path / "phidx_empty")
    pre = read_phash_matches(spark, path)
    assert pre.count() == 0
    assert pre.columns == ["doc_id", "match_id", "hamming", "batch_id"]
    writer = PhashNearDupIndexWriter(path)
    writer(spark.createDataFrame([(1, _phash_png({1, 2}))], _PHASH_SCHEMA), 0)
    far = {i for i in range(64) if i % 3 == 0}
    writer(spark.createDataFrame([(2, _phash_png(far))], _PHASH_SCHEMA), 1)
    out = read_phash_matches(spark, path)
    assert out.count() == 0
    assert out.columns == ["doc_id", "match_id", "hamming", "batch_id"]


# ---------------------------------------------------------------------------
# Streaming crawl-frontier maintenance (streaming/frontier_index.py):
# incremental partials must re-fold to EXACTLY the batch crawl_frontier
# over the accumulated captures, per increment.
# ---------------------------------------------------------------------------


def _frontier_capture(uri: str, body: bytes = b"", status: int = 200,
                      location: str | None = None) -> bytes:
    from cdc_pipeline_spark.sources import warc as W

    headers = {"Content-Type": "text/html", "Content-Length": str(len(body))}
    if location is not None:
        headers["Location"] = location
    return W.build_record(
        "response",
        {
            "WARC-Record-ID": f"<urn:t:{abs(hash(uri)) % 10**8}>",
            "WARC-Date": "2025-03-01T00:00:00Z",
            "WARC-Target-URI": uri,
            "Content-Type": "application/http; msgtype=response",
        },
        W.http_response_block(status, "OK" if status == 200 else "Moved", headers, body),
    )


def _frontier_batches():
    """Three increments exercising every frontier transition: discovery,
    discovered->captured shrink, both-kinds URL, and a redirect target."""
    from cdc_pipeline_spark.sources.warc import build_warc

    b0 = build_warc([
        _frontier_capture(
            "https://a.com/p1",
            b'<a href="/x">x</a><a href="/y">y</a>',
        ),
    ])
    # /x gets CAPTURED here (frontier shrink) while discovering /z and /y again
    b1 = build_warc([
        _frontier_capture(
            "https://a.com/x",
            b'<a href="/z">z</a><a href="/y">y</a>',
        ),
    ])
    # a redirect lands on /y -> both-kinds URL; /z gets captured
    b2 = build_warc([
        _frontier_capture("https://b.com/r", b"", 301, location="https://a.com/y"),
        _frontier_capture("https://a.com/z", b"<p>leaf</p>"),
    ])
    return [b0, b1, b2]


def test_frontier_index_matches_batch_twin_per_increment(spark, tmp_path):
    """Stream-maintained frontier == weblinks.crawl_frontier over the
    union of all captures so far, after EVERY increment; a replayed
    batch leaves the table bit-identical."""
    from cdc_pipeline_spark.operators.weblinks import capture_link_events, crawl_frontier
    from cdc_pipeline_spark.sources.warc import warc_records
    from cdc_pipeline_spark.streaming.frontier_index import (
        FrontierIndexWriter,
        read_frontier,
    )

    payloads = _frontier_batches()
    path = str(tmp_path / "frontier")
    writer = FrontierIndexWriter(path)

    def records(upto):
        rows = [(f"b{i}.warc", bytearray(p)) for i, p in enumerate(payloads[:upto])]
        return warc_records(spark.createDataFrame(rows, "path string, content binary"))

    def rows(df):
        return {(r.url, r.link_kind, r.n_discoveries) for r in df.collect()}

    for i, _ in enumerate(payloads):
        writer(records(i + 1).filter(F.col("path") == f"b{i}.warc"), i)
        got = rows(read_frontier(spark, path))
        want = rows(crawl_frontier(capture_link_events(records(i + 1))))
        assert got == want, f"increment {i}"

    # final state spot-check: /x and /z captured, /y discovered both ways
    assert got == {
        ("https://a.com/y", "outlink", 2),
        ("https://a.com/y", "redirect", 1),
    }

    # replay batch 1 -> bit-identical partials
    before = sorted(map(str, spark.read.parquet(f"{path}/partials").collect()))
    writer(records(2).filter(F.col("path") == "b1.warc"), 1)
    after = sorted(map(str, spark.read.parquet(f"{path}/partials").collect()))
    assert after == before


def test_frontier_index_compaction_preserves_reads(spark, tmp_path):
    """compact_frontier_index folds partials into batch_id=-1 without
    changing read_frontier; a replayed folded batch is a no-op under
    the marker guard; post-compaction ingest keeps accumulating."""
    from cdc_pipeline_spark.sources.warc import warc_records
    from cdc_pipeline_spark.streaming.frontier_index import (
        FrontierIndexWriter,
        compact_frontier_index,
        read_frontier,
    )

    payloads = _frontier_batches()
    path = str(tmp_path / "frontier-c")
    writer = FrontierIndexWriter(path, run_id="run-f")

    def batch(i):
        return warc_records(
            spark.createDataFrame(
                [(f"b{i}.warc", bytearray(payloads[i]))], "path string, content binary"
            )
        )

    def rows():
        return {
            (r.url, r.link_kind, r.n_discoveries)
            for r in read_frontier(spark, path).collect()
        }

    writer(batch(0), 0)
    writer(batch(1), 1)
    before = rows()
    n = compact_frontier_index(spark, path, run_id="run-f")
    assert n > 0
    assert rows() == before
    # replayed folded batch: no-op
    writer(batch(1), 1)
    assert rows() == before
    # post-compaction ingest still lands
    writer(batch(2), 2)
    assert rows() == {
        ("https://a.com/y", "outlink", 2),
        ("https://a.com/y", "redirect", 1),
    }


def test_frontier_index_empty_and_stream_wiring(spark, tmp_path):
    """read_frontier on a never-written path returns an empty typed
    frame, and the writer runs end-to-end under a real file stream
    (stream_warc_records -> foreachBatch)."""
    from cdc_pipeline_spark.sources.warc import stream_warc_records
    from cdc_pipeline_spark.streaming.frontier_index import (
        FrontierIndexWriter,
        read_frontier,
    )

    empty = read_frontier(spark, str(tmp_path / "nothing"))
    assert empty.columns == ["url", "link_kind", "n_discoveries"]
    assert empty.count() == 0

    src = tmp_path / "captures"
    src.mkdir()
    for i, p in enumerate(_frontier_batches()):
        (src / f"b{i}.warc").write_bytes(p)
    path = str(tmp_path / "frontier-s")
    stream = stream_warc_records(spark, str(src), glob="*.warc")
    q = (
        stream.writeStream.foreachBatch(FrontierIndexWriter(path))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.url, r.link_kind, r.n_discoveries)
        for r in read_frontier(spark, path).collect()
    }
    assert got == {
        ("https://a.com/y", "outlink", 2),
        ("https://a.com/y", "redirect", 1),
    }
