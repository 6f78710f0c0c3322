"""Restart-recovery goldens for every streaming pipeline: stop a query
mid-stream (after some micro-batches committed), restart from the same
checkpoint with more input, and assert the final sink state is
IDENTICAL to an uninterrupted run over the same total input.

This is the recovery contract a production deployment actually relies
on (the reference wiped checkpoints at startup — SURVEY §2.9 — so this
engine's durable-checkpoint semantics are strictly stronger): window
state, complete-mode running counts, trend baselines, and the
applyInPandasWithState alert machine must all survive the restart.
"""

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

from cdc_pipeline_spark.serving.service import SnapshotService
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

BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z


def _rows(ts_values, id_offset=0):
    import datetime as dt

    out = []
    for i, (sec, etype, val) in enumerate(ts_values):
        out.append(
            (
                id_offset + i,
                dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=sec),
                100 + i % 3,
                etype,
                float(val),
            )
        )
    return out


def _write_files(spark, base, batches, schema=EVENT_SCHEMA, start_index=0):
    """One parquet file per batch, strictly increasing mtimes so the file
    source (maxFilesPerTrigger=1) ingests them in order."""
    os.makedirs(base, exist_ok=True)
    for i, rows in enumerate(batches, start=start_index):
        df = spark.createDataFrame(rows, schema).coalesce(1)
        part = os.path.join(base, f"b{i}")
        df.write.mode("overwrite").parquet(part)
        data_file = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        os.rename(os.path.join(part, data_file), os.path.join(base, f"{i:04d}.parquet"))
        now = time.time() + i
        os.utime(os.path.join(base, f"{i:04d}.parquet"), (now, now))


# ---------------------------------------------------------------------------
# pipeline specs: batches, starter, and the comparable final sink state
# ---------------------------------------------------------------------------


def _fuse_kpi(source):
    return source.select(
        F.col("created_at").alias("event_time"),
        F.col("user_id").alias("session_id"),
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .otherwise(F.lit(0.0))
        .alias("revenue_amount"),
        F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0)).alias("order_count"),
        F.when(F.col("event_type") == "error", F.lit(1)).otherwise(F.lit(0)).alias("error_count"),
        F.lit(1).alias("request_count"),
        F.col("value").alias("latency_ms"),
    )


def _shape_region(source):
    return source.select(
        F.col("created_at").alias("event_time"),
        F.col("event_type").alias("region_name"),
        F.col("value").alias("sales"),
        F.lit(1).alias("request_count"),
    )


def _shape_health(source):
    # tall metrics stream: alternate cpu/memory samples per event
    return source.select(
        F.col("created_at").alias("recorded_at"),
        F.when(F.col("event_type") == "error", F.lit("memory_percent"))
        .otherwise(F.lit("cpu_percent"))
        .alias("metric_name"),
        F.col("value").alias("metric_value"),
        F.concat(F.lit("node-"), F.col("user_id")).alias("node_name"),
    )


_BATCHES = [
    _rows([(0, "purchase", 100.0), (2, "view", 1.0), (8, "error", 40.0)], 0),
    _rows([(11, "purchase", 50.0), (15, "view", 2.0), (17, "error", 30.0)], 10),
    _rows([(21, "view", 3.0), (24, "purchase", 75.0), (28, "click", 20.0)], 20),
]


def _start_kpi(spark, src_dir, kv, ckpt):
    source = stream_parquet(spark, src_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    return jobs.start_kpi_pipeline(
        _fuse_kpi(source), kv, ckpt, trigger={"availableNow": True}
    )


def _start_traffic(spark, src_dir, kv, ckpt):
    source = stream_parquet(spark, src_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    return jobs.start_traffic_pipeline(
        source, kv, ckpt, time_col="created_at", trigger={"availableNow": True}
    )


def _start_region(spark, src_dir, kv, ckpt):
    source = stream_parquet(spark, src_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    return jobs.start_region_pipeline(
        _shape_region(source), kv, ckpt, trigger={"availableNow": True}
    )


def _start_health(spark, src_dir, kv, ckpt):
    source = stream_parquet(spark, src_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    return jobs.start_health_pipeline(
        _shape_health(source), kv, ckpt, trigger={"availableNow": True}
    )


def _start_geo(spark, src_dir, kv, ckpt):
    source = stream_parquet(spark, src_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    return jobs.start_geo_pipeline(
        source, kv, ckpt, time_col="created_at", trigger={"availableNow": True}
    )


def _start_platform(spark, src_dir, kv, ckpt):
    source = stream_parquet(spark, src_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    return jobs.start_platform_pipeline(
        source, kv, ckpt, platform_col="event_type", trigger={"availableNow": True}
    )


def _state_kpi(kv):
    snap = dict(kv.read_hash("nexus:kpi:current"))
    return snap


def _state_traffic(kv):
    # capped list is at-least-once: compare the NEWEST snapshot per window
    newest = {}
    for item in reversed([json.loads(i) for i in kv.lists.get("nexus:traffic:timeseries", [])]):
        newest[item["window_start"]] = item["value"]
    return newest


def _state_region(kv):
    return sorted(
        (r["region"], r["sales"], r["requests"])
        if "region" in json.loads(kv.strings["nexus:regions:current"])[0]
        else tuple(sorted(r.items()))
        for r in json.loads(kv.strings["nexus:regions:current"])
    )


def _state_health(kv):
    return dict(kv.read_hash("nexus:health:current"))


def _state_platform(kv):
    return sorted(
        (r["platform"], r["count"])
        for r in json.loads(kv.strings["nexus:platform:breakdown"])
    )


def _state_geo(kv):
    return dict(kv.read_hash("nexus:geo:header"))


# name → (starter, final sink state, the panel's serving event)
PIPELINES = {
    "kpi": (_start_kpi, _state_kpi, "metrics"),
    "geo": (_start_geo, _state_geo, "geo"),
    "traffic": (_start_traffic, _state_traffic, "traffic"),
    "region": (_start_region, _state_region, "regions"),
    "health": (_start_health, _state_health, "health"),
    "platform": (_start_platform, _state_platform, "platform"),
}


def _run_uninterrupted(spark, tmp_path, starter, stater, event):
    src = str(tmp_path / f"src-full-{uuid.uuid4().hex[:6]}")
    ckpt = str(tmp_path / f"ckpt-full-{uuid.uuid4().hex[:6]}")
    _write_files(spark, src, _BATCHES)
    kv = InMemoryKV()
    q = starter(spark, src, kv, ckpt)
    q.awaitTermination(180)
    # the serving layer reads what the pipeline wrote: the panel is not
    # its empty-state default
    served = SnapshotService(kv).fetch(event)
    assert served != SnapshotService(InMemoryKV()).fetch(event), (
        f"{event}: the serving layer reads an empty panel after the run"
    )
    return stater(kv)


def _run_interrupted(spark, tmp_path, starter, stater):
    src = str(tmp_path / f"src-cut-{uuid.uuid4().hex[:6]}")
    ckpt = str(tmp_path / f"ckpt-cut-{uuid.uuid4().hex[:6]}")
    _write_files(spark, src, _BATCHES[:2])
    kv = InMemoryKV()
    q = starter(spark, src, kv, ckpt)  # drains 2 files, then stops
    q.awaitTermination(180)
    assert not q.isActive
    # more data arrives while the job is down; restart from the SAME
    # checkpoint against the SAME kv
    _write_files(spark, src, _BATCHES[2:], start_index=2)
    q2 = starter(spark, src, kv, ckpt)
    q2.awaitTermination(180)
    return stater(kv)


@pytest.mark.parametrize("name", sorted(PIPELINES))
def test_restart_recovery_matches_uninterrupted_run(spark, tmp_path, name):
    starter, stater, event = PIPELINES[name]
    golden = _run_uninterrupted(spark, tmp_path, starter, stater, event)
    recovered = _run_interrupted(spark, tmp_path, starter, stater)
    assert recovered == golden, (
        f"{name}: state after checkpoint restart diverges from the "
        f"uninterrupted run\nrecovered={recovered}\ngolden={golden}"
    )
    # the golden itself must be non-trivial, or the equality is vacuous
    assert golden, f"{name}: empty final sink state"


def test_late_only_batch_keeps_the_newest_window(spark, tmp_path):
    """A micro-batch whose rows all fall in an older, still-open window
    (inside the watermark) emits only that window in update mode; the
    served hash and regions panels must keep the newer window."""
    batches = [
        _rows([(300, "purchase", 10.0), (301, "purchase", 20.0)], 0),
        _rows([(10, "purchase", 5.0)], 10),
    ]
    src = str(tmp_path / "late-src")
    _write_files(spark, src, batches)
    kv = InMemoryKV()
    for starter in (_start_geo, _start_region):
        q = starter(spark, src, kv, str(tmp_path / f"late-ckpt-{starter.__name__}"))
        q.awaitTermination(180)
        assert q.lastProgress["batchId"] == 1, "expected one micro-batch per file"
    service = SnapshotService(kv)
    geo = service.fetch("geo")
    # 1 min / 30 s windows: events at +300 s and +301 s → newest window
    # [+300, +360) holds both; the late event's window ends at +60 s
    assert (geo["window_end"], geo["request_count"]) == (BASE_EPOCH + 360, 2)
    # 30 s / 15 s windows → newest [+300, +330)
    regions = service.fetch("regions")
    assert [(r["window_end"], r["region_name"], r["sales"]) for r in regions] == [
        (BASE_EPOCH + 330, "purchase", 30.0)
    ]
    # and the late batch published nothing: one frame per panel
    channels = [channel for channel, _payload in kv.published]
    assert (channels.count("nexus:geo"), channels.count("nexus:regions")) == (1, 1)


def test_regions_panel_merges_regions_of_the_current_window(spark, tmp_path):
    """Update mode emits only the (window, region) rows a trigger
    changed: a batch revising one region of the served window must keep
    the window's other regions."""
    src = str(tmp_path / "merge-src")
    _write_files(spark, src, [
        _rows([(300, "purchase", 10.0), (302, "view", 1.0)], 0),
        _rows([(305, "purchase", 20.0)], 10),
    ])
    kv = InMemoryKV()
    q = _start_region(spark, src, kv, str(tmp_path / "merge-ckpt"))
    q.awaitTermination(180)
    regions = SnapshotService(kv).fetch("regions")
    assert sorted((r["window_end"], r["region_name"], r["sales"]) for r in regions) == [
        (BASE_EPOCH + 330, "purchase", 30.0),
        (BASE_EPOCH + 330, "view", 1.0),
    ]


def test_late_batch_guard_keeps_newer_hash_and_rewrites_equal_window(spark):
    """Writer level: an older batch writes nothing (no hash, no publish,
    no trend baseline); a batch of the same window revises it."""
    from cdc_pipeline_spark.streaming.sinks import latest_row_hash_writer, trend_hash_writer

    def batch(window_end, value):
        return spark.createDataFrame([(window_end, value)], "window_end long, value double")

    kv = InMemoryKV()
    hash_w = latest_row_hash_writer(kv, "h", order_cols=["window_end"], channel="c")
    trend_w = trend_hash_writer(
        kv, "t", order_cols=["window_end"], trend_cols=["value"],
        state_key_prefix="t:snap", period_seconds=60, channel="c",
    )
    for write, key in ((hash_w, "h"), (trend_w, "t")):
        write(batch(360, 2.0), 0)
        published = len(kv.published)
        write(batch(60, 1.0), 1)
        assert kv.read_hash(key)["window_end"] == "360" and len(kv.published) == published
        write(batch(360, 3.0), 2)
        assert kv.read_hash(key)["value"] == "3.0"
    assert not kv.read_hash("t:snap:1"), "a late batch must not seed a trend baseline"
    # a timestamp order column is stored as its str() and compared as time
    import datetime as dt

    ts_w = trend_hash_writer(
        kv, "ts", order_cols=["window_end"], trend_cols=["value"], state_key_prefix="ts:snap",
    )
    for window_end in (dt.datetime(2024, 1, 1, 1), dt.datetime(2024, 1, 1, 0, 30)):
        ts_w(spark.createDataFrame([(window_end, 1.0)], "window_end timestamp, value double"), 0)
    assert kv.read_hash("ts")["window_end"] == "2024-01-01 01:00:00"


ALERT_SCHEMA = StructType(
    [
        StructField("rule_id", StringType()),
        StructField("status", StringType()),
        StructField("window_end", LongType()),
    ]
)


def _run_alert(spark, tmp_path, interrupted: bool):
    """The applyInPandasWithState machine: count=3 lives in the state
    store at the cut point; the restarted query must resume from it
    (and keep the last_window high-water mark — batch 3 replays an
    already-counted window, which a fresh state would double-count)."""
    src = str(tmp_path / f"alert-src-{uuid.uuid4().hex[:6]}")
    ckpt = str(tmp_path / f"alert-ckpt-{uuid.uuid4().hex[:6]}")
    batches = [
        [("cpu", "firing", 10), ("cpu", "firing", 20)],   # → pending(2)
        [("cpu", "firing", 30)],                          # → firing(3)
        [("cpu", "firing", 30), ("cpu", "firing", 40)],   # replay(30) + new → firing(4)
    ]
    emitted = []

    def capture(batch, _):
        emitted.extend(r.asDict() for r in batch.collect())

    def start():
        source = stream_parquet(spark, src, ALERT_SCHEMA, max_files_per_trigger=1)
        out = consecutive_breach_alerts(source, n_breaches=3)
        return (
            out.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(capture)
            .trigger(availableNow=True)
            .start()
        )

    if interrupted:
        _write_files(spark, src, batches[:2], schema=ALERT_SCHEMA)
        q = start()
        q.awaitTermination(180)
        _write_files(spark, src, batches[2:], schema=ALERT_SCHEMA, start_index=2)
        q2 = start()
        q2.awaitTermination(180)
    else:
        _write_files(spark, src, batches, schema=ALERT_SCHEMA)
        q = start()
        q.awaitTermination(180)
    return emitted[-1]


def test_alert_state_machine_survives_restart(spark, tmp_path):
    golden = _run_alert(spark, tmp_path, interrupted=False)
    recovered = _run_alert(spark, tmp_path, interrupted=True)
    assert golden == recovered
    # count 4: state count=3 AND the window-30 high-water mark were both
    # recovered — a lost high-water mark would re-count the replayed
    # window 30 and report 5; a lost count would report 1
    assert recovered["consecutive_breaches"] == 4
    assert recovered["status"] == "firing"
