"""Streaming job wiring — the three reference jobs re-expressed with
watermarked update/append modes instead of complete mode.

Reference jobs (SURVEY §3): transaction (KPI + activity + region),
infrastructure (traffic + health + geo), derived (platform). The
reference ran traffic/region/health/geo/platform in COMPLETE mode with
no watermark — unbounded state (SURVEY §7.5.1). Here every windowed
pipeline is ``withWatermark(...)`` + ``update`` output, and the sink
keeps the latest-window contract; state is bounded by the watermark
horizon. Watermarks are applied AFTER multi-stream union, matching the
reference's placement rule ("Redefining watermark is disallowed",
kpi_aggregator.py:180, FLOW.md:101-103).

Sources are injected as DataFrames so the same wiring runs against
Kafka (production), files (tests), or rate sources. Each pipeline
writes the kv key, channel and list cap of its panel in the serving
contract (``serving.service.CONTRACT``), so writer and reader cannot
drift apart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cdc_pipeline_spark.operators import aggregates
from cdc_pipeline_spark.operators.activity import enrich_activity
from cdc_pipeline_spark.serving.service import CONTRACT
from cdc_pipeline_spark.streaming import sinks as sink_lib

WATERMARK = "10 minutes"


def _start(df: DataFrame, writer, checkpoint: str, mode: str, trigger: dict | None) -> StreamingQuery:
    ws = df.writeStream.outputMode(mode).option("checkpointLocation", checkpoint).foreachBatch(writer)
    if trigger:
        ws = ws.trigger(**trigger)
    return ws.start()


def start_traffic_pipeline(
    source: DataFrame,
    kv,
    checkpoint: str,
    time_col: str = "created_at",
    trigger: dict | None = None,
) -> StreamingQuery:
    """A3: tumbling count → capped-list sink (traffic_builder.py:35-55),
    but watermark+update instead of complete mode."""
    _route, key, channel, cap = CONTRACT["traffic"]
    agg = aggregates.tumbling_traffic(source.withWatermark(time_col, WATERMARK), time_col=time_col)
    # update mode RE-EMITS a window per micro-batch as events accrue:
    # dedupe_key upserts the revised point instead of stacking stale
    # entries for the same window (which also evicted older windows)
    writer = sink_lib.capped_list_writer(
        kv, key, max_len=cap, order_cols=["window_end"], channel=channel,
        dedupe_key="window_end",
    )
    return _start(agg, writer, checkpoint, "update", trigger)


def start_kpi_pipeline(
    fused: DataFrame,
    kv,
    checkpoint: str,
    trigger: dict | None = None,
    trend_period_seconds: int = 3600,
) -> StreamingQuery:
    """A1: the caller normalizes + unions the component streams
    (aggregates.fuse_streams); watermark goes here, after the union.
    Sketch aggregates only (approx distinct users, approx median):
    streaming rejects the exact distinct count of the batch oracle path.

    The published hash carries ``<metric>_trend`` period-over-period
    percentages computed by reading back the previous period's kv
    snapshot inside foreachBatch — the reference's K5 mechanism (hourly
    Redis snapshots with a 2h TTL re-read each batch,
    kpi_aggregator.py:28-51,74-95). Set ``trend_period_seconds`` to the
    reference's 3600 for hourly buckets; tests shrink it to get
    multi-period coverage from seconds-apart micro-batches."""
    _route, key, channel, _cap = CONTRACT["metrics"]
    agg = aggregates.windowed_kpi(fused.withWatermark("event_time", WATERMARK))
    trend_cols = [c for c in agg.columns if c not in ("window_start", "window_end")]
    writer = sink_lib.trend_hash_writer(
        kv,
        key,
        order_cols=["window_end"],
        trend_cols=trend_cols,
        state_key_prefix=f"{key}:snapshot",
        period_seconds=trend_period_seconds,
        state_ttl=2 * trend_period_seconds,
        channel=channel,
    )
    return _start(agg, writer, checkpoint, "update", trigger)


def start_region_pipeline(
    source: DataFrame,
    kv,
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """A2: per-(window, region) snapshot serialized as one JSON array of
    the latest window's regions (region_aggregator.py:32-47)."""
    _route, key, channel, _cap = CONTRACT["regions"]
    agg = aggregates.windowed_region(source.withWatermark("event_time", WATERMARK))

    def latest_window_regions(rows: list[dict]):
        # update mode emits only the (window, region) rows this trigger
        # changed: merge them into the served window's regions, and
        # leave the snapshot alone when every row is from an older
        # window (a late-only batch must not roll the panel back)
        served = kv.read_json(key) or []
        latest = max(r["window_end"] for r in rows + served)
        if all(r["window_end"] < latest for r in rows):
            return None
        merged = {r["region_name"]: r for r in served if r["window_end"] == latest}
        merged.update((r["region_name"], r) for r in rows if r["window_end"] == latest)
        return list(merged.values())

    writer = sink_lib.snapshot_json_writer(
        kv, key, shaper=latest_window_regions, channel=channel, order_cols=["window_end"]
    )
    return _start(agg, writer, checkpoint, "update", trigger)


def start_activity_pipeline(
    source: DataFrame,
    kv,
    checkpoint: str,
    time_col: str = "created_at",
    trigger: dict | None = None,
    **enrich_kwargs,
) -> StreamingQuery:
    """Activity feed: stateless projection → append mode → ring buffer
    (activity_enricher.py:29-61)."""
    _route, key, channel, cap = CONTRACT["activity"]
    shaped = enrich_activity(source, time_col=time_col, **enrich_kwargs)
    writer = sink_lib.capped_list_writer(kv, key, max_len=cap, order_cols=["timestamp", "id"], channel=channel)
    return _start(shaped, writer, checkpoint, "append", trigger)


def start_health_pipeline(
    source: DataFrame,
    kv,
    checkpoint: str,
    trigger: dict | None = None,
    **health_kwargs,
) -> StreamingQuery:
    """A4: conditional means + node count → latest-window hash snapshot."""
    _route, key, channel, _cap = CONTRACT["health"]
    agg = aggregates.windowed_health(
        source.withWatermark("recorded_at", WATERMARK), **health_kwargs
    )
    writer = sink_lib.latest_row_hash_writer(kv, key, order_cols=["window_end"], channel=channel)
    return _start(agg, writer, checkpoint, "update", trigger)


def start_platform_pipeline(
    source: DataFrame,
    kv,
    checkpoint: str,
    platform_col: str = "platform",
    trigger: dict | None = None,
) -> StreamingQuery:
    """A5: global running group-count. This one is legitimately
    complete-mode (small, bounded cardinality = #platforms) — matching
    the reference (device_platform.py:50)."""
    _route, key, channel, _cap = CONTRACT["platform"]
    agg = aggregates.platform_breakdown(source, platform_col=platform_col)
    writer = sink_lib.snapshot_json_writer(kv, key, order_cols=["count"], channel=channel)
    return _start(agg, writer, checkpoint, "complete", trigger)


def start_geo_pipeline(
    source: DataFrame,
    kv,
    checkpoint: str,
    time_col: str = "created_at",
    trigger: dict | None = None,
) -> StreamingQuery:
    """A6: 1m/30s windowed count + formatted load label → hash snapshot."""
    _route, key, channel, _cap = CONTRACT["geo"]
    agg = aggregates.windowed_geo_header(source.withWatermark(time_col, WATERMARK), time_col=time_col)
    writer = sink_lib.latest_row_hash_writer(kv, key, order_cols=["window_end"], channel=channel)
    return _start(agg, writer, checkpoint, "update", trigger)


# ---------------------------------------------------------------------------
# Composite entry points mirroring the reference's job binaries (SURVEY
# §3: transaction_analytics, infrastructure_analytics). Each takes
# pre-built source DataFrames (Kafka in production, files in tests) and
# returns the started queries. Reference job 3 (derived_analytics.py:
# 9-17) is one query, started by `start_platform_pipeline` directly.
# ---------------------------------------------------------------------------


def start_transaction_job(
    kpi_fused: DataFrame,
    activity_source: DataFrame,
    region_source: DataFrame,
    kv,
    checkpoint_base: str,
    trigger: dict | None = None,
    **activity_kwargs,
) -> list[StreamingQuery]:
    """Reference job 1 (transaction_analytics.py:17-41): KPI + activity +
    region. Each query gets its own checkpoint dir and (per the
    reference's multi-query isolation rule) its own source DataFrame."""
    return [
        start_kpi_pipeline(kpi_fused, kv, f"{checkpoint_base}/kpi", trigger=trigger),
        start_activity_pipeline(activity_source, kv, f"{checkpoint_base}/activity", trigger=trigger, **activity_kwargs),
        start_region_pipeline(region_source, kv, f"{checkpoint_base}/region", trigger=trigger),
    ]


def start_infrastructure_job(
    traffic_source: DataFrame,
    health_source: DataFrame,
    geo_source: DataFrame,
    kv,
    checkpoint_base: str,
    trigger: dict | None = None,
) -> list[StreamingQuery]:
    """Reference job 2 (infrastructure_analytics.py:11-22): traffic +
    health + geo."""
    return [
        start_traffic_pipeline(traffic_source, kv, f"{checkpoint_base}/traffic", trigger=trigger),
        start_health_pipeline(health_source, kv, f"{checkpoint_base}/health", trigger=trigger),
        start_geo_pipeline(geo_source, kv, f"{checkpoint_base}/geo", trigger=trigger),
    ]
