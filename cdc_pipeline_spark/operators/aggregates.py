"""Aggregation pipelines A1–A7 (SURVEY.md §2.5) as composable builders.

Each builder is a pure DataFrame→DataFrame function usable in batch AND
Structured Streaming (the caller adds watermark/outputMode). Column names
are parameterized; defaults match the reference's domain relations.

All aggregations are hash aggregations over event-time windows — Spark
executes them as partial (map-side) + final (post-shuffle) HashAggregate,
which is exactly the scale posture we want: the shuffle carries one row
per (window, key) per map task, not raw events.

Determinism switch: the reference uses ``percentile_approx`` (KLL/GK
sketch, ``kpi_aggregator.py:192``) and ``approx_count_distinct`` (HLL++,
``health_aggregator.py:38``). Both are the right call at 100 TB; for the
DuckDB-oracle correctness gate the builders accept ``exact=True`` to use
``percentile`` / ``count_distinct`` instead (SURVEY §5 test plan).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.rounding import round_half_up
from cdc_pipeline_spark.operators.templates import template
from cdc_pipeline_spark.operators.windows import window_bounds_epoch, window_col


def fuse_streams(frames: list[DataFrame]) -> DataFrame:
    """Normalize-then-union multi-stream fusion (reference
    ``kpi_aggregator.py:177-181``, ``region_aggregator.py:116``): callers
    project each stream to a common layout, this folds ``unionByName``."""
    return reduce(lambda a, b: a.unionByName(b), frames)


# ---------------------------------------------------------------------------
# A1 — KPI aggregator (kpi_aggregator.py:146-203)
# ---------------------------------------------------------------------------

def windowed_kpi(
    df: DataFrame,
    time_col: str = "event_time",
    duration: str = "30 seconds",
    slide: str | None = "10 seconds",
    session_col: str | None = "session_id",
    revenue_col: str = "revenue_amount",
    order_col: str = "order_count",
    error_col: str = "error_count",
    request_col: str = "request_count",
    latency_col: str = "latency_ms",
    exact: bool = False,
) -> DataFrame:
    """Sliding-window KPI multi-aggregate.

    Reference aggregates (``kpi_aggregator.py:183-193``): sum of active
    sessions, sum revenue, sum orders, error rate with a
    ``greatest(sum(request_count), 1)`` divide-by-zero guard, median
    latency. The reference *approximates* activeUsers as a sum over
    active-session events; the design doc wanted COUNT(DISTINCT session)
    (``DESCRIPTION.md:1133``) — this builder implements the distinct-count
    semantics (``session_col``), fixing the documented gap (SURVEY §2.5).
    """
    group, aggs, out = _kpi_columns(
        time_col, duration, slide, session_col, revenue_col, order_col, error_col, request_col, latency_col, exact
    )
    return df.groupBy(group).agg(*aggs).select(*out)


@template
def _kpi_columns(time_col, duration, slide, session_col, revenue_col, order_col, error_col, request_col,
                 latency_col, exact):
    if exact:
        latency_p50 = F.percentile(F.col(latency_col), F.lit(0.5))
    else:
        latency_p50 = F.percentile_approx(F.col(latency_col), F.lit(0.5), F.lit(10000))
    user_aggs = []
    if session_col is not None:
        active_users = (
            F.count_distinct(F.col(session_col)) if exact else F.approx_count_distinct(session_col)
        )
        user_aggs.append(active_users.alias("active_users"))
    aggs = (
        *user_aggs,
        round_half_up(F.sum(revenue_col), 2).alias("revenue"),
        F.sum(order_col).alias("orders"),
        round_half_up(
            F.sum(error_col) / F.greatest(F.sum(request_col), F.lit(1)) * 100.0, 2
        ).alias("error_rate"),
        round_half_up(latency_p50, 4).alias("latency_p50"),
    )
    out_cols = (["active_users"] if session_col is not None else []) + [
        "revenue",
        "orders",
        "error_rate",
        "latency_p50",
    ]
    return window_col(time_col, duration, slide), aggs, (*window_bounds_epoch(), *map(F.col, out_cols))


# ---------------------------------------------------------------------------
# A2 — Region aggregator (region_aggregator.py:101-131)
# ---------------------------------------------------------------------------

def windowed_region(
    df: DataFrame,
    time_col: str = "event_time",
    duration: str = "30 seconds",
    slide: str | None = "15 seconds",
) -> DataFrame:
    """Per-(window, region) sales + request counts; visual intensity is
    ``least(request_count * 5.0, 100.0)`` (``region_aggregator.py:129``)
    and Unknown-region rows come from ``coalesce`` defaults upstream
    (``region_aggregator.py:104,110``)."""
    region, key, aggs, intensity, out = _region_columns(time_col, duration, slide)
    agg = df.withColumn("region_name", region).groupBy(*key).agg(*aggs).withColumn("intensity", intensity)
    return agg.select(*out)


@template
def _region_columns(time_col, duration, slide):
    return (
        F.coalesce(F.col("region_name"), F.lit("Unknown")),
        (window_col(time_col, duration, slide), F.col("region_name").alias("region_name")),
        (round_half_up(F.sum("sales"), 2).alias("sales"), F.sum("request_count").alias("request_count")),
        F.least(F.col("request_count") * 5.0, F.lit(100.0)),
        (*window_bounds_epoch(), *map(F.col, ("region_name", "sales", "request_count", "intensity"))),
    )


# ---------------------------------------------------------------------------
# A3 — Traffic builder (traffic_builder.py:35-44)
# ---------------------------------------------------------------------------

def tumbling_traffic(
    df: DataFrame,
    time_col: str = "created_at",
    duration: str = "10 seconds",
) -> DataFrame:
    """Tumbling-window request count; contract row is
    ``{timestamp: epoch_ms(window.end), value: count, label: hh:mm:ss a}``
    (``traffic_builder.py:27-44``)."""
    group, count, out = _traffic_columns(time_col, duration)
    return df.groupBy(group).agg(count).select(*out)


@template
def _traffic_columns(time_col, duration):
    out = (
        *window_bounds_epoch(),
        F.col("value"),
        F.date_format(F.col("window.end"), "hh:mm:ss a").alias("label"),
    )
    return window_col(time_col, duration), F.count(F.lit(1)).alias("value"), out


# ---------------------------------------------------------------------------
# A4 — Health aggregator (health_aggregator.py:30-50)
# ---------------------------------------------------------------------------

def windowed_health(
    df: DataFrame,
    time_col: str = "recorded_at",
    metric_name_col: str = "metric_name",
    metric_value_col: str = "metric_value",
    node_col: str = "node_name",
    cpu_metric: str = "cpu_percent",
    memory_metric: str = "memory_percent",
    duration: str = "30 seconds",
    slide: str | None = "15 seconds",
    exact: bool = False,
) -> DataFrame:
    """Pivot-style conditional means over a tall metrics stream plus a
    distinct node count (``avg(when(metric_name=..., value))`` +
    ``approx_count_distinct(node_name)``, health_aggregator.py:36-42);
    zero-filled with ``coalesce`` like the reference (:41-42)."""
    name, value = F.col(metric_name_col), F.col(metric_value_col)
    nodes = F.count_distinct(F.col(node_col)) if exact else F.approx_count_distinct(node_col)
    agg = df.groupBy(window_col(time_col, duration, slide)).agg(
        round_half_up(F.coalesce(F.avg(F.when(name == cpu_metric, value)), F.lit(0.0)), 4).alias("cpu_avg"),
        round_half_up(F.coalesce(F.avg(F.when(name == memory_metric, value)), F.lit(0.0)), 4).alias("memory_avg"),
        nodes.alias("node_count"),
    )
    return agg.select(*window_bounds_epoch(), "cpu_avg", "memory_avg", "node_count")


# ---------------------------------------------------------------------------
# A5 — Platform breakdown (device_platform.py:35-44)
# ---------------------------------------------------------------------------

def platform_breakdown(df: DataFrame, platform_col: str = "platform") -> DataFrame:
    """Global (un-windowed) per-platform counts; non-null filter first
    (``device_platform.py:37``). In streaming this runs in complete mode;
    in batch it is a plain group-count."""
    return (
        df.filter(F.col(platform_col).isNotNull())
        .groupBy(F.col(platform_col).alias("platform"))
        .agg(F.count(F.lit(1)).alias("count"))
    )


# ---------------------------------------------------------------------------
# A6 — Geo header (geo_header.py:30-45)
# ---------------------------------------------------------------------------

def windowed_geo_header(
    df: DataFrame,
    time_col: str = "created_at",
) -> DataFrame:
    """Windowed request count with a formatted "global load" label
    (``concat(format_number(count*scale, 1), ' TB/S')``, geo_header.py:36-40)."""
    agg = df.groupBy(window_col(time_col, "1 minute", "30 seconds")).agg(F.count(F.lit(1)).alias("request_count"))
    return agg.select(
        *window_bounds_epoch(),
        "request_count",
        F.concat(
            round_half_up(F.col("request_count") * 0.1, 1).cast("string"),
            F.lit(" TB/S"),
        ).alias("global_load"),
    )


# ---------------------------------------------------------------------------
# A7 — Alert frame (alert_evaluator.py:43-78)
# ---------------------------------------------------------------------------

def alert_frame(df: DataFrame, rules: list[dict], id_cols: list[str] | None = None) -> DataFrame:
    """Per-row threshold evaluation of N rules, unioned.

    Each rule: ``{"id", "metric" (column name), "op" (">=", "<="),
    "threshold"}``. Reference evaluates 3 fixed rules with
    ``when(metric >= thr, 'firing').otherwise('ok')`` and folds
    ``unionByName`` (alert_evaluator.py:43-78). ``id_cols`` carry the
    evaluated entity's identity (window/group) through to the output.
    """
    if not rules:
        # empty rule set (all disabled) → empty frame with the contract schema
        return df.limit(0).select(
            *[F.col(c) for c in (id_cols or [])],
            F.lit("").alias("rule_id"),
            F.lit("").alias("metric"),
            F.lit(0.0).alias("metric_value"),
            F.lit(0.0).alias("threshold"),
            F.lit("").alias("status"),
        )
    frames = []
    for rule in rules:
        metric = F.col(rule["metric"])
        breach = metric >= F.lit(rule["threshold"]) if rule.get("op", ">=") == ">=" else metric <= F.lit(rule["threshold"])
        frames.append(
            df.select(
                *[F.col(c) for c in (id_cols or [])],
                F.lit(rule["id"]).alias("rule_id"),
                F.lit(rule["metric"]).alias("metric"),
                metric.cast("double").alias("metric_value"),
                F.lit(float(rule["threshold"])).alias("threshold"),
                F.when(breach, F.lit("firing")).otherwise(F.lit("ok")).alias("status"),
            )
        )
    return fuse_streams(frames)


def derive_flows(region_df: DataFrame) -> DataFrame:
    """Region flow derivation (reference computes it driver-side in
    Python: sorted by intensity, hub = rank-1 region, flows = next five
    regions → hub with value = source intensity,
    region_aggregator.py:53-65,79-96). Distributed form: latest window →
    rank by intensity (deterministic name tiebreak) → broadcast the hub
    row back over ranks 2..6.

    Input: windowed_region output (window_end, region_name, intensity).
    Output: (source, target, value) rows.
    """
    from pyspark.sql import Window

    latest_end = region_df.select(F.max("window_end").alias("__max_end"))
    latest = region_df.join(F.broadcast(latest_end), F.col("window_end") == F.col("__max_end")).drop("__max_end")
    # Partition-less Window: a deliberate single-reducer sort. The input
    # is ONE window's region rows — cardinality = #regions, a dimension
    # bounded by the enrichment mapping (dozens), matching the
    # reference's driver-side sorted() over the same rows. If flows are
    # ever derived over a data-driven high-cardinality key, rank via
    # topk.top_k (TakeOrderedAndProject) instead of this window.
    ranked = latest.withColumn(
        "__rank",
        F.row_number().over(Window.orderBy(F.col("intensity").desc(), F.col("region_name").asc())),
    )
    hub = ranked.filter(F.col("__rank") == 1).select(F.col("region_name").alias("target"))
    return (
        ranked.filter((F.col("__rank") >= 2) & (F.col("__rank") <= 6))
        .crossJoin(F.broadcast(hub))
        .select(
            F.col("region_name").alias("source"),
            "target",
            F.col("intensity").alias("value"),
        )
    )
