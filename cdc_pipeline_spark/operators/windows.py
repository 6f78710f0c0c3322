"""Event-time window helpers (tumbling + sliding).

Reference window kinds (``src/streaming/config.py:69-78``): sliding
30s/10s (KPI), 30s/15s (region, health), 1m/30s (geo); tumbling 10s
(traffic). No session windows in the reference; a helper is provided
anyway because sessionization is a standard need at scale.

All helpers are pure Column/DataFrame expressions so they behave
identically in batch and Structured Streaming (where ``F.window`` becomes
a stateful operator keyed by window).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.templates import template


def window_col(time_col: str, duration: str, slide: str | None = None) -> Column:
    """``F.window`` with optional slide; windows are epoch-aligned."""
    return _window(time_col, duration, slide)


@template
def _window(time_col, duration, slide):
    if slide:
        return F.window(F.col(time_col), duration, slide)
    return F.window(F.col(time_col), duration)


def window_bounds_epoch() -> list[Column]:
    """Project window struct to epoch-second longs (stable across engines,
    used by every pipeline's output contract; reference emits epoch-ms,
    ``kpi_aggregator.py:201``)."""
    return list(_bounds())


@template
def _bounds():
    return (
        F.col("window.start").cast("long").alias("window_start"),
        F.col("window.end").cast("long").alias("window_end"),
    )


def epoch_ms(col: Column) -> Column:
    """Timestamp → epoch milliseconds, as the reference serves to the UI
    (``(window.end.cast("double")*1000).cast("long")``, kpi_aggregator.py:201)."""
    return (col.cast("double") * 1000).cast("long")


def sessionize(df: DataFrame, time_col: str, gap: str, keys: list[str], *aggs: Column) -> DataFrame:
    """Session-window aggregation with an inactivity gap (not in the
    reference; the natural Spark expression of its `sessions` table
    semantics). Emits one row per (keys, session) with the session
    bounds as epoch seconds plus the caller's aggregates."""
    aggs = aggs or (F.count(F.lit(1)).alias("events_in_session"),)
    grouped = df.groupBy(*keys, F.session_window(F.col(time_col), gap)).agg(*aggs)
    return grouped.select(
        *keys,
        F.col("session_window.start").cast("long").alias("session_start"),
        F.col("session_window.end").cast("long").alias("session_end"),
        *[c for c in grouped.columns if c not in (*keys, "session_window")],
    )
