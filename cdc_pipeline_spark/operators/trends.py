"""Trend computation — current vs previous period percent change.

The reference computes KPI trends driver-side against a Redis hourly
snapshot with a 2h TTL (``kpi_aggregator.py:28-51,74-95``); SURVEY §2.6
notes the relational form is ``lag(value) over (order by period)``. The
engine implements the relational form: it is testable, exact, and at
scale it is a tiny post-aggregation window over a handful of period rows
(the input here is already aggregated — #periods rows, not raw events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.rounding import round_half_up


def period_over_period(
    df: DataFrame,
    time_col: str,
    value_cols: list[str],
) -> DataFrame:
    """Percent change of each value column vs the previous hour.

    ``trend = round((cur - prev) / prev * 100, 2)`` with NULL when there is
    no previous period or prev == 0 (the reference returns 0.0 trend when
    the baseline is missing, kpi_aggregator.py:33-39 — callers can
    ``coalesce`` to 0.0 to match).

    The unpartitioned ``Window.orderBy`` is safe here because the input is
    post-aggregation (one row per period).
    """
    bucket = F.date_trunc("hour", F.col(time_col)).alias("period_start")
    aggs = [round_half_up(F.sum(c), 2).alias(c) for c in value_cols]
    grouped = df.groupBy(bucket).agg(*aggs)

    w = Window.orderBy("period_start")
    out = grouped
    for c in value_cols:
        prev = F.lag(F.col(c)).over(w)
        out = out.withColumn(
            f"{c}_trend",
            F.when(
                prev.isNotNull() & (prev != 0),
                round_half_up((F.col(c) - prev) / prev * 100.0, 2),
            ),
        )
    return out.withColumn("period_start", F.col("period_start").cast("long"))


def count_anomaly_minutes(df: DataFrame, k_sigma: int = 3) -> DataFrame:
    """Per-group event-RATE anomaly minutes: flag each minute whose
    event count deviates from the group's mean by more than ``k_sigma``
    standard deviations — the volume-spike/outage screen a streaming
    monitor runs over its own throughput (reference analog: the
    traffic-per-minute rollup the monitor pages on,
    ``kpi_aggregator.py``'s traffic path; here batch + exact).

    EXACT integer decision, no floats anywhere: with n observed
    minutes, counts c_i, S1 = Σc, S2 = Σc², the test
    ``|c − mean| > k·σ`` multiplies through by n² to
    ``(n·c − S1)² > k²·(n·S2 − S1²)`` — all BIGINT, so the flag
    replays bit-identically in any engine and under any partitioning
    (and a zero-variance group flags nothing, no division ever
    happens). Overflow bound: the BOUND side carries the k² factor, so
    int64 safety needs k²·(n·c_max)² < 2⁶³ — at k=3 that is
    n·c_max < ~1.0·10⁹ (the dev² side alone would allow ~3·10⁹) —
    far above any minute-grain corpus here; cast to decimal past that.

    Statistics are over OBSERVED minutes only (a minute with zero
    events contributes no row — gap-filling is `events_gapfill_5min`'s
    job). One scan: the (group, minute) count table is checkpointed and
    re-aggregated for the moments, so the corpus is read once.

    Output: (group, minute_epoch, n_events, dev2, bound) sorted, where
    ``dev2 = (n·c − S1)²`` and ``bound = k²·(n·S2 − S1²)`` — the two
    sides of the exact inequality, kept for auditability.
    """
    counts = (
        df.select(
            F.col("event_type").alias("grp"),
            F.date_trunc("minute", F.col("ts")).alias("minute"),
        )
        .groupBy("grp", "minute")
        .agg(F.count(F.lit(1)).alias("c"))
        # lazy: materializes at the FIRST action and is shared by both
        # consumers (moments + flag join) from then on — eager would
        # run a full corpus aggregation at DataFrame-CONSTRUCTION time,
        # turning every plan inspection into a real Spark job
        .localCheckpoint(eager=False)
    )
    stats = counts.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    dev = F.col("n") * F.col("c") - F.col("s1")
    dev2 = (dev * dev).alias("dev2")
    bound = (
        F.lit(int(k_sigma) * int(k_sigma))
        * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
    ).alias("bound")
    flagged = (
        counts.join(F.broadcast(stats), "grp")
        .select(
            F.col("grp").alias("event_type"),
            F.col("minute").cast("long").alias("minute_epoch"),
            F.col("c").cast("long").alias("n_events"),
            dev2.cast("long").alias("dev2"),
            bound.cast("long").alias("bound"),
        )
        .filter(F.col("dev2") > F.col("bound"))
    )
    return flagged.orderBy("event_type", "minute_epoch")
