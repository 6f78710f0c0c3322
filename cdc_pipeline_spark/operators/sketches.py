"""Mergeable sketch aggregates.

`lineitem_exact_percentiles` (workload_analytic.py) computes ordered-set
aggregates exactly — which needs each group's values sorted together and
stops scaling when one group holds trillions of rows. The scale path is
a MERGEABLE sketch whose state is small, commutative and associative, so
map-side partial aggregation collapses each partition to sketch-state
before the shuffle and the exchange carries kilobytes per group
regardless of input size.

Spark's built-in `percentile_approx` is exactly that (a KLL/GK-family
sketch), but its internal state is engine-specific, so a DuckDB oracle
can't replay it. The fixed-bin histogram here trades adaptivity for
portability: the sketch state is an integer bin-count vector, every step
is integer or exactly-reproducible double arithmetic, and the rank→bin
walk is replayable in any SQL engine — the same determinism posture as
the HLL register algebra in `events_daily_distinct_hll`
(SCALE.md "Cross-engine determinism policy", technique 1).

Error bound: a percentile estimate is the UPPER EDGE of the first bin
whose cumulative count reaches ceil(p·total), so it overshoots the true
percentile by at most one bin width ((hi-lo)/n_bins); values outside
[lo, hi) clamp into the edge bins.

No reference counterpart (the reference's only percentile is
`percentile_approx` in src/streaming/transforms/health_aggregator.py);
this generalizes it to a portable, mergeable batch/streaming aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_pipeline_spark.operators.rounding import round_half_up


def histogram_bin(value_col: Column, lo: float, width: float, n_bins: int) -> Column:
    """Deterministic bin index in [0, n_bins): floor((x-lo)/width),
    clamped so out-of-range values land in the edge bins. Pure integer
    result of correctly-rounded double ops — identical in any engine."""
    raw = F.floor((value_col.cast("double") - F.lit(float(lo))) / F.lit(float(width)))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)).cast("long")


def histogram_percentiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    percentiles: dict[str, float],
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Approximate grouped percentiles from a fixed-bin histogram.

    Shape: ONE shuffle on (group, bin) with map-side partial counts (the
    mergeable sketch state — the exchange carries ≤ n_bins rows per
    group however large the input), then two windows and a final ≤n_bins
    rows/group aggregate. Estimate for p: upper edge of the first bin
    with cumulative count ≥ ceil(p·total); error ≤ (hi-lo)/n_bins.

    ``percentiles`` maps output column name → fraction, e.g.
    {"p50_est": 0.5}. Also emits ``total`` (exact group count — the
    sketch preserves it by construction).
    """
    width = (float(hi) - float(lo)) / n_bins
    counts = (
        df.filter(F.col(value_col).isNotNull())  # a NULL is no measurement, not a lo-edge one
        .groupBy(*group_cols, histogram_bin(F.col(value_col), lo, width, n_bins).alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return percentiles_from_bin_counts(counts, group_cols, percentiles, lo, width)


def percentiles_from_bin_counts(
    counts: DataFrame,
    group_cols: list[str],
    percentiles: dict[str, float],
    lo: float,
    width: float,
) -> DataFrame:
    """The rank→bin walk over materialized sketch state — ``counts`` is
    (group_cols..., bin, n). Separated so a STREAMING-maintained sketch
    (additive per-batch bin-count partials, see
    streaming/rollup.py::HistogramRollupWriter) serves the same
    percentiles as the batch scan: merge the partials, walk the ranks.
    Input size here is ≤ n_bins rows per group regardless of how many
    rows (or batches) produced it."""
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*group_cols)
    cum = counts.withColumn("cum", F.sum("n").over(w_cum)).withColumn(
        "total", F.sum("n").over(w_tot)
    )
    aggs = []
    for name, p in percentiles.items():
        # cum >= ceil(p·total) in EXACT integer arithmetic: quantize p
        # to 1e-4 and cross-multiply (cum·10⁴ ≥ p_q·total). A float
        # p*total rounds above the exact integer for many (p, total)
        # pairs (0.07·100 → 7.000000000000001), silently shifting the
        # rank and breaking the one-bin-width error bound. Headroom:
        # cum·10⁴ stays in int64 for totals < 9.2e14 rows per group.
        p_q = round(float(p) * 10_000)
        sel_bin = F.min(
            F.when(
                F.col("cum") * F.lit(10_000) >= F.lit(p_q) * F.col("total"), F.col("bin")
            )
        )
        aggs.append(
            round_half_up(
                F.lit(float(lo)) + (sel_bin + F.lit(1)) * F.lit(float(width)), 6
            ).alias(name)
        )
    aggs.append(F.max("total").cast("long").alias("total"))
    return cum.groupBy(*group_cols).agg(*aggs)


def histogram_percentiles_sql(
    table: str,
    value_expr: str,
    group_cols: list[str],
    percentiles: dict[str, float],
    lo: float,
    hi: float,
    n_bins: int,
) -> str:
    """DuckDB mirror of :func:`histogram_percentiles` — same binning,
    same rank→bin walk, same upper-edge estimate. round(...) is
    rewritten to the floor form at registration like every oracle."""
    width = (float(hi) - float(lo)) / n_bins
    gcols = ", ".join(group_cols)
    bin_expr = (
        f"CAST(least(greatest(floor((CAST({value_expr} AS DOUBLE) - {float(lo)})"
        f" / {float(width)}), 0), {n_bins - 1}) AS BIGINT)"
    )
    est_cols = ",\n           ".join(
        f"round({float(lo)} + (min(CASE WHEN cum * 10000 >= {round(float(p) * 10_000)} * total"
        f" THEN bin END) + 1) * {float(width)}, 6) AS {name}"
        for name, p in percentiles.items()
    )
    return f"""
    WITH counts AS (
        SELECT {gcols}, {bin_expr} AS bin, count(*) AS n
        FROM {table}
        WHERE {value_expr} IS NOT NULL
        GROUP BY {gcols}, bin
    ),
    c AS (
        SELECT {gcols}, bin, n,
               sum(n) OVER (PARTITION BY {gcols} ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(n) OVER (PARTITION BY {gcols}) AS total
        FROM counts
    )
    SELECT {gcols},
           {est_cols},
           CAST(max(total) AS BIGINT) AS total
    FROM c
    GROUP BY {gcols}
    """


_MERSENNE_P = 2147483647
_CMS_A0 = 2654435761  # Knuth multiplicative constant; per-row odd variants below
# Sketch shape and hash family shared by the Spark build, the Spark probe
# and the DuckDB mirror.
_CMS_DEPTH, _CMS_WIDTH, _CMS_SEED = 4, 2048, 7


def _cms_row_params(depth: int) -> list[tuple[int, int]]:
    """(a_j, b_j) per sketch row for the universal hash
    ((a·h + b) mod 2³¹−1) mod width — odd multipliers (A0 is odd, the
    offset is even), distinct across the rows of ONE sketch.
    Products stay < 2⁶³ for h < 2³¹."""
    return [(_CMS_A0 + 2 * (_CMS_SEED + j), 11 + 7 * j) for j in range(depth)]


def _cms_coords(hash_col: Column, depth: int, width: int) -> Column:
    """The (row_idx, col) cell array for one key — the single invariant
    that must match between sketch build and sketch probe, so both call
    this helper."""
    params = _cms_row_params(depth)
    return F.array(
        *[
            F.struct(
                F.lit(j).cast("long").alias("row_idx"),
                (((hash_col * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE_P)) % F.lit(width)).alias(
                    "col"
                ),
            )
            for j, (a, b) in enumerate(params)
        ]
    )


def count_min_counters(
    df: DataFrame,
    hash_col: Column,
    depth: int = _CMS_DEPTH,
    width: int = _CMS_WIDTH,
) -> DataFrame:
    """Count-min sketch state (Cormode & Muthukrishnan 2005) over a
    pre-hashed key column: (row_idx, col, n) counters, depth·width cells
    total. Like the histogram sketch, the state is additive integers —
    map-side partial aggregation collapses each task to ≤ depth·width
    rows before the shuffle, partials from any split of the data merge
    exactly, and every hash is engine-portable (feed
    ``dedup.portable_token_hash`` for string keys so a DuckDB oracle
    replays the cells bit-for-bit)."""
    coords = _cms_coords(hash_col, depth, width)
    return (
        df.select(F.explode(coords).alias("c"))
        .groupBy(F.col("c.row_idx").alias("row_idx"), F.col("c.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_estimate(
    counters: DataFrame,
    keys: DataFrame,
    hash_col: Column,
    depth: int = _CMS_DEPTH,
    width: int = _CMS_WIDTH,
) -> DataFrame:
    """Point-query the sketch: each key reads its ``depth`` cells and
    takes the min — an upper bound on the key's true count (collisions
    only ever ADD). ``keys`` rows are preserved with an ``n_cms``
    column; a cell the sketch never touched counts as ZERO (left join +
    coalesce), so a never-inserted key correctly estimates 0 — an inner
    join here would silently drop such keys, or worse, min() over only
    its colliding cells. The counters side is ≤ depth·width rows, so
    the join broadcasts however large the corpus that built it."""
    coords = _cms_coords(hash_col, depth, width)
    probed = keys.withColumn("__c", F.explode(coords)).select(
        *keys.columns, F.col("__c.row_idx").alias("row_idx"), F.col("__c.col").alias("col")
    )
    return (
        probed.join(F.broadcast(counters), ["row_idx", "col"], "left")
        .groupBy(*keys.columns)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).cast("long").alias("n_cms"))
    )


def cms_sql_ctes() -> tuple[str, str]:
    """DuckDB mirrors of the default-shape sketch: (counters CTE body,
    per-key coords UNION body). The caller embeds them with the same
    token-hash CTE the SimHash oracle uses."""
    params = _cms_row_params(_CMS_DEPTH)
    width = _CMS_WIDTH
    counter_rows = "\n        UNION ALL ".join(
        f"SELECT {j} AS row_idx, ((th * {a} + {b}) % {_MERSENNE_P}) % {width} AS col"
        " FROM h"
        for j, (a, b) in enumerate(params)
    )
    probe_rows = "\n        UNION ALL ".join(
        f"SELECT token, freq, {j} AS row_idx,"
        f" ((th * {a} + {b}) % {_MERSENNE_P}) % {width} AS col FROM exact"
        for j, (a, b) in enumerate(params)
    )
    return counter_rows, probe_rows
