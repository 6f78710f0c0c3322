"""Continuous-aggregate maintenance: a streaming-updated rollup table.

The batch side (`workload.events_multigrain_rollup`) shows the grain
hierarchy: 5-minute partials → hour → day, each level re-aggregated
from the one below. This module maintains the FINEST grain from a
stream so the whole hierarchy stays queryable without ever re-scanning
raw history — the reference's fixed 30s/10s dashboards are the finest
grain of exactly this pattern, but its state lives only in Redis
snapshots; here the partials are a durable, mergeable table.

Exactly-once without a transaction log: each micro-batch writes its
partial rows under ``batch_id=<n>`` through the shared state-table
protocol (``streaming/state_table.py``: table lock, run-scoped replay
guard, rename-aside compaction), so an at-least-once foreachBatch
replay overwrites ITS OWN partition and nothing else. Readers merge
partials with a mergeable aggregate (counts and DECIMAL sums —
fold-order-free), so a half-written replay is at worst a torn read of
one batch, never a double count after it lands. Each family's fold is
declared once and serves both its reader and its compactor.

Scale: per-batch write volume is |distinct 5-min buckets in the batch|
rows — bounded by watermark span, independent of table size. Partial
files accumulate one dir per batch; fold them periodically with
``compact_partials`` (same maintenance cadence as SCD2 retention).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_pipeline_spark.streaming.state_table import compact, read_table, write_batch

__all__ = [
    "RollupTableWriter",
    "read_rollup",
    "compact_partials",
    "HistogramRollupWriter",
    "read_histogram_rollup",
    "compact_histogram_partials",
    "GramRollupWriter",
    "read_gram_rollup",
    "compact_gram_partials",
]

_GRAIN_SECONDS = {"5min": 300, "hour": 3600, "day": 86400}
_ROLLUP_SCHEMA = "bucket_start long, n_events long, v decimal(28,2), batch_id int"
_GRAM_SCHEMA = "i int, j int, v decimal(38,0), batch_id int"


def _fold_buckets(partials: DataFrame, seconds: int | None = None) -> DataFrame:
    """Merge time partials per bucket — re-bucketed to ``seconds`` when
    given (a coarser read grain), else per stored bucket."""
    bucket = F.col("bucket_start")
    if seconds is not None:
        bucket = (F.floor(bucket / seconds) * seconds).cast("long")
    return partials.groupBy(bucket.alias("bucket_start")).agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("v").cast("decimal(28,2)").alias("v"),
    )


def _fold_bins(partials: DataFrame, group_cols: tuple[str, ...] = ()) -> DataFrame:
    return partials.groupBy(*group_cols, "bin").agg(F.sum("n").cast("long").alias("n"))


def _fold_gram(partials: DataFrame) -> DataFrame:
    return partials.groupBy("i", "j").agg(F.sum("v").alias("v"))


class RollupTableWriter:
    """``foreachBatch`` writer maintaining 5-minute partials at ``path``.

    ``run_id`` names the streaming-checkpoint generation this writer
    belongs to (pass the checkpoint path or a uuid stored beside it).
    The replay guard — skipping batch ids the compaction marker says
    were already folded — applies ONLY within the same run_id: batch ids
    restart at 0 whenever a checkpoint is recreated, and a guard keyed
    on the raw id would silently drop the new run's first batches.
    Before pointing a NEW checkpoint at an existing rollup table, run
    :func:`compact_partials` (with the new run_id) so stale per-batch
    partitions can't collide with the new run's restarted ids."""

    def __init__(
        self,
        path: str,
        time_col: str = "ts",
        value_col: str = "value",
        grain_seconds: int = 300,
        run_id: str = "",
    ) -> None:
        self.path = path
        self.time_col = time_col
        self.value_col = value_col
        self.grain_seconds = grain_seconds
        self.run_id = run_id

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        partials = (
            batch_df.groupBy(
                (
                    F.floor(F.col(self.time_col).cast("long") / self.grain_seconds)
                    * self.grain_seconds
                )
                .cast("long")
                .alias("bucket_start")
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col(self.value_col))
                .cast("decimal(28,2)")
                .alias("v"),
            )
        )
        write_batch(self.path, batch_id, self.run_id, partials)


def read_rollup(spark: SparkSession, path: str, grain: str = "5min") -> DataFrame:
    """Merge the partials up to the requested grain: (bucket_start,
    n_events, sum_value). Counts and decimal sums are mergeable, so the
    result is independent of how many batches contributed to a bucket."""
    partials = read_table(spark, path, _ROLLUP_SCHEMA)
    return _fold_buckets(partials, _GRAIN_SECONDS[grain]).withColumnRenamed(
        "v", "sum_value"
    )


def compact_partials(
    spark: SparkSession, path: str, run_id: str = "", lock_timeout: float = 30.0
) -> int:
    """Fold all per-batch partials into one ``batch_id=-1`` partition
    (merging by bucket), dropping the per-batch dirs. Returns the number
    of partial rows after compaction (0 for a never-written table). Run
    from the maintenance cadence — readers are correct before and after,
    this only bounds file count. Crash and replay safety are the
    ``state_table.compact`` contract: rename-aside swap plus the
    run-scoped marker the writer's replay guard consults (a lakehouse
    table format turns the swap into an atomic metadata commit)."""
    return compact(spark, [(path, _fold_buckets, _ROLLUP_SCHEMA)], run_id, lock_timeout)[0]


class HistogramRollupWriter:
    """``foreachBatch`` writer maintaining histogram-sketch partials:
    each micro-batch appends its (group_cols..., bin, n) counts under
    ``batch_id=<n>`` — the same idempotence-by-layout and run-scoped
    replay guard as :class:`RollupTableWriter`. Bin counts are additive,
    so readers merge partials exactly (no quantization caveat at all)
    and :func:`cdc_pipeline_spark.operators.sketches.
    percentiles_from_bin_counts` serves percentiles from the merged
    state — a continuously-maintained approximate-percentile table
    whose per-batch write volume is ≤ n_bins rows per group.

    Compaction: :func:`compact_histogram_partials` — same marker and
    rename-aside swap as the time rollup, so a replay of an
    already-folded batch is skipped by the guard above. (Folding to a
    fresh path by hand would lose the marker and double-count a
    replayed batch.)"""

    def __init__(
        self,
        path: str,
        value_col: str,
        lo: float,
        hi: float,
        n_bins: int,
        group_cols: tuple[str, ...] = (),
        run_id: str = "",
    ) -> None:
        self.path = path
        self.value_col = value_col
        self.lo = float(lo)
        self.width = (float(hi) - float(lo)) / n_bins
        self.n_bins = n_bins
        self.group_cols = tuple(group_cols)
        self.run_id = run_id

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from cdc_pipeline_spark.operators.sketches import histogram_bin

        partials = (
            batch_df.filter(F.col(self.value_col).isNotNull())
            .groupBy(
                *self.group_cols,
                histogram_bin(
                    F.col(self.value_col), self.lo, self.width, self.n_bins
                ).alias("bin"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
        write_batch(self.path, batch_id, self.run_id, partials)


def read_histogram_rollup(
    spark: SparkSession, path: str, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Merge histogram partials to (group_cols..., bin, n) — exact
    regardless of batch layout (integer sums). Feed to
    ``percentiles_from_bin_counts`` for serving. The group columns'
    types come from the writer's input, so the read infers the schema
    and a never-written table raises Spark's AnalysisException."""
    return _fold_bins(read_table(spark, path), tuple(group_cols))


def compact_histogram_partials(spark: SparkSession, path: str, run_id: str = "") -> int:
    """Fold histogram per-batch partials into one ``batch_id=-1``
    partition (exact integer merge), with the same replay marker and
    crash-safe rename-aside swap as :func:`compact_partials` — so an
    at-least-once replay of an already-folded batch id is skipped by
    the writer's guard instead of double-counting."""
    return compact(spark, [(path, _fold_bins, None)], run_id)[0]


class GramRollupWriter:
    """``foreachBatch`` writer maintaining the exact integer Gram/
    covariance partials of an embedding stream: each micro-batch
    appends its sentinel-encoded partial rows (upper-triangle XᵀX at
    (i, j≥0), column sums at (i, −1), row count at (−1, −1) — see
    ``operators.linalg.gram_partial_rows``) under ``batch_id=<n>``,
    with the same idempotence-by-layout, run-scoped replay guard and
    table lock as the other rollup writers. Partials are ADDITIVE
    decimal(38,0) integers, so readers merge them exactly (fold-order
    free) and :func:`read_gram_rollup` assembles the same centered
    ``G = n·S − m·mᵀ`` a from-scratch batch pass would produce — a
    continuously-maintained covariance/PCA precompute whose per-batch
    write volume is ≤ d(d+1)/2 + d + 1 rows regardless of batch size.
    """

    def __init__(
        self,
        path: str,
        vec_col: str = "embedding",
        scale: int = 1 << 12,
        run_id: str = "",
    ) -> None:
        self.path = path
        self.vec_col = vec_col
        self.scale = int(scale)
        self.run_id = run_id

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from cdc_pipeline_spark.operators.linalg import gram_partial_rows

        # non-finite components would corrupt the integer partials (and
        # gram_partial_rows raises on them) — a streaming writer must
        # drop such rows rather than kill the query; the count sentinel
        # reflects the rows actually folded in
        finite = batch_df.filter(
            F.col(self.vec_col).isNotNull()
            & ~F.exists(
                F.col(self.vec_col),
                lambda x: F.isnan(x.cast("double"))
                | (F.abs(x.cast("double")) == F.lit(float("inf"))),
            )
        )
        partials = _fold_gram(
            gram_partial_rows(finite, vec_col=self.vec_col, scale=self.scale)
        )
        write_batch(self.path, batch_id, self.run_id, partials)


def read_gram_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Merge Gram partials and assemble the centered Gram upper
    triangle (i, j, g) — exact regardless of batch layout (decimal
    integer sums), bit-equal to ``operators.linalg.quantized_gram``
    over the full history (golden-tested)."""
    from cdc_pipeline_spark.operators.linalg import assemble_centered_gram

    return assemble_centered_gram(_fold_gram(read_table(spark, path, _GRAM_SCHEMA)))


def compact_gram_partials(spark: SparkSession, path: str, run_id: str = "") -> int:
    """Fold Gram per-batch partials into one ``batch_id=-1`` partition
    (exact decimal merge), with the same replay marker and crash-safe
    rename-aside swap as the other compactors."""
    return compact(spark, [(path, _fold_gram, _GRAM_SCHEMA)], run_id)[0]
