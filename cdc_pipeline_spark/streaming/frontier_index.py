"""Streaming crawl-frontier maintenance: the `weblinks.crawl_frontier`
fold kept incrementally current as capture files land.

A live crawl discovers URLs continuously (WAT outlinks, redirect
targets) while simultaneously shrinking the frontier (each fetch turns
a discovered URL into a captured one).  This module maintains that
state over a capture stream (`sources/warc.py:stream_warc_records` →
`weblinks.capture_link_events`) with the state-table protocol
(`streaming/state_table.py`): each micro-batch writes its PER-URL PARTIAL
aggregate — ``(url, __cap, __n_out, __n_red)``, max/sum re-foldable —
into its own ``batch_id=<n>`` partition with dynamic-partition
overwrite, so an at-least-once foreachBatch replay rewrites exactly its
own partition and the merged read never double-counts.  The frontier at
any moment is `read_frontier`: re-fold the partials (max of maxes, sum
of sums — associative and commutative, so the result is independent of
batch boundaries) and apply the SAME `weblinks.frontier_rows`
projection the batch operator uses — the golden test pins
stream-maintained output == `crawl_frontier` over the union of all
events, per increment.

A ``captured`` event is terminal for its URL (``__cap`` is a max), so
increments can only move a URL frontier→captured, never back — exactly
the crawl-history semantics.  Compaction folds all partials into one
``batch_id=-1`` partition under the shared marker/lock protocol
(`state_table.compact`), bounding the per-read file listing on
long-running crawls.

At 100 TB: partials are keyed on url, so bucketing ``partials/`` by
url makes each increment's write and the read-side re-fold
co-partitioned; per-batch partial size is proportional to the batch's
distinct URLs, not to history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.weblinks import (
    capture_link_events,
    frontier_partial,
    frontier_rows,
)
from cdc_pipeline_spark.streaming.state_table import compact, read_table, write_batch

_PARTIALS = "partials"

_PARTIAL_SCHEMA = "url string, __cap int, __n_out bigint, __n_red bigint, batch_id int"


class FrontierIndexWriter:
    """``foreachBatch`` writer over PARSED CAPTURE RECORDS
    (`warc_records` schema): derives the batch's (url, kind) link
    events, aggregates them per url, and lands the partial in the
    batch's own partition.  ``run_id`` scopes the replay guard exactly
    as in `RollupTableWriter` (batch ids restart at 0 with a new
    checkpoint — compact with the new run_id before reusing a table)."""

    def __init__(self, path: str, run_id: str = "") -> None:
        self.path = path
        self.run_id = run_id

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        partial = frontier_partial(capture_link_events(batch_df))
        write_batch(os.path.join(self.path, _PARTIALS), batch_id, self.run_id, partial)


def read_frontier(spark: SparkSession, path: str) -> DataFrame:
    """The current frontier: re-fold every batch partial and apply the
    shared `frontier_rows` projection — output schema identical to
    `weblinks.crawl_frontier` (url, link_kind, n_discoveries)."""
    partials = read_table(spark, os.path.join(path, _PARTIALS), _PARTIAL_SCHEMA)
    return frontier_rows(_refold(partials))


def _refold(partials: DataFrame) -> DataFrame:
    return partials.groupBy("url").agg(
        F.max("__cap").alias("__cap"),
        F.sum("__n_out").alias("__n_out"),
        F.sum("__n_red").alias("__n_red"),
    )


def compact_frontier_index(spark: SparkSession, path: str, run_id: str = "") -> int:
    """Fold all batch partials into one ``batch_id=-1`` partition.
    The fold IS the read-side re-fold (max/sum per url), so
    `read_frontier` results are unchanged by construction; the marker
    written by the compaction makes a replayed already-folded batch
    a no-op under the writer's guard.  Returns the folded row count."""
    table = os.path.join(path, _PARTIALS)
    return compact(spark, [(table, _refold, _PARTIAL_SCHEMA)], run_id)[0]
