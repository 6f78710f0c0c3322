"""Continuously maintained BM25 index: a ``foreachBatch`` writer that
lands each micro-batch's term-frequency postings and document lengths,
plus a query-time scorer over the accumulated state.

Design (the incremental-retrieval shape at 100 TB): the corpus-global
BM25 inputs — df(t), N, avgdl — CHANGE with every ingested document, so
a streaming index must not bake final weights at write time. Instead
each micro-batch appends only its LOCAL, immutable facts:

  * ``tf/``       (doc_id, token, tf)   — the batch's postings
  * ``doclens/``  (doc_id, dl)          — every batch doc, incl. dl = 0

both partitioned by ``batch_id`` with per-batch dynamic-partition
overwrite, so a replayed micro-batch rewrites exactly its own partition
and the index is replay-idempotent (the state-table protocol of
``streaming/state_table.py``, one lock and replay guard per table).
Per-batch work is proportional to the batch; nothing re-reads history.
At query time ``bm25_topk_over_index`` derives the corpus stats from
the accumulated tables and ranks — bit-identical to running the batch
operator over the full corpus (pinned by the golden twin test), because
``operators/retrieval.py`` computes weights from exactly these two
tables. Bucketing ``tf/`` by token makes the query-term probe
shuffle-free on the corpus side.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.retrieval import (
    BM25_QUERIES,
    bm25_term_weights_from_stats,
    bm25_topk_from_weights,
    doc_lengths,
    token_tf,
)
from cdc_pipeline_spark.streaming.state_table import compact, read_table, write_batch

_TF_SCHEMA = "doc_id long, token string, tf long, batch_id int"
_DL_SCHEMA = "doc_id long, dl long, batch_id int"


class Bm25IndexWriter:
    """``foreachBatch`` writer maintaining the BM25 index tables.

    Call with ``(batch_df, batch_id)``; ``batch_df`` needs
    ``(id_col, text_col)``. Document ids are assumed unique across
    batches (the CDC/corpus-ingest convention); re-ingesting an id in a
    LATER batch double-counts it — route updates through a replay of
    the original batch id instead.

    ``run_id`` scopes the compaction replay guard exactly as in
    the other state tables (``streaming/state_table.py``):
    after :func:`compact_index` folds per-batch partitions into
    ``batch_id=-1``, a replayed (at-least-once) batch whose id the
    marker says is folded is skipped instead of re-creating its
    partition and double-counting postings on merge.
    """

    def __init__(
        self,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        run_id: str = "",
    ) -> None:
        self.path = path
        self.id_col = id_col
        self.text_col = text_col
        self.run_id = run_id

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.select(
            F.col(self.id_col).alias("doc_id"), F.col(self.text_col).alias("text")
        ).localCheckpoint()  # tf and doclens both re-read the batch; cut lineage once
        tf = token_tf(docs)
        # per-table lock + guard: a crash between the two folds in
        # compact_index leaves tf folded / doclens not — per-table
        # skipping keeps BOTH consistent under a subsequent replay
        for frame, sub in ((tf, "tf"), (doc_lengths(docs, tf), "doclens")):
            write_batch(os.path.join(self.path, sub), batch_id, self.run_id, frame)


def compact_index(spark: SparkSession, path: str, run_id: str = "") -> tuple[int, int]:
    """Fold both index tables' per-batch partitions into one
    ``batch_id=-1`` partition each, dropping the per-batch dirs —
    thousands of micro-batches otherwise mean thousands of tiny
    parquet partitions under ``tf/`` and ``doclens/``, and every query
    pays the file-listing + small-file scan tax.

    Postings are immutable FACTS (not mergeable aggregates), so the
    fold rewrites rows unchanged — queries read identical data before
    and after (pinned by the golden test). Locking, crash safety
    (tmp-write + rename-aside) and the replay marker are
    ``state_table.compact``'s, one lock per table; run from the
    maintenance cadence. Returns (tf_rows, doclens_rows) after
    compaction; a never-written table counts 0.
    """
    tf_rows, dl_rows = (
        compact(spark, [(os.path.join(path, sub), _keep, schema)], run_id)[0]
        for sub, schema in (("tf", _TF_SCHEMA), ("doclens", _DL_SCHEMA))
    )
    return tf_rows, dl_rows


def _keep(partials: DataFrame) -> DataFrame:
    return partials  # facts, not aggregates: the fold keeps every row


def read_index(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """The accumulated ``(tf, doclens)`` tables (explicit schemas — a
    never-started index or an empty-corpus batch leaves file-less
    directories that schema inference cannot read). A table left only at
    ``<table>.old`` by a crashed compaction swap raises instead of
    serving an empty index."""
    return (
        read_table(spark, os.path.join(path, "tf"), _TF_SCHEMA),
        read_table(spark, os.path.join(path, "doclens"), _DL_SCHEMA),
    )


def bm25_topk_over_index(
    spark: SparkSession,
    path: str,
    queries: Sequence[tuple[int, tuple[str, ...]]] = BM25_QUERIES,
    k: int = 10,
    broad_candidates: int | None = None,
) -> DataFrame:
    """Rank a term-query batch against the streaming-maintained index —
    corpus stats (df, N, avgdl) are derived from the accumulated state
    at query time, so results always reflect every ingested batch.
    ``broad_candidates`` enables the per-query TakeOrdered heap path for
    broad terms (see ``bm25_topk_from_weights``); the df probe counts
    postings directly on the STORED tf table (one groupBy over a
    broadcast-semi-pruned scan), never by executing the derived weight
    plan a second time."""
    tf, dls = read_index(spark, path)
    tf = tf.drop("batch_id")
    w = bm25_term_weights_from_stats(tf, dls.drop("batch_id"))
    return bm25_topk_from_weights(
        w, queries, k, broad_candidates=broad_candidates, probe=tf
    )
