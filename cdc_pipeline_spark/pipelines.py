"""End-to-end pipeline compositions.

The operators are useful alone; a production corpus build runs them as
one declarative chain. Because every stage is a DataFrame transform,
the COMPOSITION is still a single Catalyst plan — filters from the
quality gate push into the scan, the dedup window and the packing
window each cost one shuffle, and nothing materializes between stages
unless asked.

`prepare_training_corpus` is the canonical chain of an LLM data build:

    quality gate  →  exact dedup (canonical doc per fingerprint)  →
    sequence packing (budget-sized training rows)

Near-dup clustering (MinHash/LSH + connected components) slots between
dedup and packing when fuzzy dedup is required — kept out of the default
chain because its cost profile (candidate join) is corpus-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.packing import pack_sequences
from cdc_pipeline_spark.operators.quality import quality_rule_columns
from cdc_pipeline_spark.operators.text import fingerprint, tokens


def _gate_and_dedup(
    docs: DataFrame, id_col: str, shard_col: str, text_col: str
) -> DataFrame:
    """Shared quality-gate + exact-dedup prefix of both corpus builds:
    apply the rule columns, keep passing docs, and keep one canonical
    row per normalized-content fingerprint (lowest doc id). Both
    pipeline variants MUST run this exact prefix — a per-variant copy
    previously risked the gate or the canonical tie-break drifting
    between them. Returns the gated frame with the dedup bookkeeping
    column ``__rn`` already filtered to the canonical rows."""
    gated = docs.select(
        id_col, shard_col, text_col, *quality_rule_columns(text_col)
    ).filter(F.col("keep"))
    w = Window.partitionBy(fingerprint(text_col)).orderBy(F.col(id_col).asc())
    return gated.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)


def prepare_training_corpus(docs: DataFrame) -> DataFrame:
    """Quality-gate, dedup and pack a raw document table into
    training-sequence layout rows (doc_id, shard, n_tokens, pack_id) of
    at most 256 tokens per pack.

    Shuffle budget: the gate is scan-parallel (zero shuffle); dedup is
    one window shuffle on the content fingerprint; packing is one window
    shuffle on the shard. Three stages, two shuffles, one plan.
    """
    canonical = _gate_and_dedup(docs, "doc_id", "source", "text").select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )
    return pack_sequences(
        canonical,
        "n_tokens",
        budget=256,
        partition_cols=["source"],
        order_cols=["doc_id"],
    )


def prepare_training_corpus_budgeted(
    docs: DataFrame,
) -> DataFrame:
    """`prepare_training_corpus` with a data-mixing stage: after the
    gate and dedup, each shard keeps only its highest-quality documents
    up to 800 tokens (greedy prefix by quality), then packs. This is how a production mix pins per-domain token shares
    instead of letting the biggest domain dominate.

    Four stages, three shuffles (fingerprint window, budget window on
    the shard, packing window on the shard — the last two share the
    shard partitioning, so Catalyst plans ONE Exchange for both).
    """
    from cdc_pipeline_spark.operators.sampling import token_budget_select

    from cdc_pipeline_spark.operators.text import quality_score

    canonical = (
        _gate_and_dedup(docs, "doc_id", "source", "text")
        .withColumn("__toks", tokens("text"))
        # the SHARED text.quality_score formula — a local re-derivation
        # here previously made a third copy that could drift from it
        .select(
            "doc_id",
            "source",
            F.size(F.col("__toks")).cast("long").alias("n_tokens"),
            quality_score("__toks", "text").alias("__q"),
        )
    )
    selected = token_budget_select(
        canonical,
        group_col="source",
        tokens_col="n_tokens",
        budget=800,
        order_by=[F.col("__q").desc(), F.col("doc_id").asc()],
    ).drop("cum_tokens", "__q")
    return pack_sequences(
        selected,
        "n_tokens",
        budget=256,
        partition_cols=["source"],
        order_cols=["doc_id"],
    )



