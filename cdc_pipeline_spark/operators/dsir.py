"""DSIR-style importance resampling for training-data selection.

Implements the hashed n-gram importance-weighting scheme of Xie et al.
2023 ("Data Selection for Language Models via Importance Resampling",
NeurIPS 2023): score every raw-corpus document by how much more likely
its hashed n-gram features are under a target-domain bag-of-grams model
than under the raw-corpus model, then resample the top-k under
deterministic Gumbel noise (Gumbel-top-k == sampling without replacement
proportional to the softmax of the log-weights).

Scale shape (the reason this maps cleanly onto 100 TB):

1. gram extraction is a pure JVM expression chain (split / transform /
   explode) — whole-stage codegen, no Python worker;
2. both bag-of-grams models are ``buckets``-row aggregates (one shuffle
   each over the gram posting, map-side partially combined), and the
   resulting log-ratio table is at most ``buckets`` rows — broadcast;
3. per-doc scoring is one broadcast join + one shuffle on doc_id;
4. selection is a global top-k (TakeOrdered — per-partition heaps +
   driver merge of k rows), never a global sort.

Determinism for the DuckDB oracle: grams are hashed with the SQL-portable
codepoint fold (``dedup.portable_token_hash``), per-bucket log ratios are
rounded to DECIMAL(18,6) BEFORE the per-doc sum (decimal addition is
fold-order-independent, so partition count never flips a rounding
boundary — see operators/rounding.py), and the Gumbel noise is derived
from the portable multiplicative id hash (``sampling.portable_id_bucket``)
rather than an RNG.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.dedup import portable_token_hash
from cdc_pipeline_spark.operators.rounding import round_half_up
from cdc_pipeline_spark.operators.sampling import portable_id_bucket
from cdc_pipeline_spark.operators.text import tokens

BUCKETS = 4096  # hashed feature width, shared with classifier.hashed_weight_table


def hashed_gram_posting(df: DataFrame) -> DataFrame:
    """(doc_id, bucket) posting of hashed unigram (+ bigram) features —
    the DSIR feature space. Buckets via the portable codepoint-fold hash
    mod ``BUCKETS`` so a SQL oracle can replicate the feature extraction
    bit-for-bit. Empty tokens (from empty/whitespace text) are dropped
    before gram formation in both engines.

    The input is spread to full parallelism first: the codepoint-fold
    hash is interpreted (higher-order F.aggregate), so a single-file
    parquet input would otherwise run it on one core."""
    from cdc_pipeline_spark.operators.partitioning import ensure_parallelism as _spread
    from cdc_pipeline_spark.operators.text import adjacent_grams

    toks = _spread(df).select(
        "doc_id",
        F.filter(tokens("text"), lambda t: t != F.lit("")).alias("toks"),
    )
    grams = F.concat(F.col("toks"), adjacent_grams(F.col("toks")))
    posting = toks.select("doc_id", F.explode(grams).alias("gram"))
    return posting.select(
        "doc_id", (portable_token_hash(F.col("gram")) % F.lit(BUCKETS)).alias("bucket")
    )


def _bucket_counts(posting: DataFrame) -> DataFrame:
    return posting.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-raw-document DSIR importance log-weight:

        log w(x) = Σ_g  [ ln p_target(bucket(g)) − ln q_raw(bucket(g)) ]

    with add-one smoothing on both bag-of-grams models (``BUCKETS`` hashed
    unigram + bigram buckets). Documents
    with zero grams get log_weight 0.0 (the empty product).

    Output: (doc_id, *carry_cols, n_grams, log_weight) — log_weight
    rounded to 4 places; the unrounded decimal sum feeds
    :func:`dsir_select`'s Gumbel key, so selection does not lose
    precision to display rounding.
    """
    # The raw posting has two consumers (its bucket counts and the
    # per-doc scoring join); localCheckpoint it so the interpreted
    # portable hash runs over the corpus once, not twice. The posting is
    # 2 ints/gram — at cluster scale persist(DISK_ONLY) it instead.
    rp = hashed_gram_posting(raw).localCheckpoint()
    tp = hashed_gram_posting(target)
    rc = _bucket_counts(rp).withColumnRenamed("cnt", "rc")
    tc = _bucket_counts(tp).withColumnRenamed("cnt", "tc")
    totals = rc.agg(F.sum("rc").cast("double").alias("rtot")).crossJoin(
        tc.agg(F.sum("tc").cast("double").alias("ttot"))
    )
    denom_r = F.col("rtot") + F.lit(float(BUCKETS))
    denom_t = F.col("ttot") + F.lit(float(BUCKETS))
    # buckets absent from the target model get the pure-smoothing mass;
    # buckets absent from the RAW model cannot occur when scoring raw
    # docs (a doc's bucket is by construction in the raw counts)
    ratio = (
        rc.join(tc, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            round_half_up(
                F.log((F.coalesce("tc", F.lit(0)) + F.lit(1.0)) / denom_t)
                - F.log((F.col("rc") + F.lit(1.0)) / denom_r),
                6,
            )
            .cast("decimal(18,6)")
            .alias("logratio"),
        )
    )
    scored = (
        rp.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("logratio").alias("_logw_dec"),
        )
    )
    ids = raw.select("doc_id", *carry_cols)
    return ids.join(scored, "doc_id", "left").select(
        "doc_id",
        *carry_cols,
        F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
        F.coalesce(F.col("_logw_dec"), F.lit(0).cast("decimal(18,6)")).alias("_logw_dec"),
        round_half_up(F.coalesce(F.col("_logw_dec"), F.lit(0)).cast("double"), 4).alias(
            "log_weight"
        ),
    )


def deterministic_gumbel(id_col: Column) -> Column:
    """Gumbel(0,1) noise from the portable multiplicative id hash:
    u = (bucket+1)/(10⁶+1) ∈ (0,1), g = −ln(−ln u). Rerun-stable
    and replicable verbatim in any SQL engine."""
    u = (portable_id_bucket(id_col, 7, 1_000_000) + F.lit(1)) / F.lit(1_000_001.0)
    return -F.log(-F.log(u))


def dsir_select(weights: DataFrame, k: int) -> DataFrame:
    """Gumbel-top-k resampling over DSIR log-weights: key = log w + G_i
    with deterministic per-id Gumbel noise; take the global top ``k``
    (orderBy+limit ⇒ TakeOrdered — no global sort). Ties on the rounded
    key break by doc_id, so the selected set is engine-reproducible."""
    key = round_half_up(
        F.col("_logw_dec").cast("double") + deterministic_gumbel(F.col("doc_id")), 6
    )
    return (
        weights.withColumn("sample_key", key)
        .drop("_logw_dec")
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(k)
    )
