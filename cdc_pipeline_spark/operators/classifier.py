"""Hashed n-gram linear text classifier — fastText-style inference at
corpus scale.

The standard production quality gate for pretraining corpora (e.g. the
GPT-3 / LLaMA "quality classifier" stage; fastText, Joulin et al. 2017)
is a LINEAR model over hashed bag-of-n-gram features: score(x) =
sigmoid(mean_g w[h(g)]). Training happens offline on a few million
labelled docs; INFERENCE must run over the full 100 TB corpus — so
inference, not training, is the operator that matters here.

Spark-first serving shape (contrast with shipping the model into a
Python UDF, which would put every token through a Python worker):

1. featurization is the same JVM expression chain as DSIR
   (``dsir.hashed_gram_posting``: split / explode / portable hash mod
   buckets — whole-stage codegen, no Python);
2. the model IS a table: ``buckets`` rows of (bucket, weight). Real
   deployments load trained weights from parquet; here the table is
   generated deterministically from the bucket id so the DuckDB oracle
   can replay inference bit-for-bit. Either way it is k rows — always
   broadcast;
3. scoring is one broadcast join + one per-doc aggregate. Weights are
   DECIMAL(9,3), so the per-doc sum is fold-order-independent
   (operators/rounding.py rationale) and partition count never flips a
   rounding boundary;
4. the sigmoid runs on the ROUNDED mean logit, keeping the only
   libm-dependent step (exp) pinned to identical inputs in both engines.

At 100 TB: one scan + one broadcast + one shuffle on doc_id — the same
shape as the DSIR scorer, which BENCH shows saturating all cores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.dsir import BUCKETS, hashed_gram_posting
from cdc_pipeline_spark.operators.rounding import round_half_up


def hashed_weight_table(spark: SparkSession, buckets: int = BUCKETS, seed: int = 13) -> DataFrame:
    """Deterministic stand-in for a trained weight vector: weight[b] =
    ((b·2654435761 + seed) mod 2³¹−1 mod 2001 − 1000) / 1000 ∈ [−1, 1],
    cast to DECIMAL(9,3). Swap this for ``spark.read.parquet(model_path)``
    in a real deployment — the serving plan is identical (a ≤buckets-row
    broadcast)."""
    h = (F.col("id") * F.lit(2654435761) + F.lit(seed)) % F.lit(2147483647)
    return spark.range(buckets).select(
        F.col("id").cast("int").alias("bucket"),
        ((h % F.lit(2001) - F.lit(1000)) / F.lit(1000.0)).cast("decimal(9,3)").alias("weight"),
    )


def linear_classifier_scores(
    df: DataFrame,
    weights: DataFrame,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Score every document with the linear model in ``weights``
    ((bucket, weight DECIMAL) rows):

        logit = round(Σ_g w[bucket(g)] / n_grams, 6)
        prob  = round(sigmoid(4 · logit), 6)
        keep  = prob > 0.5

    Zero-gram documents score logit 0.0 / prob 0.5 and are dropped
    (no evidence ⇒ not positively classified).

    Output: (doc_id, *carry_cols, n_grams, logit, prob, keep).
    """
    posting = hashed_gram_posting(df)
    scored = (
        posting.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"), F.sum("weight").alias("_wsum"))
    )
    ids = df.select("doc_id", *carry_cols)
    logit = round_half_up(
        F.coalesce(F.col("_wsum"), F.lit(0)).cast("double")
        / F.greatest(F.coalesce(F.col("n_grams"), F.lit(0)), F.lit(1)),
        6,
    )
    out = ids.join(scored, "doc_id", "left").select(
        "doc_id",
        *carry_cols,
        F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
        logit.alias("logit"),
    )
    prob = round_half_up(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.lit(4.0) * F.col("logit"))), 6)
    return out.withColumn("prob", prob).withColumn(
        "keep", F.col("prob") > F.lit(0.5)
    )
