"""Product quantization (PQ) for embedding compression + asymmetric-
distance (ADC) approximate search — Jégou et al. 2011, "Product
Quantization for Nearest Neighbor Search" (TPAMI).

Why this exists at 100 TB: a 64-dim float32 embedding is 256 bytes; its
PQ code at m=4 subspaces × 16 codes is m·log2(k) = 16 BITS. The
corpus-side scan for candidate generation then reads ~2 bytes/vector
instead of 256 — the difference between an ANN sweep that fits in page
cache and one that doesn't. Production composition: IVF routes a query
to a few cells (similarity.ivf_topk), PQ+ADC scores the cells'
candidates from codes alone, exact re-rank on the short list.

Spark-first shapes:

* **codebook** = a DataFrame of m·k rows (subspace, code, centroid) —
  always broadcast. Here it is seeded deterministically (subvectors of
  the k lowest-id vectors, "one sample per code") so the DuckDB oracle
  can replay it; real training runs clustering.kmeans per subspace on a
  sample and lands in the identical serving plan.
* **encoding** = explode each vector into its m subvectors, broadcast-
  join the codebook (m·k rows/vector, never materialized wide), take
  the per-(vector, subspace) argmin via a partially-aggregated
  ``min(struct(dist, code))`` — ONE shuffle carrying m rows per vector.
  The distance is a single data-driven ``aggregate(zip_with(...))``
  fold, so whole-stage codegen survives (a first cut compiled the
  codebook into 1024-term literal expressions; janino refused the
  generated method and the interpreted fallback was ~20× slower — the
  join form IS the fast path, not a compromise).
* **ADC** = the query-side (subspace, code) → distance table is
  queries × m·k rows — broadcast; corpus codes explode to (vec_id,
  subspace, code) and join it; the per-(query, vector) distance is a
  DECIMAL(18,6) sum of m table entries, fold-order-independent for the
  oracle's typed hash.
* determinism: subspace distances fold squared diffs left-to-right in
  both engines (F.aggregate ↔ list_reduce), rounded to 6 before any
  argmin/sum; ties break on the lowest code / vec_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_pipeline_spark.operators.rounding import round_half_up
from cdc_pipeline_spark.operators.templates import template


def _subspace_rows(df: DataFrame, id_alias: str, id_col: str, vec_col: str, m: int, d_sub: int) -> DataFrame:
    """Explode (id, vector) into (id, subspace, sub) — m rows per vector,
    each carrying one d_sub-length double subvector."""
    return df.select(
        F.col(id_col).alias(id_alias), F.explode(_subs_expr(vec_col, m, d_sub)).alias("s")
    ).select(id_alias, "s.subspace", "s.sub")


@template
def _subs_expr(vec_col: str, m: int, d_sub: int) -> Column:
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("subspace"),
                F.slice(F.col(vec_col).cast("array<double>"), j * d_sub + 1, d_sub).alias("sub"),
            )
            for j in range(m)
        ]
    )


def _sqdist(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2: ((a1−b1)² + (a2−b2)²) + … in index
    order — the fold shape list_reduce replays SQL-side — rounded to 6."""
    return round_half_up(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
        6,
    )


def pq_codebook(emb: DataFrame, m: int = 4, k: int = 16, dim: int = 64) -> DataFrame:
    """(subspace, code, centroid) — m·k rows: the j-th subvector of the
    c-th-lowest-id vector seeds code c of subspace j. Deterministic and
    oracle-replayable; swap in per-subspace k-means
    (operators/clustering.py) for trained codebooks — the serving plans
    in :func:`pq_encode` / :func:`pq_adc_topk` do not change. Always
    tiny (m·k rows), so downstream joins broadcast it."""
    if dim % m:
        raise ValueError(f"m ({m}) must divide dim ({dim})")
    d_sub = dim // m
    seed = (
        emb.orderBy("vec_id")
        .limit(k)
        .withColumn("code", F.row_number().over(Window.orderBy("vec_id")) - 1)
    )
    return _subspace_rows(seed, "code", "code", "embedding", m, d_sub).select(
        "subspace", "code", F.col("sub").alias("centroid")
    )


def pq_encode(emb: DataFrame, codebook: DataFrame, m: int = 4, dim: int = 64) -> DataFrame:
    """(vec_id, codes array<int>) — codes[j] = argmin_c ‖subvec_j −
    centroid_{j,c}‖² (rounded 6; ties → lowest code). Broadcast join ×
    m·k candidate rows per vector, partially-aggregated min(struct) —
    one shuffle carrying m rows per vector."""
    sub_rows = _subspace_rows(emb, "vec_id", "vec_id", "embedding", m, dim // m)
    scored = sub_rows.join(F.broadcast(codebook), "subspace").select(
        "vec_id", "subspace", "code", _sqdist(F.col("sub"), F.col("centroid")).alias("d")
    )
    best = [
        F.min(F.when(F.col("subspace") == j, F.struct("d", "code"))).alias(f"_m{j}")
        for j in range(m)
    ]
    return (
        scored.groupBy("vec_id")
        .agg(*best)
        .select(
            "vec_id",
            F.array(*[F.col(f"_m{j}.code").cast("int") for j in range(m)]).alias("codes"),
        )
    )


def pq_adc_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebook: DataFrame,
    k: int = 5,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """ADC top-k: per query build the (subspace, code) → distance table
    (m·k DECIMAL(18,6) entries), broadcast it against the exploded
    corpus codes, rank by the summed lookups.

    Output: (query_id, vec_id, approx_dist, rank), rank ≤ k, self-match
    excluded. One broadcast join + one (query, vector) aggregate + a
    per-query window — at scale, run AFTER IVF routing so the corpus
    side is a few cells, not the full collection."""
    q_rows = _subspace_rows(queries, "query_id", "query_id", "embedding", m, dim // m)
    dtable = q_rows.join(F.broadcast(codebook), "subspace").select(
        "query_id",
        "subspace",
        "code",
        _sqdist(F.col("sub"), F.col("centroid")).cast("decimal(18,6)").alias("d"),
    )
    code_rows = encoded.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("subspace"), F.col("codes")[j].alias("code"))
                    for j in range(m)
                ]
            )
        ).alias("sc"),
    ).select("vec_id", "sc.subspace", "sc.code")
    scored = (
        code_rows.join(F.broadcast(dtable), ["subspace", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").cast("double").alias("approx_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("approx_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "approx_dist", F.col("rank").cast("long").alias("rank"))
    )
