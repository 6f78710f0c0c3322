"""Persisted IVF index: build once, probe with partition pruning.

`similarity.ivf_topk` is the one-shot query shape — it derives cells
and centroids inside the query plan and scans the WHOLE corpus, relying
on a join filter to drop unprobed cells. Right for ad-hoc batches;
wrong for a served index at 100 TB, where each query should touch only
its probed cells' bytes. This module is the storage-layout counterpart:

  * ``build_ivf_index`` — assign every vector to a cell (k-means, or a
    caller-supplied label column), then land ``vectors/`` PARTITIONED BY
    cell plus a tiny ``centroids/`` table. One shuffle (the partition-by
    write); cells are the unit of physical locality.
  * ``ivf_index_topk`` — route a client query batch to its ``n_probe``
    nearest centroids DRIVER-side (centroids are O(n_cells) — bounded
    control state, same class as k-means' own collect), then scan
    ``vectors/`` with ``cell IN (probed)``: Spark prunes unprobed
    partition directories at planning time (pinned by a plan test on
    PartitionFilters), so per-query I/O is proportional to the probed
    cells, never the corpus.

Search math is identical to ``similarity.ivf_topk`` (cosine, 6dp
round-half-up, (score DESC, id ASC) total order) — equivalence is
pinned by test, so the existing `ann_ivf_topk` oracle covers the math
while the plan test covers the pruning this module exists for.

Serving: `serving/app.py` exposes ``GET /api/retrieval/ann`` over a
built index (query-by-example id), mirroring the BM25 search route.

Reference parity: the reference has no vector surface; §2.12 mandate
(SURVEY.md), same family as operators/similarity.py.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.rounding import round_half_up
from cdc_pipeline_spark.operators.similarity import dot, grouped_vector_means, norm
from cdc_pipeline_spark.operators.topk import grouped_top_k

_CENTROID_SCHEMA = "cell int, centroid array<double>"


def build_ivf_index(
    df: DataFrame,
    path: str,
    cell_col: str | None = None,
    n_cells: int = 16,
    max_iters: int = 5,
) -> int:
    """Build (overwrite) an IVF index at ``path``: ``vectors/``
    partitioned by cell + ``centroids/``. Cells come from ``cell_col``
    when given (e.g. a precomputed label) or k-means otherwise.
    Returns the number of cells written.

    The input is VALIDATED before anything is overwritten — a rebuild
    job fed an unexpectedly empty/poisoned upstream must fail loudly,
    not wipe the serving index and leave the route 500ing:

    * empty corpus → ValueError (an overwrite of zero rows leaves a
      file-less, schema-less ``vectors/``);
    * null / non-castable cell labels → ValueError (``cast('int')``
      nulls silently; a cell=null centroid would TypeError every query);
    * null embeddings or null ELEMENTS → ValueError (one null element
      nulls the whole centroid fold for that dimension);
    * duplicate ids → ValueError (the k-means assignment join would
      square them, over-weighting centroids and crowding top-k).

    Validation runs BEFORE k-means (a null embedding would TypeError
    inside kmeans' seed collect, not reach these checks) and the new
    index is built into a staging directory, then swapped in: the live
    ``vectors/``+``centroids/`` pair moves aside as a unit before the
    staged pair moves in, so a reader during the swap sees a clean
    "no index" (the serving route 404s briefly) — never a MIXED read
    of new vectors against stale centroids — and a build that dies
    mid-write leaves the old index fully intact.
    """
    import shutil

    base = df.select("vec_id", "embedding")
    if not base.head(1):
        raise ValueError("refusing to build an IVF index over an empty corpus")
    bad = base.filter(
        F.col("vec_id").isNull()
        | F.col("embedding").isNull()
        | F.exists(
            "embedding",
            lambda x: x.isNull() | F.isnan(x.cast("double")) | (F.abs(x) == float("inf")),
        )
    )
    if bad.head(1):
        raise ValueError(
            "IVF index input has null ids/embeddings (or null/NaN/Inf "
            "vector elements) — fix upstream; refusing to build a poisoned index"
        )
    dup = base.groupBy("vec_id").agg(F.count(F.lit(1)).alias("n")).filter("n > 1")
    if dup.head(1):
        raise ValueError("IVF index input has duplicate vec_ids — dedupe upstream")

    if cell_col is not None:
        assigned = df.select(
            "vec_id",
            "embedding",
            F.col(cell_col).cast("int").alias("cell"),
        )
        if assigned.filter(F.col("cell").isNull()).head(1):
            raise ValueError(
                "IVF index input has null/non-castable cell labels — "
                "refusing to build a poisoned index"
            )
    else:
        from cdc_pipeline_spark.operators.clustering import kmeans

        clusters = kmeans(base, k=n_cells, max_iters=max_iters)
        assigned = base.join(
            clusters.select(F.col("vec_id"), F.col("cluster").alias("cell")), "vec_id"
        )
    # materialize once: both writes re-read this frame (the codebase's
    # semantic_dedup pattern)
    assigned = assigned.localCheckpoint(eager=True)

    # stage the full new index first — the live pair stays untouched
    # until both staged writes have committed
    stage = os.path.join(path, ".build-staging")
    if os.path.exists(stage):
        shutil.rmtree(stage)  # leftover from a dead build; old index intact
    # one shuffle: co-locate each cell's vectors into its own partition
    # directory — the physical locality every probe depends on
    assigned.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(stage, "vectors")
    )
    cents = grouped_vector_means(
        assigned.select("vec_id", "embedding", "cell"), "cell"
    ).select(F.col("cell").cast("int").alias("cell"), F.col("centroid"))
    cents.coalesce(1).write.mode("overwrite").parquet(os.path.join(stage, "centroids"))

    # swap: old pair aside AS A UNIT, staged pair in, old removed. A
    # reader between the renames finds a missing table and raises the
    # clean "no IVF index" (route 404s), never stale-centroid routing.
    old = os.path.join(path, ".build-old")
    if os.path.exists(old):
        shutil.rmtree(old)
    os.makedirs(old)
    for part in ("vectors", "centroids"):
        live = os.path.join(path, part)
        if os.path.exists(live):
            os.rename(live, os.path.join(old, part))
    for part in ("vectors", "centroids"):
        os.rename(os.path.join(stage, part), os.path.join(path, part))
    shutil.rmtree(old)
    shutil.rmtree(stage, ignore_errors=True)
    # count from the tiny written table, not by re-running the fold
    return spark_count_centroids(assigned.sparkSession, path)


def spark_count_centroids(spark: SparkSession, path: str) -> int:
    return spark.read.schema(_CENTROID_SCHEMA).parquet(
        os.path.join(path, "centroids")
    ).count()


def read_ivf_index(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """(vectors, centroids) from a built index; raises ValueError when
    the path holds no index (a serving route must 404, not scan air)."""
    try:
        vectors = spark.read.parquet(os.path.join(path, "vectors"))
        centroids = spark.read.schema(_CENTROID_SCHEMA).parquet(
            os.path.join(path, "centroids")
        )
    except AnalysisException as exc:
        raise ValueError(f"no IVF index at {path}: {exc}") from exc
    return vectors, centroids


def ivf_index_topk(
    spark: SparkSession,
    path: str,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    n_probe: int = 1,
) -> DataFrame:
    """Rank a client query batch against a built index:
    ``(query_id, vec_id, score, rank)``, rank 1..k per query, cosine
    scored exactly like ``similarity.ivf_topk`` (equivalence-tested).

    Routing is driver-side over the collected centroid table —
    O(n_cells) rows of bounded control state — so the vectors scan can
    carry a LITERAL ``cell IN (...)`` predicate that prunes partition
    directories at planning time. Query vectors with zero norm rank
    nothing (the shared zero-norm contract of the similarity family).
    """
    import math

    vectors, centroids = read_ivf_index(spark, path)
    # zero-norm (or non-finite) centroids are unroutable (cosine
    # undefined) and are excluded here AND in similarity.ivf_topk's
    # routing — the shared zero-norm contract, so the equivalence claim
    # holds on any corpus
    cents = [
        (int(r.cell), list(r.centroid))
        for r in centroids.collect()
        if (lambda s: s > 0.0 and math.isfinite(s))(sum(x * x for x in r.centroid))
    ]
    if not cents or not queries:
        return spark.createDataFrame(
            [], "query_id long, vec_id long, score double, rank long"
        )

    def _cos(a: list[float], b: list[float]) -> float:
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    probe_rows: list[tuple[int, list[float], int]] = []  # (qid, vec, cell)
    probed_cells: set[int] = set()
    for qid, vec in queries:
        # skip zero-norm AND non-finite query vectors: NaN would defeat
        # the == 0.0 check and make sorted() ordering collect-dependent
        sq = sum(x * x for x in vec)
        if sq == 0.0 or not math.isfinite(sq):
            continue
        # same order as ivf_topk's routing window: score DESC, cell ASC
        ranked = sorted(cents, key=lambda c: (-_cos(vec, c[1]), c[0]))[:n_probe]
        for cell, _ in ranked:
            probe_rows.append((int(qid), [float(x) for x in vec], int(cell)))
            probed_cells.add(int(cell))
    if not probe_rows:
        return spark.createDataFrame(
            [], "query_id long, vec_id long, score double, rank long"
        )

    qdf = spark.createDataFrame(
        probe_rows, "query_id long, __qvec array<double>, cell int"
    ).withColumn("__qnorm", norm(F.col("__qvec")))
    # the literal IN list is what turns probing into partition pruning —
    # a join-based route would read every directory and filter later
    pruned = vectors.filter(F.col("cell").isin(sorted(probed_cells)))
    scored = (
        pruned.withColumn("__cnorm", norm(F.col("embedding")))
        .filter(F.col("__cnorm") > 0)
        .join(F.broadcast(qdf), ["cell"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            round_half_up(
                dot(F.col("__qvec"), F.col("embedding"))
                / (F.col("__qnorm") * F.col("__cnorm")),
                6,
            ).alias("score"),
        )
    )
    ranked = grouped_top_k(
        scored,
        partition_by=["query_id"],
        order_by=[F.col("score").desc(), F.col("vec_id").asc()],
        k=k,
    )
    return ranked.select(
        "query_id", "vec_id", "score", F.col("rank").cast("long").alias("rank")
    )
