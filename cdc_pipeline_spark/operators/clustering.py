"""Iterative clustering: Lloyd's k-means over embedding columns.

The engine's demonstration of an *iterative* distributed algorithm (the
driver loop is control flow only; per iteration exactly ONE shuffle of
aggregated state moves — never raw vectors):

  assign:   shuffle-free, join-free projection. The k centroids ride as
            three flat LITERAL arrays (ids / vectors / ‖c‖²) parsed
            server-side from one SQL string; the argmin is ``array_min``
            over ``transform(sequence(1, k), i -> struct(dist_i,
            cluster_i))`` with dist = ‖c‖² − 2·v·c (the ‖v‖² term is
            constant per row and dropped). Struct ordering gives the
            deterministic lowest-cluster-id tiebreak. Earlier designs
            measured here: a k-row cross join + row_number window
            (extra shuffle per iteration); a literal-expression
            when-chain (3× slower — k×dim tree re-analyzed every
            iteration); a one-row broadcast of the centroid array
            (r8-r11 — constant plan, but every pass re-paid the
            BroadcastExchange + BNLJ machinery and a py4j
            createDataFrame, ~0.45 s/pass of pure overhead at bench
            scale; see ``_assign``). The flat-literal form keeps
            analysis linear in k·dim and removes the join node.
  update:   one shuffle keyed on cluster — the per-cluster vector sum is
            an id-ordered fold over ``collect_list(struct(id, vec))``
            (see ``similarity.grouped_vector_means`` for the exactness
            contract and the measured history of this spot).

Centroids ARE collected per iteration — k × dim doubles of control
state; this deliberately truncates the logical-plan lineage that would
otherwise grow per iteration. Deterministic: init = the k lowest-id
vectors. At 100 TB the variant is mini-batch k-means — the same two
operators over a per-iteration sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.rounding import round_half_up
from cdc_pipeline_spark.operators.similarity import dlit as _dlit
from cdc_pipeline_spark.operators.similarity import dot, norm


def _assign(corpus: DataFrame, centroids: list[tuple[int, list[float]]], id_col: str, vec_col: str) -> DataFrame:
    """Nearest-centroid assignment with the centroids as LITERAL arrays
    parsed server-side from one SQL string (r12). History of this spot:
    a k-branch CASE/WHEN was 3× slower (Catalyst re-analyzed a k×dim
    tree that grows multiplicatively); r8-r11 shipped the centroids as
    a one-row broadcast DataFrame — constant plan, but EVERY iteration
    paid the BroadcastExchange build + BroadcastNestedLoopJoin
    machinery (measured r12: 0.65 s per assign pass of which only
    ~0.18 s was evaluation) plus a driver-side ``createDataFrame``
    (~0.15 s of py4j). Three flat literal arrays (ids / vectors /
    norms, linear in k·dim, shipped as ONE parsed expression — per-
    element ``F.lit`` pays py4j per value) + a ``transform`` over
    ``sequence(1, k)`` keep analysis cost trivially linear and drop
    the join operator entirely: 0.65 → 0.32 s per pass, assignments
    bit-identical (same d = ‖c‖² − 2·v·c expression, same
    struct-ordering tiebreak on (d, cluster))."""
    if not centroids:
        # k = 0: the old broadcast form's array_min over an empty array
        # assigned NULL to every row; sequence(1, 0) would instead count
        # DOWN ([1, 0]) and element_at(.., 0) throws — keep the old
        # contract (review r12)
        return corpus.withColumn("cluster", F.lit(None).cast("int"))
    k = len(centroids)
    cid = F.expr("array(" + ",".join(str(int(c)) for c, _ in centroids) + ")")
    mat = F.expr(
        "array("
        + ",".join("array(" + ",".join(_dlit(x) for x in v) + ")" for _, v in centroids)
        + ")"
    )
    nrm = F.expr(
        "array("
        + ",".join(_dlit(sum(float(x) * float(x) for x in v)) for _, v in centroids)
        + ")"
    )
    best = F.array_min(
        F.transform(
            F.sequence(F.lit(1), F.lit(k)),
            lambda i: F.struct(
                (F.element_at(nrm, i) - 2.0 * dot(F.col(vec_col), F.element_at(mat, i))).alias("d"),
                F.element_at(cid, i).alias("cluster"),
            ),
        )
    )
    return corpus.withColumn("cluster", best["cluster"])


def _update(
    assigned: DataFrame, vec_col: str, id_col: str = "vec_id"
) -> list[tuple[int, list[float]]]:
    # Per-dimension mean as an ORDERED left fold over id-sorted values —
    # NOT F.avg (one flipped low-order bit can move an argmin near a tie
    # and the DuckDB oracle replay would drift). The fold lives in ONE
    # place, similarity.grouped_vector_means, shared with ivf_centroids:
    # both derive persisted replay contracts from it.
    from cdc_pipeline_spark.operators.similarity import grouped_vector_means

    updated = grouped_vector_means(
        assigned, "cluster", id_col=id_col, vec_col=vec_col
    ).collect()
    return sorted((int(r.cluster), list(r.centroid)) for r in updated)


def kmeans(corpus: DataFrame, k: int = 8, max_iters: int = 5) -> DataFrame:
    """Lloyd's k-means; returns (id, cluster) assignments."""
    # materialize the (id, vector) frame once: every iteration re-reads
    # the corpus, so without this each of the max_iters+1 assign passes
    # re-runs the upstream scan/projection and re-analyzes its plan.
    # Measured r12: spreading this checkpoint to defaultParallelism is
    # a net LOSS at bench scale (3.82 → 4.40 s best-of-5; 32-task
    # dispatch × 2 stages × 6 passes outweighs parallelizing ~0.3 s of
    # interpreted per-row fold work), so the input keeps its scan
    # layout — a 100 TB corpus arrives already parallel.
    corpus = corpus.select("vec_id", "embedding").localCheckpoint(eager=True)
    init = (
        corpus.orderBy(F.col("vec_id").asc())
        .limit(k)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    centroids = [(i, list(r.v)) for i, r in enumerate(init)]

    for _ in range(max_iters):
        assigned = _assign(corpus, centroids, "vec_id", "embedding")
        # A cluster that received no points (possible when seed vectors
        # collide — duplicate embeddings — and the lower id wins every
        # tie) keeps its previous centroid instead of silently
        # vanishing, so callers always get the k cells they sized for.
        # The DuckDB oracle replays the same carry-forward (LEFT JOIN
        # new means onto the previous centroid table).
        merged = dict(centroids)
        merged.update(dict(_update(assigned, "embedding", "vec_id")))
        new_centroids = sorted(merged.items())
        converged = new_centroids == centroids
        centroids = new_centroids
        if converged:
            break

    final = _assign(corpus, centroids, "vec_id", "embedding")
    return final.select(F.col("vec_id"), F.col("cluster").cast("int").alias("cluster"))


def minibatch_kmeans(
    corpus: DataFrame,
    k: int = 8,
    max_iters: int = 5,
    batch_fraction: float = 0.25,
) -> DataFrame:
    """Mini-batch k-means — the 100 TB variant of :func:`kmeans`
    (promised in the module docstring; Sculley 2010, "Web-Scale K-Means
    Clustering", in deterministic batch form): each iteration runs the
    SAME assign/update operators, but over a per-iteration
    hash-sampled mini-batch, so iteration cost is
    ``batch_fraction × corpus`` instead of the full corpus — at 100 TB
    that is the difference between 5 full scans and ~1.25.

    Determinism (the oracle contract): the iteration-``i`` batch is
    ``portable_id_bucket(id, 7+i) < fraction·resolution`` — a pure
    per-row expression any SQL engine replicates, no RNG state, no
    sampling operator; re-runs and re-materialized partitions see the
    identical batch. Centroid update is the id-ordered fold of
    :func:`kmeans`; clusters missing from a mini-batch carry their
    previous centroid forward (the classic mini-batch behavior — a
    center only moves when its neighborhood is sampled). The final
    assignment pass covers the FULL corpus.

    Versus full Lloyd the centroids are noisier (tests bound the
    distortion ratio); convergence is not checked because the batch
    changes every iteration.
    """
    from cdc_pipeline_spark.operators.sampling import portable_id_bucket

    if not 0.0 < batch_fraction <= 1.0:
        raise ValueError(f"batch_fraction must be in (0, 1], got {batch_fraction}")
    resolution = 1_000_000
    cut = int(batch_fraction * resolution)
    # not spread — same measured trade as kmeans above (3.05 → 3.99 s
    # under a defaultParallelism repartition at bench scale)
    corpus = corpus.select("vec_id", "embedding").localCheckpoint(eager=True)
    init = (
        corpus.orderBy(F.col("vec_id").asc())
        .limit(k)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    centroids = [(i, list(r.v)) for i, r in enumerate(init)]
    for it in range(max_iters):
        batch = corpus.filter(
            portable_id_bucket(F.col("vec_id"), seed=7 + it, resolution=resolution) < cut
        )
        merged = dict(centroids)
        merged.update(dict(_update(_assign(batch, centroids, "vec_id", "embedding"), "embedding", "vec_id")))
        centroids = sorted(merged.items())
    final = _assign(corpus, centroids, "vec_id", "embedding")
    return final.select(F.col("vec_id"), F.col("cluster").cast("int").alias("cluster"))


def distortion(corpus: DataFrame, assignments: DataFrame) -> float:
    """Total within-cluster squared distance (convergence metric)."""
    joined = corpus.join(assignments, "vec_id")
    centroids = (
        joined.select("cluster", F.posexplode(F.col("embedding")).alias("__pos", "__val"))
        .groupBy("cluster", "__pos")
        .agg(F.avg(F.col("__val").cast("double")).alias("__mean"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__mean"))), lambda s: s["__mean"]
            ).alias("centroid")
        )
    )
    with_c = joined.join(F.broadcast(centroids), "cluster")
    dist2 = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("centroid"), lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return with_c.agg(F.sum(dist2).alias("d")).collect()[0].d


def cluster_medoids(corpus: DataFrame) -> DataFrame:
    """Per-cluster medoid: the member with the highest mean cosine to
    its cluster peers — the exemplar a semantic-dedup keep-list or a
    labeling queue samples first.

    This is the repo's grouped ``applyInPandas`` operator (the third
    Arrow surface next to ``mapInPandas`` multimodal and
    ``applyInPandasWithState`` alerts), used where it genuinely beats
    built-ins: the within-cell pairwise similarity is one BLAS gram
    matrix per group (V·Vᵀ), while the DataFrame formulation explodes
    an n_c² pair join through the shuffle. One shuffle on the cell;
    per-group memory is n_c×d + n_c² floats — cap cell sizes upstream
    (the same guard SemDeDup needs).

    Output: (cell, medoid_id, mean_sim, n_members); singleton cells
    emit themselves with mean_sim 0.0. Ties break to the lowest id.
    """
    import pandas as pd

    types = dict(corpus.dtypes)
    out_schema = f"cell {types['label']}, medoid_id {types['vec_id']}, mean_sim double, n_members long"

    def medoid(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # pin the group's row order: Arrow delivers rows in partition
        # arrival order, and the gram-row float sums below would
        # otherwise vary in the last ulp across partitionings
        pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
        cell = pdf["label"].iloc[0]
        n = len(pdf)
        if n == 1:
            return pd.DataFrame(
                {"cell": [cell], "medoid_id": [pdf["vec_id"].iloc[0]], "mean_sim": [0.0], "n_members": [1]}
            )
        V = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        sims = V @ V.T
        mean_sim = (sims.sum(axis=1) - 1.0) / (n - 1)  # exclude self-sim
        rounded = np.floor(mean_sim * 1e6 + 0.5) / 1e6
        ids = pdf["vec_id"].to_numpy()
        order = np.lexsort((ids, -rounded))  # best score, ties → lowest id
        best = order[0]
        return pd.DataFrame(
            {"cell": [cell], "medoid_id": [ids[best]], "mean_sim": [rounded[best]], "n_members": [n]}
        )

    return corpus.select("label", "vec_id", "embedding").groupBy("label").applyInPandas(medoid, out_schema)


def kcenter_greedy(corpus: DataFrame, k: int = 8, seed_id: int | None = None) -> DataFrame:
    """k-center greedy (farthest-point) selection — the DIVERSITY leg of
    data selection (DSIR matches a target distribution, the quality
    classifier scores fluency; this picks a maximally-spread coreset,
    the standard seed for active learning / coreset selection à la
    Sener & Savarese 2018).

    Deterministic traversal: start from ``seed_id`` (default: smallest
    id), then ``k−1`` times pick the vector FARTHEST (max over corpus of
    the min cosine distance to the selected set), ties broken by id.
    Every pairwise distance is rounded half-up to 6 dp BEFORE the min,
    so the argmax decision is replicable in any engine (same guarded
    determinism as the IVF/SemDeDup oracles).

    Scale shape (r11 optimization): the classic INCREMENTAL form — the
    running min-distance-to-selected is a materialized column, and each
    round computes the distance to the NEWEST center only
    (``least(md_prev, dist(v, c_new))``), the same running-cost-vector
    shape Spark's own KMeans|| init uses. Per round that is one
    zero-shuffle projection + one TakeOrdered(1) over the checkpointed
    state — O(n·d) work instead of the previous form's O(n·r·d)
    re-scoring against the whole selected set (O(n·k²·d) total), and
    the per-round plan is constant-size (one 65-literal center), not
    growing with the selected set. Already-picked ids are dropped from
    the state as it rolls forward, so selection stays WITHOUT
    replacement by construction. Driver traffic is one (id, vector)
    row per round — k-bounded. Identical output to the re-scoring
    form: min over per-pair ROUNDED distances is associative, so
    folding it incrementally returns bit-identical min_dist values
    (A/B-verified, same ids/dists at sf0.1; measured 0.37 s/round vs
    0.78 s/round for the broadcast re-scoring form on local[32]).
    Memory note: each round's localCheckpoint holds a copy of the
    shrinking (id, vec, md) state until the executor GCs old blocks;
    for very large k budget storage accordingly (the alternative —
    re-deriving md from all r centers per round — trades that storage
    for O(r×) recompute every round).

    Output: (vec_id, selection_rank 1-based, min_dist — null for the
    seed, which has no prior set to be far from). Selection is WITHOUT
    replacement by id and stops early (fewer than k rows) when every
    remaining vector is at rounded distance 0 from the selected set —
    duplicate vectors add no diversity, so they are never re-picked. Assumes non-zero
    vectors (cosine distance is undefined at the origin); zero vectors
    yield NaN distances and should be filtered upstream (the quality
    gate's embedding-presence check).
    """
    spark = corpus.sparkSession
    # not spread: measured r12 — a defaultParallelism repartition before
    # this checkpoint read neutral-to-slightly-worse at bench scale
    # (same per-round task-dispatch trade as kmeans), and a 100 TB
    # corpus arrives already parallel
    base = corpus.select(F.col("vec_id"), F.col("embedding")).localCheckpoint()
    n = base.count()
    # k <= 0 returns an EMPTY selection (the pre-loop seed append would
    # otherwise hand a zero-budget caller one row)
    if n == 0 or k <= 0:
        return spark.createDataFrame(
            [], "vec_id long, selection_rank long, min_dist double"
        )
    if seed_id is None:
        seed_row = base.orderBy(F.col("vec_id").asc()).limit(1).collect()[0]
    else:
        seeds = base.filter(F.col("vec_id") == seed_id).limit(1).collect()
        if not seeds:
            raise ValueError(f"seed_id {seed_id} not present in vec_id")
        seed_row = seeds[0]
    selected: list[tuple[int, list[float], float]] = [
        (seed_row[0], [float(x) for x in seed_row[1]], None)
    ]

    def _norm(vec: list[float]) -> float:
        return sum(x * x for x in vec) ** 0.5

    def _dist_to(vec: list[float]):
        # rounded cosine distance to ONE center, the center riding as a
        # constant-size literal (dim + 1 leaves) in the round's plan
        center = F.array(*[F.lit(float(x)) for x in vec])
        return round_half_up(
            1.0 - dot(F.col("embedding"), center) / (norm(F.col("embedding")) * F.lit(_norm(vec))),
            6,
        )

    # k capped at the corpus size; rounds can still stop EARLY (below)
    # when every remaining vector duplicates the selected set.
    rounds = min(k, n) - 1
    state = None
    if rounds > 0:
        # running min-dist state: every unselected vector with its
        # rounded distance to the (so far: seed-only) selected set
        state = (
            base.filter(F.col("vec_id") != seed_row[0])
            .select(F.col("vec_id"), F.col("embedding"), _dist_to(selected[0][1]).alias("__md"))
            .localCheckpoint(eager=True)
        )
    for r in range(rounds):
        picks = (
            state.orderBy(F.col("__md").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()
        )
        if not picks or float(picks[0][2]) == 0.0:
            # nothing left, or the farthest remaining point coincides
            # with the selected set — further rounds add zero diversity
            break
        pick = picks[0]
        selected.append((pick[0], [float(x) for x in pick[1]], float(pick[2])))
        if r < rounds - 1:
            # fold the new center into the running min and drop the
            # picked id — selection stays WITHOUT replacement because
            # picked rows leave the state entirely
            state = (
                state.filter(F.col("vec_id") != pick[0])
                .withColumn("__md", F.least(F.col("__md"), _dist_to(selected[-1][1])))
                .localCheckpoint(eager=True)
            )

    return spark.createDataFrame(
        [(int(i), r + 1, md) for r, (i, _, md) in enumerate(selected)],
        "vec_id long, selection_rank long, min_dist double",
    )
