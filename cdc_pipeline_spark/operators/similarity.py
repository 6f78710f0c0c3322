"""Similarity search over embedding columns (`array<float>`).

Two paths, as a 100 TB training-data pipeline needs:
  * brute-force cosine top-k — the exact baseline. The dot product is a
    JVM-side ``aggregate(zip_with(...))`` fold (no Python); the query
    side is broadcast so the corpus scan never shuffles, and top-k per
    query is a ``row_number`` window over (query, score).
  * IVF-style bucketed search — the scale path: assign every vector to
    its nearest coarse centroid once (one pass), then probe only the
    query's bucket(s). Candidate count drops from N to N·probe/cells;
    recall is tunable via n_probe.

Physical notes (measured on local[32]):
  * a broadcast nested-loop self-join inherits the probe side's
    partitioning — a small corpus parquet is ONE partition, which
    serializes the entire O(n²) scoring onto one core. Every all-pairs
    operator therefore repartitions the probe side to the session's
    default parallelism first (explicit numPartitions, so AQE does not
    coalesce it back).
  * the sequential fold beats a 64-term unrolled expression ~3× here
    (the giant expression tree blows past codegen method limits), and
    its left-to-right order is what a sequential SQL inner product
    computes — so scores are bit-comparable with the DuckDB oracle.
  * norms are computed once per side, never per pair.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.rounding import round_half_up
from cdc_pipeline_spark.operators.templates import template

from cdc_pipeline_spark.operators.partitioning import ensure_parallelism as _spread
from cdc_pipeline_spark.operators.topk import grouped_top_k


def dlit(x: float) -> str:
    """Exact SQL double literal: Python's shortest-roundtrip repr with
    the D suffix — any correctly-rounded parser (Spark's included)
    recovers the identical IEEE 754 double. Non-finite values need the
    cast form (``nanD``/``infD`` would parse as identifiers). ONE copy
    — clustering's literal centroids and the LSH literal hyperplanes
    both ship doubles through this."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a sequential double fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Undefined at the origin: 0/0 = NaN, and Spark ORDERS NaN as the
    LARGEST double — an unguarded zero vector would rank first for
    every query. Every top-k scorer below therefore filters zero-norm
    rows from both sides before ranking."""
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k: broadcast(queries) × corpus → score → grouped
    top-k. Output: (query_id, vec_id, score, rank)."""
    q = queries.select(F.col("query_id"), F.col("embedding").alias("__qvec")).withColumn(
        "__qnorm", norm(F.col("__qvec"))
    ).filter(F.col("__qnorm") > 0)
    c = _spread(corpus).withColumn("__cnorm", norm(F.col("embedding"))).filter(F.col("__cnorm") > 0)
    scored = c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        round_half_up(dot(F.col("__qvec"), F.col("embedding")) / (F.col("__qnorm") * F.col("__cnorm")), 6).alias("score"),
    )
    return grouped_top_k(
        scored,
        partition_by=["query_id"],
        order_by=[F.col("score").desc(), F.col("vec_id").asc()],
        k=k,
    )


def grouped_vector_means(
    df: DataFrame,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group mean vector (double precision) with a DETERMINISTIC
    per-dimension mean: an id-ORDERED left fold, not ``F.avg`` —
    distributed partial-aggregation order varies with partition layout,
    and downstream routing argmaxes (IVF probe order, SemDeDup cell
    assignment, Lloyd updates) must replay bit-identically in the
    DuckDB oracles. This is the ONE shared implementation behind both
    ``ivf_centroids`` and ``clustering._update`` — the persisted
    replay contract means the two must never drift.

    PRECONDITION: ``id_col`` is unique within each group. The fold
    sorts by (id, whole vector); two rows sharing an id with different
    vectors fold in vector order, which need not be the per-dimension
    order the oracle replays, so low-order bits can drift. Every
    current caller keys rows by a unique vector id.

    Shape (r12): ONE shuffle — ``collect_list(struct(id, vec))`` per
    group, sorted by id, vectors folded element-wise in id order.
    Bit-identical to the previous posexplode → per-(group, dim) fold →
    re-assemble form: the first vector enters the fold as-is and
    ``0.0 + x == x`` exactly for every x except ``-0.0``, whose sign
    the final ``0.0 +`` normalization restores to the old 0.0-seeded
    fold's ``+0.0`` — the SAME doubles in the SAME order to the SAME
    bits (null/EMPTY vectors filtered exactly as posexplode dropped
    them, so an all-empty group stays absent) — while removing the
    dim-times row expansion
    through the exchange and the second (group)-keyed shuffle that
    re-assembled dimensions (measured: 2 Exchanges → 1, update pass
    0.82 → 0.54 s at sf0.1; A/B centroids identical all iterations).
    Requires equal-length vectors within a group — true for every
    caller (fixed-dim embeddings); a ragged group now yields null tail
    dims (zip_with pads) instead of the old per-dimension partial
    means, a loud failure rather than a silent one. collect_list holds
    one group's VECTORS in one task (n_c × dim doubles — dim× more
    per-task state than the old per-(group, dim) cells) — fine at
    oracle scale; at cluster scale swap to F.avg and drop the
    bit-exact requirement, exactly as before."""
    acc_t = "array<double>"
    # drop null AND empty vectors up front — posexplode silently
    # dropped both (a null/empty array explodes to no rows), so the
    # fold and the count must skip them too: a null would poison the
    # zip_with sum, and an all-empty group must stay ABSENT from the
    # output exactly as before (review r12)
    df = df.filter(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
    lst = F.array_sort(
        F.collect_list(F.struct(F.col(id_col).alias("i"), F.col(vec_col).cast(acc_t).alias("x")))
    )
    summed = F.aggregate(
        lst,
        F.lit(None).cast(acc_t),
        lambda acc, s: F.when(acc.isNull(), s["x"]).otherwise(
            F.zip_with(acc, s["x"], lambda a, b: a + b)
        ),
    )
    cnt = F.count(F.lit(1))
    # the leading `0.0 +` reproduces the old 0.0-SEEDED fold exactly in
    # the one case where "first vector enters as-is" differs: an
    # all-(-0.0) dimension folds to -0.0 here but to +0.0 under a 0.0
    # seed (IEEE: 0.0 + -0.0 = +0.0); adding the zero at the end
    # normalizes the sign while leaving every nonzero sum bit-identical
    # (review r12 — the oracle replays the 0.0-seeded shape)
    mean = F.transform(summed, lambda v: (F.lit(0.0) + v) / cnt)
    return df.groupBy(group_col).agg(mean.alias("centroid"))


def ivf_centroids(corpus: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Per-cell mean vector — :func:`grouped_vector_means` keyed by the
    IVF cell label."""
    return grouped_vector_means(corpus, "label", id_col=id_col, vec_col="embedding")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    n_probe: int = 1,
) -> DataFrame:
    """IVF-bucketed ANN: route each query to its n_probe nearest
    centroids, then brute-force only those cells. Output matches
    brute_force_topk (rank recomputed within probed cells)."""
    # zero-norm centroids are unroutable: cosine(q, 0) = NaN, and Spark
    # orders NaN LARGEST — an all-zero cell would consume a probe slot
    # for every query (and diverge from the persisted index's
    # driver-side routing, which shares this exclusion contract)
    centroids = ivf_centroids(corpus, id_col=id_col).filter(
        norm(F.col("centroid")) > 0
    )
    q = queries.select(F.col("query_id"), F.col("embedding").alias("__qvec"))
    routed = grouped_top_k(
        q.crossJoin(F.broadcast(centroids)).select(
            "query_id",
            "__qvec",
            "label",
            cosine(F.col("__qvec"), F.col("centroid")).alias("__cscore"),
        ),
        partition_by=["query_id"],
        order_by=[F.col("__cscore").desc(), F.col("label").asc()],
        k=n_probe,
        rank_col="__crank",
    ).select("query_id", F.col("__qvec"), norm(F.col("__qvec")).alias("__qnorm"), "label").filter(F.col("__qnorm") > 0)
    scored = (
        _spread(corpus)
        .withColumn("__cnorm", norm(F.col("embedding"))).filter(F.col("__cnorm") > 0)
        .join(F.broadcast(routed), ["label"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            round_half_up(dot(F.col("__qvec"), F.col("embedding")) / (F.col("__qnorm") * F.col("__cnorm")), 6).alias("score"),
        )
    )
    return grouped_top_k(
        scored,
        partition_by=["query_id"],
        order_by=[F.col("score").desc(), F.col(id_col).asc()],
        k=k,
    )


def cosine_neardup_pairs(corpus: DataFrame, threshold: float) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, score ≥ τ).

    Brute-force all-pairs — correct and fine to ~10⁴ vectors on the
    broadcast side; beyond that, route through ivf_topk buckets or LSH
    (random-hyperplane) banding first."""
    left = _spread(corpus).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va")
    ).withColumn("__na", norm(F.col("__va")))
    right = corpus.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb")).withColumn(
        "__nb", norm(F.col("__vb"))
    )
    return (
        left.join(F.broadcast(right), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            round_half_up(dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")), 6).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH — the bucket-join scale path for cosine search
# (sign-bit signatures; vectors in the same bucket are likely similar).
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int = 11) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from the shared
    splitmix64 scramble (``operators.prng`` — same primitive as the
    MinHash parameters; persisted signatures pin both streams)."""
    from cdc_pipeline_spark.operators.prng import splitmix64

    planes = []
    x = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            x, z = splitmix64(x)
            row.append((z / float(1 << 64)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _with_bucket(
    df: DataFrame, vec_col: str, out_col: str, dim: int, n_planes: int, seed: int = 11
) -> DataFrame:
    """Attach the sign-bit bucket with the planes as a LITERAL
    array<array<double>> parsed server-side from one SQL string (r12;
    shortest-roundtrip double repr, bit-exact — the same move as
    clustering._assign). History: per-element ``F.lit`` literals were
    rejected in r8 (py4j ships ~n_planes × dim values one by one and
    Catalyst analysis of that build was the cost, not the tree); the
    r8-r11 shape shipped the planes as a one-row broadcast DataFrame —
    constant-size plan, but every bucket attachment re-paid the
    BroadcastExchange build + BroadcastNestedLoopJoin machinery
    (~0.45 s/use at bench scale, measured on the kmeans twin of this
    pattern) plus a createDataFrame py4j conversion. Semantics and
    bucket values are bit-identical (same doubles, same fold)."""
    return df.withColumn(out_col, _bucket_expr(vec_col, dim, n_planes, seed))


@template
def _bucket_expr(vec_col: str, dim: int, n_planes: int, seed: int) -> Column:
    planes = _hyperplanes(dim, n_planes, seed)
    mat = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(dlit(x) for x in row) + ")" for row in planes
        )
        + ")"
    )
    signed = F.zip_with(
        mat,
        F.sequence(F.lit(0), F.lit(n_planes - 1)).cast("array<int>"),
        # 2^j via pow (exact in double for j ≤ 52; shiftleft needs a
        # Python-int bit count, not a column)
        lambda p, j: F.when(
            dot(F.col(vec_col), p) >= 0, F.pow(F.lit(2.0), j.cast("double")).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(signed, F.lit(0).cast("long"), lambda acc, v: acc + v)


def rp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    probe_bits: int = 1,
) -> DataFrame:
    """LSH-bucketed cosine top-k: corpus vectors hash once into sign-bit
    buckets; each query probes its bucket plus every bucket within
    ``probe_bits`` bit flips (multi-probe — recall/cost dial). Candidates
    per query ≈ N · (1 + n_planes·probe_bits) / 2^n_planes."""
    c = _with_bucket(_spread(corpus), "embedding", "__bucket", dim, n_planes).withColumn(
        "__cnorm", norm(F.col("embedding"))
    ).filter(F.col("__cnorm") > 0)
    q = _with_bucket(
        queries.select(F.col("query_id"), F.col("embedding").alias("__qvec")),
        "__qvec", "__qbucket", dim, n_planes,
    ).withColumn("__qnorm", norm(F.col("__qvec"))).filter(F.col("__qnorm") > 0)
    # every bucket within probe_bits bit flips: XOR masks of Hamming
    # weight 1..probe_bits (probe_bits >= 2 was previously a silent
    # no-op — only single-flip probes were ever generated)
    from itertools import combinations

    probes = [F.col("__qbucket")]
    for r in range(1, min(probe_bits, n_planes) + 1):
        for bits in combinations(range(n_planes), r):
            mask = 0
            for j in bits:
                mask |= 1 << j
            probes.append(F.col("__qbucket").bitwiseXOR(F.lit(mask)))
    q_probed = q.withColumn("__bucket", F.explode(F.array(*probes)))
    scored = c.join(F.broadcast(q_probed), ["__bucket"]).filter(
        F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        round_half_up(dot(F.col("__qvec"), F.col("embedding")) / (F.col("__qnorm") * F.col("__cnorm")), 6).alias("score"),
    ).distinct()
    return grouped_top_k(
        scored,
        partition_by=["query_id"],
        order_by=[F.col("score").desc(), F.col("vec_id").asc()],
        k=k,
    )


def rp_lsh_neardup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float,
    n_bands: int = 8,
    band_bits: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS via banded sign-bit LSH —
    the distributed scale path beside the all-pairs
    ``cosine_neardup_pairs`` baseline (which broadcasts one full side and
    is documented ≤10⁴ vectors).

    One signature of ``n_bands × band_bits`` sign bits is computed per
    vector (single pass, planes ride as broadcast data), then sliced into
    ``n_bands`` band keys of ``band_bits`` bits each. Vectors sharing ANY
    band key become candidates (inverted-index self-join on
    (band, key) — shuffle is proportional to postings, never N²), and
    candidates are verified with the exact cosine before emission, so
    precision is exact; recall per pair at angle θ is
    1 − (1 − (1 − θ/π)^band_bits)^n_bands.

    Candidate rows carry the vectors through the band join (vector
    traffic = n_bands × corpus, cheap at embedding dims) so verification
    needs no second join against the corpus; multi-band duplicate
    candidates collapse in one distinct on the verified pair row.

    ``max_bucket`` caps per-(band, key) membership before the self-join
    (``dedup.prune_hot_buckets``): with only ``band_bits``-bit keys a
    dense region of embedding space (near-constant vectors, zero-ish
    embeddings) crowds one bucket into |bucket|² candidates — the cap
    keeps the join linear at the cost of recall inside hot buckets only.
    """
    from cdc_pipeline_spark.operators.dedup import prune_hot_buckets
    n_planes = n_bands * band_bits
    mask = (1 << band_bits) - 1
    sig = _with_bucket(_spread(corpus), "embedding", "__sig", dim, n_planes, 11)
    sig = sig.withColumn("__norm", norm(F.col("embedding")))
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("__sig"), b * band_bits).bitwiseAND(F.lit(mask)).alias("bkey"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sig.select(
        F.col("vec_id"), F.col("embedding"), F.col("__norm"), F.explode(entries).alias("__e")
    ).select("vec_id", "embedding", "__norm", F.col("__e.band").alias("band"), F.col("__e.bkey").alias("bkey"))
    bands = prune_hot_buckets(bands, ["band", "bkey"], max_bucket, what="rp-lsh bucket")
    left = bands.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"),
        F.col("__norm").alias("__na"), "band", "bkey",
    )
    right = bands.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"),
        F.col("__norm").alias("__nb"), "band", "bkey",
    )
    return (
        left.join(right, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            round_half_up(
                dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")), 6
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
        .distinct()
    )


def hard_negative_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar corpus vectors with a DIFFERENT
    label — the negatives closest to the decision boundary.

    Same physical shape as ``brute_force_topk`` (broadcast query side,
    corpus scan never shuffles, per-query ``row_number`` ranking); the
    label-mismatch predicate rides the broadcast join so excluded
    positives never reach the ranking window. At 100 TB the corpus side
    stays embarrassingly parallel — cost is one scan per query batch.

    Output: (query_id, vec_id, score, rank).
    """
    q = queries.select(
        F.col("query_id"),
        F.col("embedding").alias("__qvec"),
        F.col("label").alias("__qlabel"),
    ).withColumn("__qnorm", norm(F.col("__qvec"))).filter(F.col("__qnorm") > 0)
    c = _spread(corpus).withColumn("__cnorm", norm(F.col("embedding"))).filter(F.col("__cnorm") > 0)
    scored = c.join(
        F.broadcast(q),
        (F.col("label") != F.col("__qlabel")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        "vec_id",
        round_half_up(
            dot(F.col("__qvec"), F.col("embedding")) / (F.col("__qnorm") * F.col("__cnorm")), 6
        ).alias("score"),
    )
    return grouped_top_k(
        scored,
        partition_by=["query_id"],
        order_by=[F.col("score").desc(), F.col("vec_id").asc()],
        k=k,
    )


def semantic_dedup(corpus: DataFrame, tau: float) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning in embedding space. Vectors are first
    clustered coarsely, then pairwise cosine is computed only WITHIN a
    cluster, and of any pair scoring ≥ tau the higher-id vector is
    dropped (keep-lowest-id, the paper's keep-one-per-pair rule).

    The clustering here reuses ``ivf_centroids`` over a pre-assigned
    cell column and re-assigns every vector to its nearest centroid —
    at scale, swap in ``operators.clustering.kmeans`` centroids; the
    within-cell join is the point: candidate pairs fall from N² to
    Σ n_c² (SemDeDup's core trick), and each cell's pairs co-locate in
    one shuffle partition keyed by cell.

    Output: one row per input vector — (vec_id, cell, is_kept).
    """
    centroids = ivf_centroids(corpus)
    v = _spread(corpus.select("vec_id", "embedding"))
    assigned = (
        grouped_top_k(
            v.crossJoin(F.broadcast(centroids.withColumnRenamed("label", "cell"))).select(
                "vec_id",
                "embedding",
                "cell",
                cosine(F.col("embedding"), F.col("centroid")).alias("__cscore"),
            ),
            partition_by=["vec_id"],
            order_by=[F.col("__cscore").desc(), F.col("cell").asc()],
            k=1,
            rank_col="__crank",
        )
        .select("vec_id", "embedding", "cell", norm(F.col("embedding")).alias("__norm"))
        # referenced three times below (pair-left, pair-right, output);
        # Catalyst shares no subplans, so materialize the assignment once
        # instead of re-running centroid scoring per reference (same
        # pattern as graph.py / clustering.py)
        .localCheckpoint(eager=True)
    )
    left = assigned.select(
        F.col("vec_id").alias("__ida"), F.col("embedding").alias("__va"),
        F.col("__norm").alias("__na"), "cell",
    )
    right = assigned.select(
        F.col("vec_id").alias("__idb"), F.col("embedding").alias("__vb"),
        F.col("__norm").alias("__nb"), "cell",
    )
    dropped = (
        left.join(right, "cell")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(
            round_half_up(
                dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")), 6
            )
            >= tau
        )
        .select(F.col("__idb").alias("vec_id"))
        .distinct()
    )
    # dropped can approach corpus size at high duplication — no broadcast
    # hint; AQE picks the strategy from runtime size
    return assigned.join(dropped.withColumn("__drop", F.lit(True)), "vec_id", "left").select(
        "vec_id",
        "cell",
        F.coalesce(~F.col("__drop"), F.lit(True)).alias("is_kept"),
    )
