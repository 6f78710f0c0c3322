"""Graph operators for dedup pipelines: connected components over
near-duplicate pair edges.

Pairwise dedup (dedup.py) yields EDGES (a ~ b at similarity ≥ τ); a
training-data pipeline needs CLUSTERS — near-duplication is transitively
chained (A~B, B~C ⇒ {A,B,C} even when A~C is below τ), and one canonical
document is kept per cluster. Components are computed by iterative
min-label propagation expressed as DataFrame joins:

  label(v) ← min(label(v), min over neighbors u of label(u))

repeated to fixpoint. Labels only decrease, so convergence is checked
with one count of still-shrinking labels per round; the label frame is
``localCheckpoint``-ed each round to keep the logical plan constant
(same lineage-truncation rationale as clustering.py's collected
centroids — here the state is distributed, so it stays a DataFrame).

Rounds needed = graph diameter. Near-dup graphs are unions of small
dense blobs (diameter ≲ 3-4), so this settles in a handful of rounds;
for adversarial long-chain graphs at 100 TB, switch to the
alternating large-star/small-star rewiring of Kiveris et al.
("Connected Components in MapReduce and Beyond", SoCC'14), which
converges in O(log n) rounds with the same join-shaped building blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _observed_checkpoint(
    frame: DataFrame, cols: list[str]
) -> tuple[DataFrame, tuple]:
    """localCheckpoint(eager) with the order-insensitive fingerprint
    (count + xor of row hashes over ``cols``) collected as an
    ``Observation`` DURING the materialization job — the bm25 pattern:
    one job per round where checkpoint-then-scan paid two. Returns
    (checkpointed frame, fingerprint tuple); an empty frame reads
    (0, None), matching what ``agg(...).collect()`` returned."""
    from pyspark.sql import Observation

    obs = Observation()
    ck = frame.observe(
        obs,
        F.count(F.lit(1)).alias("cnt"),
        F.bit_xor(F.xxhash64(F.struct(*cols))).alias("xr"),
    ).localCheckpoint(eager=True)
    vals = obs.get
    return ck, (vals["cnt"], vals["xr"])


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    vertices: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 25,
    algorithm: str = "propagation",
    stats: dict | None = None,
) -> DataFrame:
    """Undirected connected components; returns (``id_col``,
    ``component``) with component = MIN member id (a deterministic,
    engine-portable label — stable across partitionings and reruns).

    ``vertices`` (optional) adds isolated nodes: every vertex appears in
    the output, edge-less ones as singleton components of themselves.

    ``algorithm``:
      * ``"propagation"`` (default) — min-label propagation; rounds =
        graph diameter. Right for near-dup graphs (unions of small dense
        blobs, diameter ≲ 3-4).
      * ``"star"`` — alternating large-star/small-star rewiring (Kiveris
        et al., "Connected Components in MapReduce and Beyond",
        SoCC'14); converges in O(log n) rounds, the scale path for
        adversarial long-chain / high-diameter graphs at 100 TB.

    ``stats`` (optional dict) receives ``{"rounds": n}`` for either
    algorithm. Each round is one-to-two shuffles keyed on node id.
    """
    if algorithm == "star":
        out = _star_components(edges, src, dst, max_iter=max_iter, stats=stats)
        out = out.select(F.col("node").alias(id_col), F.col("label").alias("component"))
        return _with_singletons(out, vertices, id_col)
    if algorithm != "propagation":
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    # Materialize the edge list ONCE — BEFORE symmetrizing. `edges` may
    # be the tail of an expensive pipeline (shingling + inverted-index
    # join for near-dup pairs); a checkpoint placed after the union
    # would still execute that whole plan twice (once per union branch).
    # The per-round cost of deriving sym from the checkpointed base is
    # two edge-sized scans of cached blocks — nothing upstream reruns.
    base = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=True
    )
    sym = base.unionAll(base.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # Propagate only over nodes that have edges; isolated vertices can't
    # change label and are appended as singletons at the end.
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    # Convergence test: an order-insensitive (node, label) fingerprint
    # — count + xor of row hashes, the same scalar probe the star
    # variant uses. (An earlier sum(label) probe worked only for
    # NUMERIC ids: on string ids the sum cast yields NULL, None ==
    # None "converged" after one round, and chained components came
    # back split.) r11 optimization: the fingerprint rides the round's
    # checkpoint materialization as an `Observation` (the bm25
    # pattern), so the per-round scalar probe job is gone — one job
    # per round instead of two. Metrics on an empty frame read
    # (0, None), exactly what the old agg().collect() returned.
    labels, prev_fp = _observed_checkpoint(labels, ["node", "label"])

    rounds = 0
    converged = False
    for _ in range(max_iter):
        neighbor_labels = (
            sym.join(labels, sym["b"] == labels["node"])
            .select(F.col("a").alias("node"), "label")
        )
        labels, new_fp = _observed_checkpoint(
            labels.unionAll(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label")),
            ["node", "label"],
        )
        rounds += 1
        if new_fp == prev_fp:
            converged = True
            break
        prev_fp = new_fp
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components(propagation) stopped at max_iter={max_iter} "
            "before the fixpoint: one component may carry several labels. "
            "Raise max_iter or use algorithm='star' (O(log n) rounds) for "
            "high-diameter graphs.",
            RuntimeWarning,
            stacklevel=2,
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged

    out = labels.select(F.col("node").alias(id_col), F.col("label").alias("component"))
    return _with_singletons(out, vertices, id_col)


def _with_singletons(out: DataFrame, vertices: DataFrame | None, id_col: str) -> DataFrame:
    if vertices is None:
        return out
    singletons = (
        vertices.select(F.col(id_col))
        .join(out.select(id_col), id_col, "left_anti")
        .select(F.col(id_col), F.col(id_col).alias("component"))
    )
    return out.unionAll(singletons)


def _star_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Kiveris et al. alternating algorithm. Each round:

      large-star: per node u, connect every STRICTLY LARGER neighbor to
        m = min(N(u) ∪ {u}) — applied on the symmetrized edge set, so
        each undirected edge is processed from both endpoints;
      small-star: canonicalize edges to point larger→smaller, then per
        node u connect every (≤ u) neighbor and u itself to the minimum.

    Both steps only ever re-wire nodes to a smaller node of their own
    component (never across components), and a potential function
    (Σ heights) halves per round → O(log n) rounds to a forest of
    depth-1 stars centered at component minima. Convergence is detected
    by an order-insensitive edge-set fingerprint (count + xor of row
    hashes) going stable.

    Returns (node, label) covering every non-isolated node.
    """
    # fingerprint rides the checkpoint materialization as an
    # Observation (see _observed_checkpoint) — one job per round
    e, prev = _observed_checkpoint(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        ["a", "b"],
    )

    def large_star(frame: DataFrame) -> DataFrame:
        sym = frame.unionAll(frame.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        # no trailing distinct: small_star canonicalizes + dedups its
        # input first thing, so a dedup here would only add a shuffle
        return (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )

    def small_star(frame: DataFrame) -> DataFrame:
        canon = frame.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).distinct()
        mins = canon.groupBy("a").agg(F.min("b").alias("m"))
        rewired = (
            canon.join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        centers = mins.select("a", F.col("m").alias("b"))
        return rewired.unionAll(centers).distinct()

    rounds = 0
    for _ in range(max_iter):
        e, cur = _observed_checkpoint(small_star(large_star(e)), ["a", "b"])
        rounds += 1
        if cur == prev:
            converged = True
            break
        prev = cur
    else:
        converged = False
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components(star) stopped at max_iter={max_iter} before "
            "the edge set stabilized: labels may be non-canonical.",
            RuntimeWarning,
            stacklevel=2,
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged

    # e is now a star forest pointing larger → smaller (a > b = center).
    nodes = e.select(F.col("a").alias("node"), F.col("b").alias("label"))
    centers = e.select(F.col("b").alias("node"), F.col("b").alias("label")).distinct()
    return nodes.unionAll(centers).groupBy("node").agg(F.min("label").alias("label"))


# pagerank_fixed_point's fixed-point unit (ranks are integers in units of
# 1/PAGERANK_SCALE) and its damping factor in percent
PAGERANK_SCALE = 1_000_000_000
DAMPING_PCT = 85


def pagerank_fixed_point(edges: DataFrame, n_iter: int = 5) -> DataFrame:
    """Damped PageRank over an undirected edge list in EXACT fixed-point
    integer arithmetic — centrality for near-dup graphs (e.g. rank the
    most-connected document of a duplicate blob as its canonical pick).

    Ranks are integers in units of 1/``PAGERANK_SCALE``:

        rank ← base + DAMPING_PCT · Σ_{u→v} (rank(u) div outdeg(u)) / 100

    with ``div`` true integer division, so every iteration is
    order-independent, overflow-safe (mass ≤ PAGERANK_SCALE, × 85 ≪ 2⁶³) and
    bit-identical on any engine — an unrolled SQL replay reproduces the
    trajectory exactly, floating-point drift impossible. Floor division
    leaks ≤ 1 unit of mass per (node, iteration): deterministic, and
    immaterial at scale 1e9.

    Structure per iteration: one join (ranks onto adjacency) + one
    groupBy(v) sum + one left join back — the same two-shuffle shape as
    min-label propagation above, ``localCheckpoint`` each round for
    constant-size lineage. ``n_iter`` is FIXED (not convergence-tested):
    the output is a deterministic function of the graph, which is what
    lets the oracle unroll it. Nodes are vertices with ≥ 1 edge
    (an undirected graph has no dangling nodes, so no teleport-mass
    correction is needed).

    Output: (node, rank_fp, rank) — rank = rank_fp / PAGERANK_SCALE as double
    (exact: rank_fp < 2⁵³).
    """
    # checkpoint BEFORE the symmetrizing union: both branches reference
    # `edges`, and an expensive upstream pair pipeline would run twice
    base = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).localCheckpoint(
        eager=True
    )
    adj = (
        base.unionByName(base.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
    n = deg.count()  # one scalar to the driver (node count), k-bounded
    if n == 0:
        return adj.sparkSession.createDataFrame(
            [], "node long, rank_fp long, rank double"
        )
    init = PAGERANK_SCALE // n
    base = (PAGERANK_SCALE * (100 - DAMPING_PCT)) // 100 // n
    # Right-size per-round parallelism from the (already collected) node
    # count: a near-dup graph is usually tiny next to its corpus, and 32
    # shuffle tasks per round on a 50-node graph is pure scheduling
    # overhead. ~50k nodes per partition, capped at default parallelism.
    n_parts = max(1, min(adj.sparkSession.sparkContext.defaultParallelism, -(-n // 50_000)))
    adj = adj.repartition(n_parts, "u").localCheckpoint(eager=True)
    state = (
        deg.select(
            F.col("u").alias("node"), "outdeg", F.lit(init).cast("long").alias("rank_fp")
        )
        .repartition(n_parts, "node")
        .localCheckpoint(eager=True)
    )
    for _ in range(n_iter):
        contribs = (
            adj.join(state.withColumnRenamed("node", "u"), "u")
            .select("v", F.expr("rank_fp div outdeg").alias("__c"))
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("__c").alias("__s"))
        )
        state = (
            state.select("node", "outdeg")
            .join(contribs, "node", "left")
            .select(
                "node",
                "outdeg",
                # `div` = true integer division (Spark `/` would be double)
                F.expr(
                    f"CAST({base} + (({DAMPING_PCT} * coalesce(__s, 0)) div 100) AS BIGINT)"
                ).alias("rank_fp"),
            )
            .localCheckpoint(eager=True)
        )
    return state.select(
        "node", "rank_fp", (F.col("rank_fp") / F.lit(float(PAGERANK_SCALE))).alias("rank")
    )
