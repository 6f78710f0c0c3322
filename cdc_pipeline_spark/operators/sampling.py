"""Deterministic sampling / splitting for training-data pipelines.

A 100 TB corpus can't be split with ``rand()``: re-runs, retries and
cluster resizes must land every record in the SAME split, and the
assignment must be joinable from any engine that sees the same key.
Everything here is therefore a pure function of the record key:

  * ``hash_split`` — train/val/test assignment from a multiplicative
    hash bucket of the id. Rerun-stable, engine-portable, and (unlike
    ``randomSplit``) exactly disjoint and exhaustive by construction.
  * ``deterministic_downsample`` — keep at most ``n`` rows per key,
    chosen by hash order (not arrival order): a stable per-user /
    per-domain cap, the standard guard against one hot key dominating
    a training mix.
  * ``stratified_sample`` — per-stratum Bernoulli sampling via
    ``sampleBy`` (seeded, single pass, no shuffle). Spark's sampling
    hash is engine-internal, so this one is verified by statistical
    tests rather than the SQL oracle.

The demo bucket hash is ``(id * KNUTH) % 100`` — Knuth's multiplicative
constant, exactly reproducible in any SQL engine with 64-bit integers.
At petabyte scale with arbitrary ids, swap ``_bucket`` for
``pmod(xxhash64(id), 100)``: same operator shape, collision-free mixing
(kept out of the default because xxhash64 isn't portable to the DuckDB
oracle; the multiplicative form overflows past ids ~3.5e9).

No counterpart in the reference (its generator fabricates load rather
than sampling it; nearest concern is the capped activity feed,
src/streaming/transforms/activity_enricher.py:19-26).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_pipeline_spark.operators.rounding import round_half_up

# Knuth multiplicative hashing constant (2^32 * golden ratio conjugate).
KNUTH = 2654435761
# weighted_priority_sample and its DuckDB twin: u's grid (a power of two,
# so u is exact in a double), the weight clamp and the key quantization
U_GRID = 1 << 30
W_MIN, W_MAX = 0.05, 20.0
PRIORITY_QUANT = 1_000_000.0


def _bucket(id_col: Column, modulus: int = 100) -> Column:
    """Deterministic pseudo-uniform bucket in [0, modulus)."""
    return F.pmod(id_col.cast("long") * F.lit(KNUTH), F.lit(modulus))


def split_expr(id_col: Column) -> Column:
    """The split assignment as a pure COLUMN expression over an id —
    usable anywhere an id appears (e.g. labeling both sides of a
    duplicate-pair frame without joining the assignment table back).
    Boundaries are cumulative percentage buckets of the deterministic
    hash (train 80, val 10, test 10), so splits are disjoint and
    exhaustive."""
    bucket = _bucket(id_col)
    return (
        F.when(bucket < F.lit(80), F.lit("train"))
        .when(bucket < F.lit(90), F.lit("val"))
        .otherwise(F.lit("test"))
    )


def hash_split(df: DataFrame, id_col: str) -> DataFrame:
    """Add a ``split`` column assigning each row to exactly one named
    split (see :func:`split_expr` for the assignment rule)."""
    return df.withColumn("split", split_expr(F.col(id_col)))


def deterministic_downsample(df: DataFrame, key_col: str, n: int, id_col: str) -> DataFrame:
    """Keep at most ``n`` rows per key, chosen by hash order of the id
    (stable across runs and partitionings; ties broken by id). One
    shuffle on the key — the same plan shape as any grouped top-k."""
    w = Window.partitionBy(key_col).orderBy(_bucket(F.col(id_col), 1 << 31).asc(), F.col(id_col).asc())
    out = df.withColumn("__ds_rank", F.row_number().over(w)).filter(F.col("__ds_rank") <= n)
    return out.drop("__ds_rank")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    seed: int = 7,
) -> DataFrame:
    """Per-stratum Bernoulli sample (seeded ``sampleBy``): single pass,
    no shuffle, each stratum kept at its own rate — class rebalancing
    for a training mix. Statistically verified (not oracle-hashed):
    Spark's sampling hash is engine-internal. For a rerun-stable,
    engine-portable sample, use :func:`deterministic_stratified_sample`.
    """
    return df.sampleBy(strata_col, fractions, seed=seed)


def deterministic_stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    id_col: str,
    bucket_fn=None,
) -> DataFrame:
    """Content-hash stratified sample: keep a row iff
    ``pmod(xxhash64(id, 7), 10⁶) < fraction(stratum) · 10⁶``.

    Same single-pass no-shuffle shape as :func:`stratified_sample`, but
    the keep decision is a pure function of the id — identical
    across reruns, task retries, partitionings AND engines (any system
    with the same 64-bit hash reproduces the sample bit-for-bit; the
    DuckDB oracle replicates it via a portable hash variant in the
    workload). The trade: Bernoulli independence is by hash uniformity
    rather than an RNG stream — fine for corpus rebalancing, not for
    cryptographic sampling."""
    from pyspark.sql import functions as F

    mapping = F.create_map(
        *[x for s, fraction in fractions.items() for x in (F.lit(s), F.lit(float(fraction)))]
    )
    threshold = mapping[F.col(strata_col)] * 1_000_000
    bucket = (
        bucket_fn(F.col(id_col))
        if bucket_fn is not None
        else F.pmod(F.xxhash64(F.col(id_col), F.lit(7)), F.lit(1_000_000))
    )
    return df.filter(bucket < threshold)


def token_budget_select(
    df: DataFrame,
    group_col: str,
    tokens_col: str,
    budget: int,
    order_by: list[Column],
) -> DataFrame:
    """Per-group token-budget selection — the data-mixing step of a
    training-corpus build: within each group (source/domain/language),
    rank rows by preference (quality desc, id for determinism) and keep
    rows in that order until the group's token budget is exhausted.

    A row is kept iff it STARTS within budget (``cum - tokens <
    budget``), the same greedy-prefix convention as sequence packing —
    so the budget can overshoot by at most one document, never
    undershoot while candidates remain.

    One shuffle on ``group_col``; the running sum is a single window
    frame, and at 100 TB each domain's window state is one long. Hot
    domains sort within their partition — cap them upstream with
    :func:`deterministic_downsample` if one domain dominates the mix.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("cum_tokens", F.sum(F.col(tokens_col).cast("long")).over(w))
        .filter(F.col("cum_tokens") - F.col(tokens_col) < budget)
    )


def temperature_mix_weights(
    df: DataFrame,
    group_col: str,
    tokens_col: str,
) -> DataFrame:
    """Temperature-scaled domain sampling weights (the multilingual-
    corpus mixing rule, e.g. mC4/XLM-R style: p_i ∝ share_i^T), at
    T = 0.7. T=1
    keeps natural proportions; T→0 flattens toward uniform — the knob
    that keeps a dominant domain from swamping the mix.

    Output per group: token_share (natural), weight (temperature-scaled,
    sums to 1), and sample_multiplier = weight / share — the per-domain
    up/down-sampling factor a reader applies. One grouped aggregate
    (|domains| rows) + a scalar total — nothing here touches row data
    twice, so it composes in front of `token_budget_select` (convert
    weights to per-domain budgets) or `stratified_sample` (fractions).
    """
    from pyspark.sql.window import Window as _W

    counts = df.groupBy(group_col).agg(
        F.sum(F.col(tokens_col).cast("long")).alias("__tok")
    )
    w = _W.partitionBy()
    share = (F.col("__tok") / F.sum("__tok").over(w)).alias("token_share")
    powered = F.pow(F.col("__tok") / F.sum("__tok").over(w), F.lit(0.7))
    weight = powered / F.sum(powered).over(w)
    return counts.select(
        group_col,
        F.col("__tok").alias("total_tokens"),
        round_half_up(share, 6).alias("token_share"),
        round_half_up(weight, 6).alias("weight"),
        round_half_up(weight / (F.col("__tok") / F.sum("__tok").over(w)), 6).alias(
            "sample_multiplier"
        ),
    )


def portable_id_bucket(col, seed: int = 7, resolution: int = 1_000_000):
    """SQL-portable bucket for :func:`deterministic_stratified_sample`
    twins: Knuth multiplicative hash under mod-2³¹−1 arithmetic. For
    ids < 2²⁰ the product stays in int64 and any SQL engine replicates
    the bucket verbatim (the cross-engine contract). Beyond ~3.5e9 the
    non-ANSI product wraps negative — ``pmod`` keeps the bucket
    NON-NEGATIVE either way, so downstream u∈(0,1] / log() math never
    sees a negative bucket and silently nulls out (DuckDB errors on
    BIGINT overflow rather than wrapping, so the cross-engine mirror
    genuinely only holds in the documented id range; the engine-side
    result is merely well-defined, not portable, past it). Weaker
    dispersion than xxhash64 — use for cross-engine verification, not
    production sampling."""
    from pyspark.sql import functions as F

    return F.pmod(
        F.pmod(col * F.lit(2654435761) + F.lit(seed), F.lit(2147483647)), F.lit(resolution)
    )


def epoch_shuffle_order(
    df: DataFrame,
    n_shards: int = 8,
    seed: int = 7,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic global training order for an epoch: every record
    gets a shard and a position within it, derived purely from
    hash(id, seed) — so re-running the job (or re-materializing a lost
    partition) reproduces the identical order, and changing ``seed``
    reshuffles for the next epoch.

    This is the scale-correct form of "globally shuffle the corpus":
    a true global permutation needs a total sort, but a training loader
    only needs (a) pseudo-random order and (b) disjoint, evenly-sized
    shards it can stream — which hash-sharding plus an intra-shard sort
    delivers with ONE hash exchange on shard and a per-shard local sort
    (no global sort, no driver state). Pairs with
    streaming.batch_sink.write_training_shards for the on-disk layout.

    Output: (doc_id, *carry_cols, shard, epoch_pos) — epoch_pos is
    1-based within shard, ordered by (shuffle_key, doc_id).
    """
    from pyspark.sql.window import Window as _W

    key = portable_id_bucket(F.col("doc_id"), seed, 1_000_000)
    out = df.select("doc_id", *carry_cols).withColumn(
        "__key", key
    ).withColumn("shard", (F.col("__key") % F.lit(n_shards)).cast("long"))
    w = _W.partitionBy("shard").orderBy("__key", "doc_id")
    return out.withColumn("epoch_pos", F.row_number().over(w).cast("long")).drop("__key")


def weighted_priority_sample(
    df: DataFrame,
    id_col: str,
    weight_col: Column,
    k: int,
    seed: int = 7,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Weighted sampling WITHOUT replacement as one global top-k
    (Efraimidis–Spirakis A-ES): each row draws u ~ Uniform(0,1] and the
    k largest keys u^(1/w) are an exact weighted sample — e.g. with
    w = token count this yields a token-uniform document sample, the
    standard way to subsample a corpus without biasing toward short
    docs.

    Scale shape: keys are pure per-row expressions and selection is
    ``orderBy().limit(k)`` → TakeOrderedAndProject (per-partition heap +
    k-row driver merge). No shuffle of the corpus, no RNG state: u is
    hash(id, seed), so the sample is rerun-stable and a new ``seed``
    redraws it.

    Cross-engine determinism (SCALE.md policy, technique 3): u =
    (h+1)/2^30 is exactly representable (power-of-two divisor); the
    weight is clamped to [W_MIN, W_MAX] and 6-dp-quantized BEFORE use so
    both engines divide identical doubles; the sort key is
    floor(ln(u)/w_eff · PRIORITY_QUANT) as BIGINT — |ln(u)/w| ≤ 21/W_MIN ≈ 416,
    where a double's ulp (~5e-14) is ~10⁷ below the 1/PRIORITY_QUANT grid, so an
    engine's ≤1-ulp ln() difference cannot flip a bucket. Ties broken
    by id. (Ordering by ln(u)/w descending is order-isomorphic to
    u^(1/w) descending since w > 0.)
    """
    from cdc_pipeline_spark.operators import topk

    # Two-round multiplicative hash with the seed folded in as a
    # MULTIPLIER (an additive seed only shifts every u by ~seed/2^30,
    # which re-draws essentially the same sample): a different seed is
    # a different permutation of residues mod 2^31-1. The id is shifted
    # by seed+1 first so id 0 is not a fixed point (0·a ≡ 0 for every
    # multiplier — unshifted, doc 0 would draw the minimum u under
    # EVERY seed and never be sampled). All intermediates stay within
    # int64 for ids < 2^20 (documented like portable_id_bucket).
    p = F.lit(2147483647)
    # pmod, not %: a negative id would otherwise make h1 (and hence
    # log(u)) negative/NULL and the row would silently never be sampled.
    # With pmod h1 is always in [0, p), so every id draws a valid u;
    # for the documented non-negative id range pmod == %, keeping the
    # sample (and the SQL twin below) unchanged.
    h1 = F.pmod((F.col(id_col).cast("long") + F.lit(seed + 1)) * F.lit(KNUTH + 2 * seed), p)
    h = ((h1 * F.lit(KNUTH)) % p) % F.lit(U_GRID)
    u = (h + F.lit(1)) / F.lit(float(U_GRID))
    w_eff = round_half_up(
        F.least(F.greatest(weight_col.cast("double"), F.lit(W_MIN)), F.lit(W_MAX)), 6
    )
    priority = F.floor(F.log(u) / w_eff * F.lit(PRIORITY_QUANT)).cast("long")
    out = df.select(
        F.col(id_col),
        *carry_cols,
        w_eff.alias("sample_weight"),
        priority.alias("priority_q"),
    )
    return topk.top_k(out, [F.col("priority_q").desc(), F.col(id_col).asc()], k)


def weighted_priority_sql(id_expr: str, weight_expr: str) -> tuple[str, str]:
    """DuckDB mirror of :func:`weighted_priority_sample`'s
    (sample_weight, priority_q) expressions at its default seed — same
    hash, same clamp, same quantized-floor key. round(...) here is
    rewritten to the floor form at registration like every oracle."""
    seed = 7
    w_eff = f"round(least(greatest(CAST({weight_expr} AS DOUBLE), {W_MIN}), {W_MAX}), 6)"
    # ((x % p) + p) % p mirrors Spark's pmod for negative ids
    h1 = (
        f"((((({id_expr}) + {seed + 1}) * {KNUTH + 2 * seed}) % 2147483647"
        f" + 2147483647) % 2147483647)"
    )
    h = f"((({h1}) * {KNUTH}) % 2147483647) % {U_GRID}"
    u = f"(({h}) + 1) / {float(U_GRID)}"
    priority = f"CAST(floor(ln({u}) / ({w_eff}) * {PRIORITY_QUANT}) AS BIGINT)"
    return w_eff, priority
