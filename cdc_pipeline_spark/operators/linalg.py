"""Distributed exact linear algebra over embedding columns.

The PCA/whitening precompute a large-scale embedding pipeline needs
(SemDeDup preprocessing, ANN index whitening, per-dimension variance
audits) reduces to ONE distributed primitive: the d×d Gram/covariance
matrix of an `array<float>` column. Everything downstream (eigensolve,
power iteration, projection direction) is O(d²)–O(d³) control state —
tiny for any realistic d — so the scale design is:

1. **Gram partials per Arrow batch** (`quantized_gram`): `mapInPandas`
   stacks each batch into a numpy matrix, quantizes to integers
   (half-up at a fixed power-of-two scale) and emits the upper-triangle
   of `XᵀX` plus the column sums and the row count — ≤ d(d+1)/2 + d + 1
   rows per batch regardless of batch size. The shuffle therefore
   carries O(#batches · d²) tiny rows at ANY corpus size; a 100 TB
   embedding table costs one scan-parallel pass plus a kilobyte-scale
   aggregation.
2. **Exact integer arithmetic end to end**: quantized cross-products
   are summed as decimal(38,0) (exact, associative — immune to Spark's
   partial/final fold order), and the centered Gram
   `G = n·S − m·mᵀ` (∝ n² × covariance) stays integer, so any two
   engines agree bit-for-bit. This is the SCALE.md determinism policy
   ("integer/decimal sums first") applied to linear algebra.
3. **Power iteration on the collected Gram** (`power_iteration_top`):
   d×d integers are driver-side control state (like k-means centroids,
   clustering.py:59). Iterations run in arbitrary-precision Python
   ints with an integer renormalization (`v ← sign(w)·(|w|·V)//max|w|`,
   non-negative operands only, so truncating and flooring division
   agree) — a DuckDB oracle replays the identical ints in HUGEINT.
4. **Distributed projection** (`project_quantized`): the finished
   direction is broadcast as a literal array; per-vector integer dot
   products are one scan-parallel `zip_with`/`aggregate` expression —
   no shuffle, no UDF.

Reference parity: the reference has no linear-algebra surface (its
embedding work stops at cosine similarity); this module is part of the
"beyond the reference" training-data toolkit, same family as
operators/similarity.py (ANN) and operators/clustering.py (k-means).

Overflow bounds (documented, asserted where cheap): with quantization
scale s and max |component| B, per-batch int64 matmul partials need
n_batch·(sB)² < 2⁶³ — the worker guards this by sub-chunking batches
adaptively; the decimal(38,0) totals then hold any corpus up to 10³⁸.
`G` entries are bounded by n²·(sB)²; callers picking output casts to
long (the workload queries do, for the comparison harness) must keep
n²·(sB)² < 2⁶³ — true for every testdata scale with the defaults here.
"""

from __future__ import annotations

import decimal
from typing import Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PARTIAL_SCHEMA = "i int, j int, v decimal(38,0)"


def _gram_partials(
    batches: Iterator[pd.DataFrame], vec_col: str, scale: int
) -> Iterator[pd.DataFrame]:
    """Per-partition generator: accumulate exact integer Gram partials
    across Arrow batches, emit once at the end.

    Sentinel encoding in the output rows: (i, j≥0) = upper-triangle
    S_ij partial; (i, −1) = column-sum m_i partial; (−1, −1) = row
    count. Accumulators are Python ints (object arrays) so partition
    size never overflows; the int64 matmul inside is sub-chunked to
    stay under 2⁶³.
    """
    import numpy as np

    S = None  # object ndarray (d, d): exact Python-int partial sums
    m = None
    count = 0
    for pdf in batches:
        col = pdf[vec_col]
        if len(col) == 0:
            continue
        X = np.stack([np.asarray(v, dtype=np.float64) for v in col])
        if not np.isfinite(X).all():
            # NaN/Inf would cast to INT64_MIN silently (numpy undefined
            # behavior) and corrupt the "exact" Gram; the SQL replay
            # engines error or NULL on the same input — fail loudly and
            # let callers filter non-finite rows upstream (the streaming
            # writer does).
            raise ValueError(
                "gram partials: non-finite embedding component — filter "
                "NaN/Inf rows before quantized_gram/gram_partial_rows"
            )
        Q = np.floor(X * float(scale) + 0.5).astype(np.int64)
        if S is None:
            d = Q.shape[1]
            S = np.zeros((d, d), dtype=object)
            m = np.zeros(d, dtype=object)
        max_q = int(np.abs(Q).max()) if Q.size else 0
        # int64 matmul bound: rows_per_chunk * max_q^2 < 2^62. When even
        # ONE row's product exceeds the bound (max_q^2 >= 2^62 — absurdly
        # large components for the quantization scale, but possible), the
        # int64 fast path would wrap silently; fall back to exact
        # object-dtype arithmetic for this batch instead.
        if max_q and max_q * max_q >= (1 << 62):
            Qo = Q.astype(object)
            S += Qo.T @ Qo
            m += Qo.sum(axis=0)
        else:
            chunk = len(Q) if max_q == 0 else max(1, (1 << 62) // (max_q * max_q + 1))
            for lo in range(0, len(Q), chunk):
                sub = Q[lo : lo + chunk]
                S += (sub.T @ sub).astype(object)
            m += Q.sum(axis=0, dtype=np.int64).astype(object)
        count += len(Q)
    if S is None:
        return
    d = S.shape[0]
    rows_i, rows_j, rows_v = [], [], []
    for i in range(d):
        for j in range(i, d):
            rows_i.append(i)
            rows_j.append(j)
            rows_v.append(decimal.Decimal(int(S[i, j])))
        rows_i.append(i)
        rows_j.append(-1)
        rows_v.append(decimal.Decimal(int(m[i])))
    rows_i.append(-1)
    rows_j.append(-1)
    rows_v.append(decimal.Decimal(count))
    yield pd.DataFrame({"i": rows_i, "j": rows_j, "v": rows_v})


def gram_partial_rows(
    df: DataFrame, vec_col: str = "embedding", scale: int = 1 << 12
) -> DataFrame:
    """The raw per-partition Gram partials (sentinel-encoded: S upper
    triangle at (i, j≥0), column sums at (i, −1), row count at
    (−1, −1)) — ADDITIVE rows, the streaming-maintainable form. Batch
    callers want :func:`quantized_gram`; the streaming rollup writer
    persists these per micro-batch and merges exactly on read."""
    sc = int(scale)
    return df.select(vec_col).mapInPandas(
        lambda it: _gram_partials(it, vec_col, sc), schema=_PARTIAL_SCHEMA
    )


def assemble_centered_gram(sums: DataFrame) -> DataFrame:
    """Assemble the centered Gram ``G = n·S − m·mᵀ`` from MERGED partial
    sums (i, j, v). Exact decimal arithmetic; the inputs are tiny
    (≤ d(d+1)/2 + d + 1 rows), so every join is a broadcast."""
    s = sums.filter((F.col("i") >= 0) & (F.col("j") >= 0))
    mcol = sums.filter((F.col("i") >= 0) & (F.col("j") == -1)).select(
        F.col("i").alias("mi_i"), F.col("v").alias("m")
    )
    n = sums.filter(F.col("i") == -1).select(F.col("v").alias("n"))
    return (
        s.join(F.broadcast(mcol), s["i"] == mcol["mi_i"])
        .drop("mi_i")
        .withColumnRenamed("m", "m_i")
        .join(
            F.broadcast(mcol.withColumnRenamed("m", "m_j")),
            F.col("j") == F.col("mi_i"),
        )
        .drop("mi_i")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            (F.col("n") * F.col("v") - F.col("m_i") * F.col("m_j")).alias("g"),
        )
    )


def quantized_gram(df: DataFrame, scale: int = 1 << 12) -> DataFrame:
    """Exact centered Gram matrix of an embedding column.

    Returns the upper triangle (i ≤ j) of ``G = n·S − m·mᵀ`` over the
    half-up integer quantization ``q = floor(x·scale + 0.5)`` — G is
    n² times the sample covariance of the quantized vectors, kept in
    integer form (decimal(38,0)) so it is bit-identical under any
    partitioning or engine. Columns: ``i int, j int, g decimal(38,0)``.

    One scan + one tiny shuffle (O(batches·d²) partial rows); the
    d(d+1)/2-row result is broadcast-sized for any realistic d.
    """
    partials = gram_partial_rows(df, "embedding", scale)
    sums = partials.groupBy("i", "j").agg(F.sum("v").alias("v"))
    return assemble_centered_gram(sums)


def power_iteration_top(
    gram_rows: Iterable[tuple[int, int, int]],
    dim: int,
    iters: int = 8,
    v_scale: int = 4096,
) -> list[int]:
    """Integer-exact power iteration for the top eigenvector of a
    symmetric integer matrix given as upper-triangle (i, j, g) rows.

    Driver-side control state (O(d²) ints). Start from ``v_scale·e_r``
    with r = argmax diagonal (ties → smallest index); each step computes
    ``w = G·v`` in arbitrary-precision ints and renormalizes to max-abs
    ``v_scale`` via ``sign(w)·(|w|·v_scale) // max|w|`` — all division
    operands non-negative, so floor and truncating division coincide and
    a SQL replay (DuckDB ``//``, which truncates) matches exactly. A
    zero iterate carries the previous v (and a zero matrix returns the
    start vector). The final vector is sign-fixed so its first nonzero
    entry is positive. Returns d ints with max|v| ≤ v_scale (all zeros
    only for an empty/degenerate input).
    """
    G = [[0] * dim for _ in range(dim)]
    seen = False
    for i, j, g in gram_rows:
        seen = True
        gi = int(g)
        G[i][j] = gi
        G[j][i] = gi
    if not seen:
        return [0] * dim
    diag = [G[i][i] for i in range(dim)]
    r = max(range(dim), key=lambda i: (diag[i], -i))
    v = [v_scale if i == r else 0 for i in range(dim)]
    for _ in range(iters):
        w = [sum(G[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        mx = max(abs(x) for x in w)
        if mx == 0:
            break
        v = [
            -(((-x) * v_scale) // mx) if x < 0 else (x * v_scale) // mx
            for x in w
        ]
    first = next((x for x in v if x != 0), 0)
    if first < 0:
        v = [-x for x in v]
    return v


def project_quantized(df: DataFrame, direction: Sequence[int], scale: int = 1 << 20) -> DataFrame:
    """Exact integer projection of every vector onto an integer
    direction: ``p = Σ_i dir_i · floor(x_i·scale + 0.5)``.

    The direction is a broadcast literal array; the dot product is a
    left-fold ``aggregate(zip_with(...))`` — scan-parallel, zero
    shuffle, JVM-side. Appends column ``proj`` (long). Overflow bound:
    d·max|dir|·scale·max|x| must stay < 2⁶³ — with the module defaults
    (d≤1024, |dir|≤4096, scale 2²⁰, |x|≤500) that holds with slack.
    """
    dir_lit = F.array(*[F.lit(int(c)).cast("long") for c in direction])
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale)) + F.lit(0.5)),
    )
    prod = F.zip_with(q, dir_lit, lambda a, b: a * b)
    return df.withColumn(
        "proj", F.aggregate(prod, F.lit(0).cast("long"), lambda acc, x: acc + x)
    )


def pc_residual(df: DataFrame, direction: Sequence[int], scale: int = 1 << 10) -> DataFrame:
    """Exact integer PCA-residual score against an integer direction:
    ``resid = (v·v)·(x·x) − (x·v)²`` over ``x = floor(vec·scale + 0.5)``.

    This is the Cauchy–Schwarz form of the orthogonal-residual norm —
    ``resid / (v·v)`` equals ‖x − proj_v(x)‖², but the division never
    happens, so everything stays in exact integers (resid ≥ 0, and 0
    iff the vector is parallel to the direction). Low scores mark
    template-like vectors the dominant direction fully explains; high
    scores mark diversity/outliers. Zero shuffle, JVM-only folds, same
    scale posture as :func:`project_quantized`. Appends column
    ``resid`` (long). Overflow bound: (v·v)·(x·x) < 2⁶³ — with the
    module defaults d·v_scale²·d·(scale·max|x|)² ≈ 2.4e16, ~400×
    under the line.
    """
    vv = sum(int(c) * int(c) for c in direction)
    dir_lit = F.array(*[F.lit(int(c)).cast("long") for c in direction])
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale)) + F.lit(0.5)),
    )
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    xx = fold(F.transform(q, lambda x: x * x))
    xv = fold(F.zip_with(q, dir_lit, lambda a, b: a * b))
    return df.withColumn("resid", F.lit(vv).cast("long") * xx - xv * xv)


def dim_moments(df: DataFrame, scale: int = 1 << 12) -> tuple[int, list[int], list[int]]:
    """Exact per-dimension first/second moments of the half-up integer
    quantization ``x = floor(v·scale + 0.5)``: returns ``(n, m, s)``
    with ``m[i] = Σx_i`` and ``s[i] = Σx_i²`` as Python ints.

    Pure-JVM path (no Arrow batch needed for diagonal-only moments):
    one ``posexplode`` → map-side-combined groupBy on the dim index —
    the shuffle carries O(partitions·d) partial rows at any corpus
    size, and the collect is d rows of control state (same budget
    class as k-means centroids). Sums aggregate as decimal(38,0), so
    no corpus size can wrap them.
    """
    q = df.select(
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * F.lit(float(scale)) + F.lit(0.5)),
            )
        ).alias("i", "x")
    )
    rows = (
        q.groupBy("i")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("x").alias("n_x"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("m"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("s"),
        )
        .collect()
    )
    if not rows:
        return 0, [], []
    if any(int(r["n_x"]) != int(r["n"]) for r in rows):
        # a NULL element quantizes to NULL: count() would still tally the
        # row while sum() skips it, silently skewing EVERY vector's score
        # on that dimension (and NULL-scoring the afflicted vector) —
        # same loud-failure contract as the gram partials' non-finite
        # guard: filter upstream
        raise ValueError(
            "dim_moments: null embedding component — filter rows with "
            "null elements before zscore_outlier_topk/dim_moments"
        )
    d = max(r["i"] for r in rows) + 1
    n = max(int(r["n"]) for r in rows)
    if min(int(r["n"]) for r in rows) != n or len(rows) != d:
        # ragged vector lengths: shorter dimensions would silently skew
        # every z-score (and longer rows NULL-score via out-of-range
        # F.get) — same loud-failure contract as the null-element guard
        raise ValueError(
            "dim_moments: ragged embedding lengths (per-dimension counts "
            "differ) — enforce a uniform vector length before "
            "zscore_outlier_topk/dim_moments"
        )
    m = [0] * d
    s = [0] * d
    for r in rows:
        m[int(r["i"])] = int(r["m"])
        s[int(r["i"])] = int(r["s"])
    return n, m, s


def zscore_outlier_topk(df: DataFrame, scale: int = 1 << 12, k: int = 50) -> DataFrame:
    """Top-k embedding outliers by diagonal-covariance Mahalanobis
    distance: per vector, ``Σ_d z_d²`` with
    ``z_d² = (n·x_d − m_d)² / (n·s_d − m_d²)`` over the quantized
    components — the robust feature-health screen that catches vectors
    whose per-dimension deviations are individually large even when no
    single dot product flags them (the standard pre-filter before
    whitening or ANN indexing; complements the Cauchy–Schwarz residual
    in :func:`pc_residual`, which only sees the top principal axis).

    Scale shape: ONE bounded collect of the d-row moment table
    (:func:`dim_moments`), then per-vector scoring is a zero-shuffle
    in-row expression over broadcast moment literals, and the top-k is
    ``orderBy().limit(k)`` → TakeOrderedAndProject (per-partition
    heaps + driver merge — no global sort).

    Determinism: moments are exact ints; per-dim terms are doubles
    computed from exact ints (< 2^53 for the documented bound
    n·scale·max|v| < 9·10¹⁵ — the oracle replays the identical
    expression shape) quantized to DECIMAL(28,8) BEFORE the in-row
    sum; ranking orders on the exact decimal sum with an id tie-break.
    Zero-variance dimensions contribute exactly 0 (guarded division).

    Output: (vec_id, z2_sum double) — k rows, score descending.
    """
    n, m, s = dim_moments(df, scale=scale)
    nd = float(n)
    md = [float(x) for x in m]
    gd = [float(n * si - mi * mi) for mi, si in zip(m, s)]
    # string→double literals: repr() is the shortest exact round-trip,
    # and the CAST form survives scientific notation ('1e+16D' would
    # not lex as a double literal)
    md_arr = F.expr(
        "array(" + ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in md) + ")"
    )
    gd_arr = F.expr(
        "array(" + ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in gd) + ")"
    )
    from cdc_pipeline_spark.operators.rounding import round_half_up

    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale)) + F.lit(0.5)).cast(
            "double"
        ),
    )
    zero = F.lit(0).cast("decimal(28,8)")

    def term(qx, i):
        g = F.get(gd_arr, i)
        mi = F.get(md_arr, i)
        dev = F.lit(nd) * qx - mi
        return F.when(g == F.lit(0.0), zero).otherwise(
            round_half_up(dev * dev / g, 8).cast("decimal(28,8)")
        )

    # accumulator sized so acc + term NEVER exceeds precision 38:
    # decimal(32,8) + decimal(28,8) → decimal(33,8), exact. A (38,8)
    # accumulator would push the add to precision 39, where Spark's
    # allowPrecisionLoss silently drops to SCALE 7 — observed as every
    # sum ending in 0 at the 8th decimal and 2e-7 oracle drift.
    score = F.aggregate(
        F.transform(q, term),
        F.lit(0).cast("decimal(32,8)"),
        lambda acc, t: (acc + t).cast("decimal(32,8)"),
    )
    ranked = (
        df.filter(F.col("embedding").isNotNull())
        .select(F.col("vec_id"), score.alias("s2"))
        .orderBy(F.desc("s2"), "vec_id")
        .limit(k)
    )
    # no re-round: terms are already 8dp-quantized, so the exact decimal
    # sum casts to the identical double in both engines — re-rounding to
    # fewer places would sit ON the half boundary whenever the sum ends
    # in ...50 (systematic with 1e-8-grid terms) and flip by engine
    return ranked.select("vec_id", F.col("s2").cast("double").alias("z2_sum"))
