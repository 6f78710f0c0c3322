"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point of these at 100 TB):
  * exact dedup = hash-groupBy on a normalized fingerprint — one shuffle
    keyed by digest, no content comparison;
  * n-gram Jaccard = inverted-index self-join (explode shingles, join on
    shingle, count intersections) — never an O(n²) cross join; the join
    key is the shingle so co-occurrence is data-proportional;
  * MinHash+LSH = fixed-size signatures (perm-count × 8 bytes per doc)
    → band buckets → candidate pairs only within buckets → exact verify.
    Signature build is one pass; banding is a second small shuffle;
  * SimHash = one 32-bit signature per doc; near-dup candidates pair via
    band equality on signature chunks, then exact Hamming verify with
    ``bit_count(a XOR b)``.

Everything is built from JVM built-ins (xxhash64, pmod, explode,
bit_count) — no Python in the hot path.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)

from cdc_pipeline_spark.operators.rounding import round_half_up

from cdc_pipeline_spark.operators.partitioning import ensure_parallelism as _spread
from cdc_pipeline_spark.operators.templates import template
from cdc_pipeline_spark.operators.text import fingerprint, tokens, word_shingles

# Deterministic affine MinHash parameters: h_i(x) = (A_i * x + B_i) mod P.
# P = 2^31 − 1 (Mersenne) keeps a·x < 2^62 so the JVM long math never
# overflows (Spark 4 ANSI mode makes overflow an error, not a wrap).
_MERSENNE_P = (1 << 31) - 1


def _perm_params(num_perm: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic pseudo-random (a, b) pairs from the shared
    splitmix64 scramble (``operators.prng`` — one copy feeds both this
    and the RP-LSH hyperplanes; the derived signatures are persisted,
    so the two sites must never drift apart). ``a`` uses the scrambled
    output; ``b`` intentionally uses the raw advanced state — both
    bit-identical to the original inline implementation."""
    from cdc_pipeline_spark.operators.prng import splitmix64

    params = []
    x = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(num_perm):
        x, z = splitmix64(x)
        a = (z % (_MERSENNE_P - 1)) + 1
        x, _ = splitmix64(x)
        b = x % _MERSENNE_P
        params.append((a, b))
    return params


def exact_duplicates(df: DataFrame) -> DataFrame:
    """Exact dedup via normalized-fingerprint hash-groupBy. Returns one
    row per distinct content: canonical (min) id + duplicate count."""
    return (
        df.select(F.col("doc_id"), fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    return _spread(df).select(
        F.col(id_col).alias("doc_id"),
        word_shingles(text_col, n).alias("shingles"),
    )


def _posting(sh: DataFrame, array_col: str = "shingles", out_col: str = "shingle") -> DataFrame:
    """Explode an array column into posting rows.

    ``explode_outer`` + null-filter, NOT plain ``explode``: Spark infers a
    ``size(arr) > 0 AND isnotnull(arr)`` predicate from a non-outer
    explode and pushes it below the repartition exchange, re-evaluating
    the (expensive, interpreted) shingling expression twice on the
    single input partition — measured 9.6s → 0.7s on sf0.1."""
    return sh.select("doc_id", F.explode_outer(F.col(array_col)).alias(out_col)).filter(
        F.col(out_col).isNotNull()
    )


def prune_hot_buckets(
    posting: DataFrame,
    keys: list[str],
    max_bucket: int | None,
    what: str = "band bucket",
) -> DataFrame:
    """Hot-bucket guard for LSH band self-joins — the 100 TB safety rail.

    A band bucket with k members generates k² candidate pairs before
    verification; heavy boilerplate (or many empty/near-empty docs) can
    put millions of docs in ONE bucket, turning the candidate join
    quadratic. When ``max_bucket`` is set, buckets with more than that
    many members are dropped from the posting BEFORE the self-join via a
    broadcast anti-join on the (tiny) hot-bucket list — the same shape
    as ``ngram_jaccard_pairs``'s ``max_df`` shingle guard. Pairs inside
    a dropped bucket can still be found through their OTHER bands, so
    the cap costs recall only for pairs whose every agreeing band is
    hot (overwhelmingly boilerplate clusters, which a corpus build
    handles with exact dedup first).

    No silent truncation: the hot-bucket list is materialized eagerly
    (``localCheckpoint``, bounded: only over-cap buckets) and a WARNING
    with the dropped-bucket count is logged whenever anything is pruned.
    ``max_bucket=None`` is a no-op, preserving exact candidate
    enumeration for the oracle-checked paths (the MinHash/RP-LSH entry
    points default to None; ``simhash_pairs`` defaults to its measured
    cap because its banding is quadratic-by-occupancy without one).
    """
    if max_bucket is None:
        return posting
    if max_bucket < 1:
        raise ValueError(f"max_bucket must be >= 1, got {max_bucket}")
    # The posting feeds TWO jobs when a cap is set — the hot-list
    # materialization below and the caller's candidate join — and every
    # caller derives it from an expensive upstream (simhash bit-sums,
    # minhash signatures, shingle melts). Checkpoint it once so the
    # upstream runs once, not twice: interleaved A/B on the capped
    # simhash at sf0.1 measured 2.8 s plain vs 2.0 s checkpointed
    # (first run 8.3 vs 2.6) — the separate-jobs case where eager
    # checkpoints win (cf. the graph.py lesson). Lazy (eager=False) so
    # no extra blocking job. Skipped when the frame is already
    # materialized rows (analyzed-plan root = LogicalRDD, i.e. the
    # caller localCheckpointed it, as incremental_minhash_neardup does)
    # — re-checkpointing would store a second full copy in
    # block-manager memory for no reuse benefit. Probe via the JVM
    # plan (private attr, so fail open to checkpointing).
    try:
        already = (
            posting._jdf.queryExecution().analyzed().getClass().getSimpleName()
            == "LogicalRDD"
        )
    except Exception:  # noqa: BLE001 — probe only; checkpointing stays safe
        already = False
    if not already:
        posting = posting.localCheckpoint(eager=False)
    hot = (
        posting.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bucket_n"))
        .filter(F.col("__bucket_n") > max_bucket)
        .select(*keys)
        .localCheckpoint()
    )
    n_hot = hot.count()
    if n_hot:
        _LOG.warning(
            "prune_hot_buckets: dropping %d %s(s) with more than %d members "
            "from the candidate join (recall-only effect; verification stays exact)",
            n_hot, what, max_bucket,
        )
    return posting.join(F.broadcast(hot), keys, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.3,
    max_df: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup pairs via inverted-index join.

    ``J(A,B) = |A∩B| / (|A|+|B|−|A∩B|)``; intersections come from a
    self-join on exploded distinct shingles (data-proportional, not n²),
    set sizes from a pre-aggregated side. Returns (id_a < id_b, jaccard).

    ``max_df`` (optional) is the hot-shingle guard for 100TB corpora: a
    boilerplate shingle shared by k documents generates k² join pairs
    while adding ≤1 to each intersection. When set, postings whose
    shingle appears in more than ``max_df`` documents are dropped from
    the intersection join ONLY (true set sizes are kept), making the
    reported jaccard a lower bound — pairs can be missed, never
    over-scored. Default ``None`` = exact semantics (the oracle-checked
    path); LSH (``minhash_lsh_pairs``) is the principled scale path.
    """
    sh = _shingled(df, "doc_id", "text", 3)
    # Materialize the posting ONCE: it feeds three plan references (set
    # sizes + both self-join sides), and without this the interpreted
    # shingling expression re-evaluates per reference (~3x tokenize).
    # This is the documented small-N/verifier path, so the materialized
    # posting is candidate-set-sized, not corpus-sized (the corpus-scale
    # path is LSH, which checkpoints its own band postings). LAZY, not
    # eager: plan construction must stay job-free (plan tests inspect
    # the spread), and the first action materializes it once for all
    # three references anyway.
    posting = _posting(sh).localCheckpoint(eager=False)
    join_posting = posting
    if max_df is not None:
        hot = (
            posting.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("shingle")
        )
        # left_anti on the (small) hot-shingle frame — broadcastable;
        # set sizes below still come from the UNPRUNED posting.
        join_posting = posting.join(F.broadcast(hot), "shingle", "left_anti")
    # Set sizes come from the posting rows (shingles are array_distinct per
    # doc, so count == set size; zero-shingle docs can't intersect anything
    # so their absence is harmless). Deriving them from `sh.select(size(...))`
    # instead lets null-intolerant expressions above (floor in the rounded
    # jaccard) infer `isnotnull(size(<shingling>))`, which Catalyst pushes
    # below the repartition exchange — re-evaluating the whole shingling
    # expression twice on the unspread single input partition (measured
    # 1.9s → 3.9s on sf0.1).
    sizes = posting.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))

    left = join_posting.select(F.col("doc_id").alias("id_a"), "shingle")
    right = join_posting.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        left.join(right, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    with_sizes = (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("set_size", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("set_size", "size_b"), "id_b")
    )
    jaccard = F.col("intersection") / (F.col("size_a") + F.col("size_b") - F.col("intersection"))
    return (
        with_sizes.withColumn("jaccard", round_half_up(jaccard, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_filter_jaccard_pairs(df: DataFrame, tau_num: int = 3, tau_den: int = 5) -> DataFrame:
    """Exact Jaccard self-join with LOSSLESS prefix filtering — the
    high-threshold scale path beside ``ngram_jaccard_pairs``.

    SSJoin / All-Pairs prefix filtering (Chaudhuri, Ganti & Kaushik,
    ICDE'06; Bayardo, Ma & Srikant, WWW'07; prefix lemma as in Xiao et
    al.'s PPJoin): order each doc's shingle set by GLOBAL rarity
    ``(df(shingle) ASC, shingle ASC)``; if ``J(A,B) ≥ τ`` then
    ``|A∩B| ≥ α := max(⌈τ|A|⌉, ⌈τ|B|⌉)``, and any two sets overlapping
    in ≥ α elements must share a token inside their
    ``(|s| − α + 1)``-prefixes — so joining only the
    ``|s| − ⌈τ|s|⌉ + 1`` rarest shingles per doc (a superset of those
    prefixes) finds EVERY qualifying pair. Unlike the ``max_df`` hot-
    shingle prune (lossy lower bound) this drops no pairs; the candidate
    join posts only the RARE end of the df distribution, so bucket
    fanout is bounded by rare-shingle df instead of boilerplate df.
    A symmetric length filter (``τ|A| ≤ |B| ∧ τ|B| ≤ |A|``) prunes
    candidates before verification; verification joins each candidate
    pair's two shingle SETS and intersects in-row
    (candidate-proportional exchange, never corpus²).

    τ is an exact rational ``tau_num/tau_den`` so both the prefix length
    (``⌈τs⌉ = (tau_num·s + tau_den − 1) div tau_den``) and the final
    threshold (``tau_den·inter ≥ tau_num·union``) are pure integer
    decisions — no float-boundary drift between engines.

    Returns ``(id_a < id_b, intersection, union_size, jaccard)`` for all
    pairs with ``J ≥ τ``.
    """
    from pyspark.sql import Window

    sh = _shingled(df, "doc_id", "text", 3)
    posting = _posting(sh).localCheckpoint()  # 4 downstream refs: rank, sizes, verify ×2
    sizes = posting.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    dfreq = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    ceil_tau = (F.lit(tau_num) * F.col("set_size") + F.lit(tau_den - 1)).cast("long") / F.lit(
        tau_den
    )
    prefix_len = F.col("set_size") - F.floor(ceil_tau) + F.lit(1)
    ranked = (
        posting.join(dfreq, "shingle")
        .join(sizes, "doc_id")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.col("sdf"), F.col("shingle"))
            ),
        )
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", "shingle", "set_size", "pos")
    )
    # Candidate generation with the PPJoin POSITIONAL filter (Xiao et
    # al., WWW'08) on top of the symmetric length filter. Each doc's
    # rarity order is a restriction of the same global (sdf, shingle)
    # order, so the pair's FIRST shared token in global order attains
    # min(pos_a) and min(pos_b) simultaneously, and no shared token
    # precedes it — hence |A∩B| ≤ 1 + min(|A|−pa, |B|−pb). J ≥ τ needs
    # |A∩B| ≥ τ/(1+τ)·(|A|+|B|); requiring the upper bound to reach
    # that (pure integers: ubound·(num+den) ≥ num·(sa+sb)) is LOSSLESS
    # and prunes the dominant junk class — pairs of similar length that
    # share one rare-ish token late in their prefixes. Measured at the
    # 100k-doc scale point: 3.87M → 1.37M candidates (2.8×), which
    # directly shrinks the verify stage's array-payload exchange; with
    # the groupBy replacing the old distinct, query wall fell
    # 79.7 s → 22.3 s at 100k docs and the 50k→100k→200k wall curve is
    # ≤ the doc ratio (SCALE_EVIDENCE_r08).
    cand = (
        ranked.select(
            F.col("doc_id").alias("id_a"),
            "shingle",
            F.col("set_size").alias("size_a"),
            F.col("pos").alias("pos_a"),
        )
        .join(
            ranked.select(
                F.col("doc_id").alias("id_b"),
                "shingle",
                F.col("set_size").alias("size_b"),
                F.col("pos").alias("pos_b"),
            ),
            "shingle",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.lit(tau_num) * F.col("size_a") <= F.lit(tau_den) * F.col("size_b"))
            & (F.lit(tau_num) * F.col("size_b") <= F.lit(tau_den) * F.col("size_a"))
        )
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.min("pos_a").alias("pa"), F.min("pos_b").alias("pb"))
        .filter(
            (
                F.lit(1)
                + F.least(
                    F.col("size_a") - F.col("pa"), F.col("size_b") - F.col("pb")
                )
            )
            * F.lit(tau_num + tau_den)
            >= F.lit(tau_num) * (F.col("size_a") + F.col("size_b"))
        )
        .select("id_a", "id_b", "size_a", "size_b")
    )
    # Verification by per-doc shingle SETS + in-row array_intersect, not
    # by exploding each candidate against its full posting list: the
    # posting-expansion join shuffles |cand| x |doc shingles| narrow
    # rows (measured ~100M rows / 77 s at a 50k-doc scale test), while
    # this shape shuffles |cand| rows with one array per side and does
    # the intersection as JVM in-row compute (same pairs, 15.8 s) —
    # candidate-proportional exchange, per the module's scale contract.
    sets_ = posting.groupBy("doc_id").agg(F.collect_list("shingle").alias("sh_set"))
    inter = (
        cand.join(
            sets_.select(F.col("doc_id").alias("id_a"), F.col("sh_set").alias("sh_a")),
            "id_a",
        )
        .join(
            sets_.select(F.col("doc_id").alias("id_b"), F.col("sh_set").alias("sh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "size_a",
            "size_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("intersection"),
        )
    )
    union_size = F.col("size_a") + F.col("size_b") - F.col("intersection")
    return (
        inter.withColumn("union_size", union_size)
        .filter(F.lit(tau_den) * F.col("intersection") >= F.lit(tau_num) * F.col("union_size"))
        .select(
            "id_a",
            "id_b",
            F.col("intersection").cast("long").alias("intersection"),
            F.col("union_size").cast("long").alias("union_size"),
            round_half_up(F.col("intersection") / F.col("union_size"), 6).alias("jaccard"),
        )
    )


def snm_default_key() -> Column:
    """The default sorted-neighborhood sort key: whitespace-normalized
    lowercase text."""
    return F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")


def snm_reversed_key() -> Column:
    """Rotated SNM key: the REVERSED normalized text. A prefix edit
    (changed first words) moves a doc arbitrarily far in the default
    sort but leaves the reversed strings sharing a long prefix — the
    classic second merge/purge pass."""
    return F.reverse(snm_default_key())


def snm_token_sorted_key() -> Column:
    """Rotated SNM key: tokens sorted lexicographically. Word-order
    shuffles (a common duplication transform) map to the SAME key, so
    shuffled near-dups become sort-adjacent."""
    return F.concat_ws(" ", F.array_sort(F.split(snm_default_key(), " ")))


def sorted_neighborhood_pairs(
    df: DataFrame,
    window: int = 4,
    passes: list[Column] | None = None,
) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (Hernández & Stolfo's
    merge/purge) — the third classic blocking family beside LSH
    (`minhash_lsh_pairs`) and prefix filtering
    (`prefix_filter_jaccard_pairs`).

    Docs are keyed by each sort key in ``passes`` (default: one pass on
    the whitespace-normalized lowercase text); per pass, each block
    (first 12 chars of the key) is sorted and every doc is
    compared ONLY to its ``window − 1`` successors. Candidates from all
    passes are unioned (distinct) and verified ONCE with exact
    word-3-gram Jaccard ≥ τ = 1/2 (``array_intersect`` on the shingle sets —
    candidate-proportional, ≤ passes·(window−1)·|corpus| pairs by
    construction, never df²). A single pass trades recall for that
    HARD bound: near-dups whose sort keys land far apart (edits in the
    first words) are missed — production merge/purge runs MULTIPLE
    passes with rotated keys (`snm_reversed_key` catches prefix edits,
    `snm_token_sorted_key` catches word-order shuffles); LSH remains
    the recall-safe path. τ is an exact rational and every sort is
    totally ordered (key, doc_id), so the candidate set replays
    identically in the oracle.

    Scale: one per-block sort shuffle PER PASS (blocks are
    high-cardinality key prefixes — parallel), plus the candidate
    verify join; the shingle table is localCheckpointed once and shared
    by every pass's verify side, so multi-pass never re-shingles.
    """
    from pyspark.sql import Window

    if passes is None:
        passes = [snm_default_key()]
    if not passes:
        raise ValueError("sorted_neighborhood_pairs needs at least one pass key")
    base = _spread(df).select(
        "doc_id",
        *[p.alias(f"__key{i}") for i, p in enumerate(passes)],
        word_shingles("text", 3).alias("sh"),
    )
    if len(passes) > 1:
        # pass sorts + both verify sides all consume the shingled frame:
        # materialize it once instead of re-shingling per consumer
        base = base.localCheckpoint()
    sh_tbl = base.select("doc_id", "sh")

    cands: DataFrame | None = None
    for i in range(len(passes)):
        keyed = (
            base.select("doc_id", F.col(f"__key{i}").alias("sort_key"))
            .withColumn("block", F.substring("sort_key", 1, 12))
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("block").orderBy("sort_key", "doc_id")
                ),
            )
        )
        a = keyed.select("block", F.col("rn").alias("rn_a"), F.col("doc_id").alias("ida"))
        b = keyed.select("block", F.col("rn").alias("rn_b"), F.col("doc_id").alias("idb"))
        c = (
            a.join(b, "block")
            .filter(
                (F.col("rn_b") > F.col("rn_a"))
                & (F.col("rn_b") - F.col("rn_a") <= window - 1)
            )
            .select(
                F.least("ida", "idb").alias("id_a"),
                F.greatest("ida", "idb").alias("id_b"),
            )
        )
        cands = c if cands is None else cands.unionByName(c)
    if len(passes) > 1:
        cands = cands.distinct()  # a pair found by several passes verifies once

    pairs = cands.join(
        sh_tbl.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sha")), "id_a"
    ).join(sh_tbl.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("shb")), "id_b")
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    return (
        pairs.select(
            "id_a",
            "id_b",
            inter.cast("long").alias("intersection"),
            union.cast("long").alias("union_size"),
        )
        .filter(
            (F.col("union_size") > 0)
            & (F.lit(2) * F.col("intersection") >= F.lit(1) * F.col("union_size"))
        )
        .withColumn(
            "jaccard", round_half_up(F.col("intersection") / F.col("union_size"), 6)
        )
    )


def fuzzy_join(left: DataFrame, right: DataFrame, threshold: float = 0.3) -> DataFrame:
    """Two-TABLE fuzzy equi-join on text similarity (entity resolution /
    record linkage — e.g. scraped documents ↔ license metadata by
    title): word-n-gram Jaccard between every left/right pair sharing a
    shingle, via the same inverted-index machinery as
    :func:`ngram_jaccard_pairs`, but across two frames — the candidate
    join is posting(left) ⨝ posting(right), so candidates are
    data-proportional to shared shingles, never |L|×|R|.

    Returns (left_id, right_id, jaccard ≥ threshold). For asymmetric
    sizes, pass the SMALLER table as ``right`` — its posting list is the
    one a future optimization would broadcast.
    """
    # Each posting feeds two plan references (candidate join + set
    # sizes). Measured: recomputing the shingling per reference inside
    # ONE fused job beats eagerly materializing each posting first (two
    # serialized checkpoint jobs + cache write/read cost more than the
    # duplicate tokenize, interleaved A/B at sf0.1: ~1.9s vs ~2.5s) —
    # so no localCheckpoint here, unlike the 3-reference self-join case.
    lsh = _posting(_shingled(left, "doc_id", "text", 3)).select(
        F.col("doc_id").alias("left_id"), "shingle"
    )
    rsh = _posting(_shingled(right, "doc_id", "text", 3)).select(
        F.col("doc_id").alias("right_id"), "shingle"
    )
    sizes_l = lsh.groupBy("left_id").agg(F.count(F.lit(1)).alias("size_l"))
    sizes_r = rsh.groupBy("right_id").agg(F.count(F.lit(1)).alias("size_r"))
    inter = (
        lsh.join(rsh, "shingle")
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    with_sizes = inter.join(sizes_l, "left_id").join(sizes_r, "right_id")
    jaccard = F.col("intersection") / (
        F.col("size_l") + F.col("size_r") - F.col("intersection")
    )
    return (
        with_sizes.withColumn("jaccard", round_half_up(jaccard, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", "jaccard")
    )


def minhash_signatures(df: DataFrame, n: int = 3, num_perm: int = 64) -> DataFrame:
    """MinHash signatures: num_perm column-wise minima of affine-permuted
    shingle hashes. One explode + one groupBy; signature size is fixed per
    doc regardless of document length — the property that makes this the
    scale path for 100 TB dedup."""
    sh = _shingled(df, "doc_id", "text", n)
    posting = _posting(sh)
    # Materialize the base hash ONCE per posting row (xxhash64 → pmod
    # keeps it in the field); referencing it inline in the 64 min-agg
    # expressions would re-hash the shingle 64× per row (measured 2×
    # slower on the signature stage).
    base = F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE_P))
    hashed = posting.select("doc_id", base.alias("__h"))
    aggs, signature = _minhash_t(num_perm)
    sig = hashed.groupBy("doc_id").agg(*aggs)
    return sig.select("doc_id", signature.alias("signature"))


@template
def _minhash_t(num_perm: int) -> tuple:
    """The num_perm affine-permutation min-aggregates over ``__h``
    (~500 py4j round-trips to build) and the array packing them into
    one signature."""
    aggs = tuple(
        F.min(F.pmod(F.lit(a) * F.col("__h") + F.lit(b), F.lit(_MERSENNE_P))).alias(f"h{i}")
        for i, (a, b) in enumerate(_perm_params(num_perm))
    )
    return aggs, F.array(*[f"h{i}" for i in range(num_perm)])


def band_posting(sig: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(doc_id, band, bucket) posting from a signature frame: the LSH
    index rows. Band hash = xxhash64 of the band's row slice; docs share
    a bucket iff every permutation in that band agrees."""
    hashes, explode = _band_t(num_perm, bands)
    banded = sig.select("doc_id", *hashes)
    return banded.select("doc_id", explode).select("doc_id", "bb.band", "bb.bucket")


@template
def _band_t(num_perm: int, bands: int) -> tuple:
    """Per-band slice hashes of ``signature`` and the explode of them
    into (band, bucket) rows."""
    rows = num_perm // bands
    hashes = tuple(
        F.xxhash64(
            F.concat_ws(",", *[F.col("signature")[b * rows + r].cast("string") for r in range(rows)])
        ).alias(f"band{b}")
        for b in range(bands)
    )
    explode = F.explode(
        F.array(
            *[F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket")) for b in range(bands)]
        )
    ).alias("bb")
    return hashes, explode


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.3,
    verify: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: band the signature (bands × rows),
    bucket-join docs sharing any band hash, then (optionally) verify
    candidates with exact Jaccard and keep pairs ≥ threshold.

    With 64 perms / 16 bands / 4 rows the S-curve crosses ~50% recall at
    J ≈ (1/16)^(1/4) ≈ 0.5 and is near-1 for J ≥ 0.7; verification makes
    precision exact. At scale, candidates per bucket are bounded by band
    collisions, not corpus size — EXCEPT when boilerplate concentrates a
    corpus slice into one bucket; set ``max_bucket`` (see
    :func:`prune_hot_buckets`) to cap per-bucket membership and keep the
    candidate join linear. Default ``None`` = exact enumeration.
    """
    sig = minhash_signatures(df)
    melted = prune_hot_buckets(band_posting(sig, 64, 16), ["band", "bucket"], max_bucket)
    pairs = (
        melted.alias("l")
        .join(melted.alias("r"), ["band", "bucket"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"))
        .distinct()
    )
    if not verify:
        return pairs
    # Verify ONLY the candidates: join their shingle sets back and compute
    # exact Jaccard via array_intersect — O(candidates), never the full
    # posting-list self-join (that's what LSH is here to avoid).
    sh = _shingled(df, "doc_id", "text", 3)
    a_side = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("__sa"))
    b_side = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("__sb"))
    inter = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    jaccard = inter / (F.size("__sa") + F.size("__sb") - inter)
    return (
        pairs.join(a_side, "id_a")
        .join(b_side, "id_b")
        .withColumn("jaccard", round_half_up(jaccard, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def incremental_minhash_neardup(
    df: DataFrame,
    incoming: Column,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Incremental NEAR-dup detection: probe an incoming batch against
    the historical corpus' LSH band index — the fuzzy twin of the exact
    anti-join in ``workload_analytic.docs_incremental_new``.

    ``incoming`` is a boolean Column splitting ``df`` into the new batch
    (true) and the historical corpus (false). Signatures are computed in
    one pass over the union; the band join is strictly incoming ×
    historical (never incoming² or historical²), so per-increment work is
    proportional to the BATCH, not the corpus. Candidates are verified
    with exact Jaccard, keeping pairs ≥ ``threshold``.

    At 100 TB the historical side is a persisted band index — (band,
    bucket, doc_id), 16 rows/doc, bucketed by (band, bucket) — plus a
    shingle-set table for verification; each increment hashes only its
    own docs and probes the index shuffle-free on the corpus side.

    Output: (doc_id [incoming], match_id [historical], jaccard).
    """
    if num_perm % bands:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    marked = df.withColumn("__incoming", incoming)
    sig = minhash_signatures(marked, num_perm=num_perm)
    flags = marked.select("doc_id", "__incoming")
    # Both probe sides filter this frame; localCheckpoint so the 64-hash
    # signature pass runs once, not once per side (bands rows/doc — tiny).
    # The hot-bucket cap counts BOTH sides together: the hazard is a hot
    # historical bucket multiplying every probe that lands in it.
    melted = prune_hot_buckets(
        band_posting(sig, num_perm, bands).join(flags, "doc_id").localCheckpoint(),
        ["band", "bucket"],
        max_bucket,
    )
    new_side = melted.filter(F.col("__incoming")).select("doc_id", "band", "bucket")
    hist_side = melted.filter(~F.col("__incoming")).select(
        F.col("doc_id").alias("match_id"), "band", "bucket"
    )
    cand = new_side.join(hist_side, ["band", "bucket"]).select("doc_id", "match_id").distinct()
    sh = _shingled(marked, "doc_id", "text", 3)
    a_side = sh.select(F.col("doc_id"), F.col("shingles").alias("__sa"))
    b_side = sh.select(F.col("doc_id").alias("match_id"), F.col("shingles").alias("__sb"))
    inter = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    jaccard = inter / (F.size("__sa") + F.size("__sb") - inter)
    return (
        cand.join(a_side, "doc_id")
        .join(b_side, "match_id")
        .withColumn("jaccard", round_half_up(jaccard, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id", "match_id", "jaccard")
    )


def portable_token_hash(col: Column) -> Column:
    """SQL-portable token hash: left fold of codepoints,
    h = (h·131 + cp) mod (2³¹−1). Interpreted (higher-order fold), so
    slower than xxhash64 — use it when a DuckDB oracle must replicate
    signatures bit-for-bit (DuckDB twin:
    ``list_reduce(list_prepend(0, list_transform(string_split(t, ''),
    c -> greatest(unicode(c), 0))), (acc, x) -> (acc*131 + x) % 2147483647)``;
    ``greatest(…, 0)`` aligns DuckDB's unicode('') = −1 with Spark's
    ascii('') = 0). Arithmetic stays < 2⁴⁰ so ANSI long math never
    overflows."""
    codes = F.transform(F.split(col, ""), lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(131) + x) % F.lit(_MERSENNE_P),
    )


def simhash_signatures(df: DataFrame, bits: int = 32, token_hash=None) -> DataFrame:
    """SimHash: sign of the per-bit sum of token hash bits (+1/−1),
    packed into a single long. One explode + groupBy with `bits` sums.
    ``token_hash`` (Column → Column) overrides the xxhash64 default —
    pass ``portable_token_hash`` for a DuckDB-replicable signature
    (cap ``bits`` at 31 with it: values are mod 2³¹−1)."""
    posting = _posting(
        _spread(df).select("doc_id", tokens("text").alias("toks")),
        array_col="toks",
        out_col="token",
    ).filter(
        # split of trimmed empty text yields [''] — without this filter
        # every empty/whitespace doc gets a signature from the phantom
        # '' token and all empty docs pair at hamming 0, ONE mega-bucket
        # per band at corpus scale (review r10; mirrors the empty-doc
        # contract tfidf_cosine_pairs documents)
        F.col("token") != ""
    )
    sums, packed = _simhash_t(bits, token_hash)
    summed = posting.groupBy("doc_id").agg(*sums)
    return summed.select("doc_id", packed.alias("simhash"))


@template
def _simhash_t(bits: int, token_hash) -> tuple:
    """Per-bit ±1 sum aggregates of the token hash and the expression
    packing their signs into one long. ``token_hash`` is part of the
    key, so pass a module-level function (``portable_token_hash``) or
    None for cache hits."""
    h = token_hash(F.col("token")) if token_hash is not None else F.xxhash64("token")
    sums = tuple(
        F.sum(F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{j}")
        for j in range(bits)
    )
    packed = None
    for j in range(bits):
        # bit 63 is the long's sign bit: 1 << 63 overflows a jlong
        # literal, but ADDING Long.MIN_VALUE sets exactly that bit in
        # two's complement (no other term reaches it) — full 64-bit
        # signatures pack correctly, they just read as negative longs
        weight = F.lit(-(1 << 63)) if j == 63 else F.lit(1 << j)
        term = F.when(F.col(f"b{j}") > 0, weight).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return sums, packed.cast("long")


# Default per-(band, chunk) bucket cap for simhash_pairs: the value the
# scale harness measured linear at 10x-20x corpus size
# (SCALE_EVIDENCE_r08: 126k -> 1.05M candidates, vs 2.45M -> 52M
# uncapped). A naive production call must get the linear rail; pass
# max_bucket=None explicitly for exact (oracle-checked) enumeration.
SIMHASH_DEFAULT_MAX_BUCKET = 64


def simhash_pairs(
    df: DataFrame,
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
    token_hash=None,
    max_bucket: int | None = SIMHASH_DEFAULT_MAX_BUCKET,
    verify: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs: band the signature into `bands` chunks
    (pigeonhole: hamming ≤ bands−1 guarantees an identical chunk), join on
    chunk equality, verify with ``bit_count(xor) ≤ max_hamming``.

    ``max_bucket`` caps per-(band, chunk) membership before the
    self-join (see :func:`prune_hot_buckets`) — with only ``chunk``-bit
    keys, bucket crowding sets in far sooner than for MinHash bands, so
    this guard matters even at moderate corpus sizes. It is ON BY
    DEFAULT (``SIMHASH_DEFAULT_MAX_BUCKET``): the default banding was
    measured quadratic-by-occupancy without it (SCALE_EVIDENCE_r08), so
    the production entry point defaults to the linear rail. RECALL
    TRADE: a pair is lost only when EVERY band the two docs agree on is
    over-cap — overwhelmingly boilerplate mega-clusters, which a corpus
    build removes with exact dedup first; ``prune_hot_buckets`` logs a
    WARNING with the dropped-bucket count whenever anything is pruned.
    Pass ``max_bucket=None`` explicitly for exact candidate enumeration
    (the oracle-checked `dedup_simhash` query does).

    SCALE CONTRACT (measured, SCALE_EVIDENCE_r08): banded candidate
    volume is Σ_buckets C(size,2) ≈ bands·n²/2^(chunk+1) — QUADRATIC in
    corpus size once buckets hold more than a few docs. The 32-bit
    uncapped variant (8-bit chunks = 256 buckets/band) measured 2.45M →
    52M candidates from 5k → 50k docs; at 100 TB it is unusable. The
    scale configuration is ``bits=64, bands=4`` (16-bit chunks) WITH the
    ``max_bucket`` cap, which bounds candidates to
    occupied_buckets·C(cap,2) — measured linear (126k → 1.05M over the
    same 10×) with verified pairs also ~linear. Use ``max_bucket=None``
    only for small-corpus interactive runs or oracle replay.

    ``verify=False`` returns the DISTINCT banded candidate pairs with
    their hamming distance but WITHOUT the ``max_hamming`` filter — the
    scale harness uses it to assert candidate volume (what the banding
    actually exchanges) separately from emitted-pair volume (which may
    legitimately grow superlinearly when near-dup clusters densify)."""
    sig = simhash_signatures(df, bits=bits, token_hash=token_hash)
    return hamming_banded_pairs(
        sig,
        sig_col="simhash",
        bits=bits,
        bands=bands,
        max_hamming=max_hamming,
        max_bucket=max_bucket,
        verify=verify,
        what="simhash chunk",
    )


def banded_chunks(
    sig: DataFrame,
    sig_col: str = "simhash",
    bits: int = 32,
    bands: int = 4,
) -> DataFrame:
    """Band decomposition of a packed bit signature: one row per
    (doc, band) with the band's chunk value — (doc_id, __sig, band,
    chunk). The shared banding primitive under
    :func:`hamming_banded_pairs` AND the streaming phash index
    (`streaming/neardup_index.py` posts exactly these rows), so batch
    and stream can never disagree on bucket keying."""
    chunk = bits // bands
    if chunk > 62:
        raise ValueError(
            f"bits/bands = {chunk} > 62: the chunk mask must fit a jlong "
            "literal — use at least 2 bands for 64-bit signatures"
        )
    mask = (1 << chunk) - 1
    # two projections: the explode must not lateral-reference an alias
    # minted in its own select list
    base = sig.select("doc_id", F.col(sig_col).alias("__sig"))
    return base.select(
        "doc_id",
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        # UNSIGNED shift: a 64-bit signature with bit 63
                        # set is a negative long, and an arithmetic
                        # shift would smear sign bits into every high
                        # chunk (cross-band bucket corruption)
                        F.shiftrightunsigned(F.col("__sig"), b * chunk)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bc"),
    ).select("doc_id", "__sig", "bc.band", "bc.chunk")


def hamming_banded_pairs(
    sig: DataFrame,
    sig_col: str = "simhash",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = SIMHASH_DEFAULT_MAX_BUCKET,
    verify: bool = True,
    what: str = "hamming chunk",
) -> DataFrame:
    """Near-dup pairs of ANY packed bit signature (SimHash, perceptual
    image aHash/dHash, …) by banded Hamming join: split the signature
    into ``bands`` chunks, join on chunk equality (pigeonhole: hamming
    <= bands-1 guarantees an identical chunk), verify with
    ``bit_count(xor) <= max_hamming``. This is :func:`simhash_pairs`'s
    engine, factored out so every 64-bit-signature family shares ONE
    banding implementation — including the ``max_bucket`` linear rail
    and its measured scale contract (see simhash_pairs' docstring; the
    cap, recall trade, and WARNING logging apply verbatim here).
    Returns (id_a, id_b, hamming) with id_a < id_b."""
    banded = banded_chunks(sig, sig_col, bits, bands)
    banded = prune_hot_buckets(banded, ["band", "chunk"], max_bucket, what=what)
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(r, ["band", "chunk"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            F.bit_count(F.col("l.__sig").bitwiseXOR(F.col("r.__sig"))).alias("hamming"),
        )
    )
    if not verify:
        return cand.distinct()
    return cand.filter(F.col("hamming") <= max_hamming).distinct()


def tfidf_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.3,
    max_df_ratio: float = 0.5,
) -> DataFrame:
    """TF-IDF cosine document-similarity pairs via weighted
    inverted-index join with stopword (max-df) vocabulary pruning.

    Weight(d, t) = tf(d,t) · ln(N / df(t)); score(a,b) =
    Σ_t w_a·w_b / (‖w_a‖·‖w_b‖). Same data-proportional posting-join
    shape as ngram_jaccard_pairs but with weighted postings — corpus
    stats (df, N) are tiny aggregates joined back (N as a one-row
    broadcast, no driver-side count action).

    Tokens with df > max_df_ratio·N are dropped from the vocabulary
    BEFORE norms and the posting self-join (sklearn ``max_df``
    semantics). This is the scale guard: a near-universal token
    generates ~df² join pairs while carrying idf ≈ 0 signal — on the
    sf0.1 corpus the unpruned join is 448M pair-rows (238 s) vs 62.5k
    (sub-second) with the cap. Zero-idf tokens (df = N) are likewise
    dropped: their weight is exactly 0 on both sides of every product.
    Documents whose entire vocabulary is pruned have zero norm and are
    excluded (cosine undefined). Returns (id_a < id_b, score ≥ τ).
    """
    tok = (
        _spread(df)
        .select(
            "doc_id",
            F.explode_outer(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"),
        )
        # split('') yields [''] — without the emptiness filter every
        # empty/whitespace-only doc carries one phantom '' token and all
        # such docs pair at cosine 1.0 (the n-gram paths emit nothing
        # for them; the two dedup families must agree on empty docs)
        .filter(F.col("token").isNotNull() & (F.col("token") != ""))
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs))
        # Vocabulary pruning BEFORE the self-join: cap near-universal
        # tokens (df² fanout, ~zero idf weight) and exact zero-idf
        # tokens (df = N ⇒ w = 0 ⇒ contributes nothing to dot or norm).
        .filter(
            (F.col("df") <= F.lit(max_df_ratio) * F.col("n_docs"))
            & (F.col("df") < F.col("n_docs"))
        )
        .select(
            "doc_id",
            "token",
            # weights QUANTIZED to 6dp fixed-point integers: norm and dot
            # sums are then exact decimal arithmetic — order-independent
            # at any partitioning (and in the oracle) with none of the
            # cost of an ordered float fold. The 1e6 scales cancel in the
            # final cosine, so quantization shifts scores by < 1e-5.
            F.floor(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")) * 1e6
                + F.lit(0.5)
            )
            .cast("decimal(18,0)")
            .alias("wq"),
        )
        # four downstream references (left/right posting sides + both
        # norm joins): Catalyst shares no subplans, so without this the
        # corpus-wide tokenize + tf/df aggregates run four times (same
        # rationale as semantic_dedup / incremental_minhash_neardup)
        .localCheckpoint()
    )
    norms = w.groupBy("doc_id").agg(
        F.sum((F.col("wq") * F.col("wq")).cast("decimal(38,0)")).alias("norm2")
    )
    left = w.select(F.col("doc_id").alias("id_a"), "token", F.col("wq").alias("w_a"))
    right = w.select(F.col("doc_id").alias("id_b"), "token", F.col("wq").alias("w_b"))
    dots = (
        left.join(right, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum((F.col("w_a") * F.col("w_b")).cast("decimal(38,0)")).alias("dot"))
    )
    with_norms = (
        dots.join(norms.select(F.col("doc_id").alias("id_a"), F.col("norm2").alias("norm2_a")), "id_a")
        .join(norms.select(F.col("doc_id").alias("id_b"), F.col("norm2").alias("norm2_b")), "id_b")
        .filter((F.col("norm2_a") > 0) & (F.col("norm2_b") > 0))
    )
    score = F.col("dot").cast("double") / (
        F.sqrt(F.col("norm2_a").cast("double")) * F.sqrt(F.col("norm2_b").cast("double"))
    )
    return (
        with_norms.withColumn("score", round_half_up(score, 6))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def keep_best_canonical(components: DataFrame, quality: DataFrame) -> DataFrame:
    """Canonical-document selection: given a (doc → component) labeling
    (from ``graph.connected_components`` over near-dup pairs) and a
    per-document quality score, keep exactly ONE document per cluster —
    the highest-quality member, ties broken by lowest id so reruns are
    stable. Singleton documents are their own cluster and survive
    unchanged, so the output IS the post-dedup keep-list.

    This is the last step of the standard near-dup dedup recipe for
    training corpora (pairs → clusters → keep-best): see the reference's
    dedup aspiration at a pairs-only level; cluster-then-select is the
    form a 100 TB corpus build actually ships.

    One shuffle: the component join is a plain equi-join on ``doc_id``
    (broadcast when quality is a thin projection), and rank + member
    count share one window partitioning on the component label.

    The quality join is LEFT: a document missing from the quality frame
    (quality computed on a filtered subset) still exists in its cluster
    — an inner join would silently delete it from the keep-list, and a
    singleton cluster would vanish entirely. Scoreless members rank
    LAST (``desc_nulls_last``), so they are kept only when the whole
    cluster is scoreless (best_quality then null).
    """
    from pyspark.sql import Window

    j = components.join(quality, "doc_id", "left")
    w = Window.partitionBy("component")
    ranked = j.withColumn(
        "__rn",
        F.row_number().over(
            w.orderBy(F.col("quality").desc_nulls_last(), F.col("doc_id").asc())
        ),
    ).withColumn("members", F.count(F.lit(1)).over(w))
    return (
        ranked.filter(F.col("__rn") == 1)
        .select(
            F.col("component"),
            F.col("doc_id").alias("canonical_id"),
            F.col("quality").alias("best_quality"),
            F.col("members").cast("long").alias("members"),
        )
    )


def cross_doc_span_coverage(df: DataFrame, n: int = 8) -> DataFrame:
    """Cross-document span repetition: per document, the fraction of its
    token n-gram windows that also occur in at least one OTHER document.
    This is the signal behind span-level dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" — their
    suffix-array substring match, re-expressed as fixed-width window
    postings): high coverage ⇒ the doc is mostly boilerplate shared with
    the rest of the corpus, even when no single whole-document pair is a
    near-dup.

    Shape: explode windows (positions kept — repeats within a doc count
    per occurrence), one shuffle to compute per-window document
    frequency, one postings join back (each window row meets exactly one
    df row — data-proportional, never pairwise), one per-doc aggregate.
    The window frame is referenced twice (df aggregation + join-back);
    re-tokenizing on the second pass is cheaper at scale than
    checkpointing the full corpus×windows explosion.

    Documents with fewer than ``n`` tokens have no windows and are
    omitted (mirrored by the oracle).

    Output: (doc_id, n_windows, n_dup_windows, dup_frac).
    """
    toks = df.select("doc_id", tokens("text").alias("__t")).filter(
        F.size("__t") >= n
    )
    windows = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("__t") - n),
                lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i + 1, n)),
            )
        ).alias("w"),
    )
    df_counts = windows.groupBy("w").agg(F.count_distinct("doc_id").alias("__df"))
    counted = windows.join(df_counts, "w")
    return counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.count_if(F.col("__df") >= 2).alias("n_dup_windows"),
        round_half_up(
            F.count_if(F.col("__df") >= 2) / F.count(F.lit(1)), 4
        ).alias("dup_frac"),
    )


def max_dup_span(df: DataFrame, n: int = 8) -> DataFrame:
    """Longest contiguous duplicated span per document — the actionable
    half of span-level dedup (Lee et al. 2021 cut the duplicated
    substring, not the document): where `cross_doc_span_coverage` says
    HOW MUCH of a doc is shared, this locates the biggest block of it
    as a token length you can cut against a threshold.

    A window (fixed n-gram) is duplicated when it occurs in ≥ 2
    documents; consecutive duplicated windows merge into one span via
    gaps-and-islands (pos − row_number() per doc — positions are unique
    per doc, so the grouping is deterministic), and a run of r windows
    covers r + n − 1 tokens. Semantics of the merge: every n-gram of
    the span is shared with SOME other document, but adjacent windows
    may match different partners, so the span length UPPER-BOUNDS the
    longest single-partner block (it is exact when one partner covers
    the run, the common boilerplate case). That is the right contract
    for cut-candidate flagging; per-partner exactness would need
    partner-keyed postings (pairwise in the worst case) for a signal
    the threshold decision rarely changes on. Same plan skeleton as span coverage: one
    window-frequency shuffle, one postings join back, one per-doc
    window aggregate — all integer counts, exact under any
    partitioning. Docs shorter than ``n`` tokens have no windows and
    are omitted; docs with no duplicated window report zeros.

    Output: (doc_id, n_windows, max_dup_run, max_span_tokens).
    """
    from pyspark.sql import Window

    toks = df.select(
        "doc_id", tokens("text").alias("__t")
    ).filter(F.size("__t") >= n)
    windows = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("__t") - n),
                lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i + 1, n)),
            )
        ).alias("pos", "w"),
    )
    df_counts = windows.groupBy("w").agg(F.count_distinct("doc_id").alias("__df"))
    dup = windows.join(df_counts, "w").filter(F.col("__df") >= 2)
    isl = dup.withColumn(
        "__grp",
        F.col("pos") - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    best = (
        isl.groupBy("doc_id", "__grp")
        .agg(F.count(F.lit(1)).alias("run"))
        .groupBy("doc_id")
        .agg(F.max("run").alias("max_dup_run"))
    )
    # n_windows is size(__t) − n + 1 by construction (the transform
    # generates exactly that many windows per doc), so the per-doc
    # total is a pure projection of the token frame — the previous
    # windows.groupBy(doc_id).count() re-ran the whole window explode a
    # third time AND paid a corpus-sized count shuffle for a value the
    # token array already knows (r11 optimization: one corpus explode
    # pass + one exchange removed at any scale).
    totals = toks.select(
        "doc_id", (F.size("__t") - n + 1).cast("long").alias("n_windows")
    )
    run = F.coalesce(F.col("max_dup_run"), F.lit(0))
    return totals.join(best, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        run.cast("long").alias("max_dup_run"),
        F.when(run > 0, run + n - 1).otherwise(F.lit(0)).cast("long").alias(
            "max_span_tokens"
        ),
    )


def segment_posting(df: DataFrame) -> DataFrame:
    """(doc_id, pos, segment) posting of 8-token segments —
    the unit of paragraph/line-level dedup. Real corpora segment on a
    structural delimiter (newline / double-newline); for delimiter-free
    text this fixed-width chunking is the deterministic fallback, and
    the downstream keep-first semantics are identical either way.
    Pure JVM expressions (split / transform / slice / posexplode)."""
    toks = df.select(
        "doc_id",
        F.filter(tokens("text"), lambda t: t != F.lit("")).alias("__t"),
    )
    n_seg = F.ceil(F.size("__t") / F.lit(8)).cast("int")
    segs = F.when(
        F.size("__t") > 0,
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i * 8 + 1, 8)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select("doc_id", F.posexplode(segs).alias("pos", "segment"))


def segment_dedup(df: DataFrame) -> DataFrame:
    """Paragraph/line-level dedup with document reconstruction (the
    CCNet line-dedup shape, Wenzek et al. 2020 §3.1: drop every repeated
    paragraph, keep its globally-first occurrence): a segment survives
    iff it is the first occurrence of its content in (doc_id, pos)
    order; each document is rebuilt from its surviving segments.

    Two shuffles: (1) keeper selection — ``min(struct(doc_id, pos))``
    per segment content; a PARTIAL-AGGREGABLE min, so a boilerplate
    segment repeated in millions of docs collapses map-side instead of
    landing on one reducer the way a segment-partitioned row_number
    window would (at 100 TB group by a segment fingerprint instead to
    shuffle 16-byte keys, trading a negligible collision probability
    for ~1× corpus shuffle volume); (2) per-doc rebuild (collect
    surviving segments, sort by pos). Both are hash exchanges; no
    global sort, no skew-prone window.

    Output: (doc_id, n_segments, n_kept, dedup_text) — docs whose every
    segment was seen earlier rebuild to ''.
    """
    posting = segment_posting(df)
    # struct comparison is lexicographic field-by-field, so the min IS
    # the globally-first (doc_id, pos) occurrence of each segment.
    kept = (
        posting.groupBy("segment")
        .agg(F.min(F.struct("doc_id", "pos")).alias("__first"))
        .select(
            F.col("__first.doc_id").alias("doc_id"),
            F.col("__first.pos").alias("pos"),
            "segment",
        )
    )
    totals = posting.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segments"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "segment"))),
                lambda s: s.getField("segment"),
            ),
        ).alias("dedup_text"),
    )
    ids = df.select("doc_id")
    return (
        ids.join(totals, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segments", F.lit(0).cast("long")).alias("n_segments"),
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
        )
    )
