"""Deterministic Bloom-filter runtime pre-filter for big joins.

The 100 TB join problem is rarely the join itself — it is shuffling a
fact table whose overwhelming majority of rows cannot match the other
side. Engines solve it with runtime filters (Spark's own
``spark.sql.optimizer.runtime.bloomFilter.enabled`` injects one when
statistics justify it); this module is the EXPLICIT, deterministic
version an operator author can place and test:

  1. ``bloom_filter_words``: aggregate the (small) build side's keys
     into a fixed-size bitmap — ``n_hashes`` positions per key from
     seeded ``xxhash64``, OR-ed into ``n_bits/64`` longs by ONE
     map-side-combined groupBy. The bitmap size is a constant chosen
     up front, independent of corpus size, so collecting it is bounded
     control state (like k-means centroids), not data-proportional.
  2. ``bloom_might_contain``: a pure-JVM predicate over the collected
     bitmap literal — each probe is ``element_at(lit_words, pos/64)
     & (1 << pos%64)``. No UDF, no join, no shuffle: the predicate
     evaluates inside the fact scan's WholeStageCodegen, BEFORE any
     exchange, which is the entire point.
  3. ``bloom_semi_join``: prefilter + EXACT semi join. The Bloom pass
     only removes guaranteed-non-members; false positives are removed
     by the exact join, so the result is bit-identical to a plain semi
     join (the oracle property) while the shuffle carries only
     ~|matches| + ε·|facts| rows instead of |facts|.

Sizing: false-positive rate ≈ (1 − e^(−kn/m))^k with k hashes, n keys,
m bits; the default 2²⁰ bits / 5 hashes holds ~10⁵ keys at ≲3% FP. At
larger build sides, raise ``n_bits`` (the literal grows as m/64 longs —
2²³ bits is a 128 KiB plan constant, still fine) or pre-partition both
sides instead; the build aggregation itself scales to any key count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_N_BITS = 1 << 20
DEFAULT_N_HASHES = 5

# splitmix64-scrambled per-hash seeds (operators/prng.py convention):
# xxhash64's seed argument must differ per probe or all probes collapse
_SEED_BASE = 0x9E3779B97F4A7C15


def _positions(key: Column, n_bits: int, n_hashes: int) -> list[Column]:
    return [
        F.pmod(F.xxhash64(key, F.lit(i * _SEED_BASE % (1 << 31))), F.lit(n_bits))
        for i in range(n_hashes)
    ]


def bloom_filter_words(
    df: DataFrame,
    key_col: str,
    n_bits: int = DEFAULT_N_BITS,
    n_hashes: int = DEFAULT_N_HASHES,
) -> list[int]:
    """Build the bitmap: ``n_bits/64`` longs (Python ints), OR-combined
    distributively. One explode (n_hashes rows/key, collapsing map-side
    to ≤ n_bits/64 distinct words per partition) + one shuffle of word
    partials + a bounded collect of ≤ n_bits/64 rows."""
    if n_bits % 64:
        raise ValueError(f"n_bits must be a multiple of 64, got {n_bits}")
    key = F.col(key_col)
    pos = F.explode(F.array(*_positions(key, n_bits, n_hashes))).alias("pos")
    words = (
        df.filter(key.isNotNull())
        .select(pos)
        .select(
            (F.col("pos") / 64).cast("long").alias("word_idx"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), F.pmod(F.col("pos"), F.lit(64)).cast("int")
            ).alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    out = [0] * (n_bits // 64)
    for r in words:
        out[int(r["word_idx"])] = int(r["bits"])
    return out


def bloom_might_contain(
    words: list[int],
    key: Column,
    n_hashes: int = DEFAULT_N_HASHES,
) -> Column:
    """Pure-JVM membership predicate over the bitmap literal: true iff
    every probe bit is set (false ⇒ definitely absent). Evaluates inside
    the scan's codegen stage — place it BEFORE the join so the exchange
    never sees pruned rows.

    Literal-construction matters at this size (measured on a 150k-row
    scan, 2^20 bits): ``F.lit(list)``/``F.array(*lits)`` pay py4j
    per-element — 7-30 s of DRIVER time per plan build — so the bitmap
    goes through ONE ``F.expr("array(...)")`` parse (~30 ms), and the
    ``forall`` lambda references that literal once instead of
    duplicating it per probe. (A hex-string literal + substr probe was
    also rejected: UTF8String charAt is O(position) — 70 s/200k rows.)
    """
    n_bits = len(words) * 64
    arr = F.expr("array(" + ",".join(f"{int(w)}L" for w in words) + ")")
    probes = F.array(*_positions(key, n_bits, n_hashes))

    def bit_set(pos: Column) -> Column:
        word = F.element_at(arr, (pos / 64).cast("int") + 1)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.pmod(pos, F.lit(64)).cast("int")
        )
        return word.bitwiseAND(mask) != 0

    return F.forall(probes, bit_set)


def bloom_semi_join(
    facts: DataFrame,
    build: DataFrame,
    fact_key: str,
    build_key: str | None = None,
    n_bits: int = DEFAULT_N_BITS,
) -> DataFrame:
    """Semi join with a Bloom runtime pre-filter: scan-side prune of
    guaranteed-non-members, then the EXACT left_semi join (which also
    removes the Bloom's false positives). Result is bit-identical to
    ``facts.join(build, ..., "left_semi")`` — the oracle property — but
    the shuffle/broadcast input is the pruned fact side."""
    build_key = build_key or fact_key
    fact_type = dict(facts.dtypes)[fact_key]
    build_type = dict(build.dtypes)[build_key]
    if fact_type != build_type:
        # xxhash64 is TYPE-sensitive (hash(5 as int) != hash(5L)) while
        # the exact join would coerce — mismatched dtypes would prune
        # every genuine member as a "guaranteed non-member" and silently
        # return nothing. Refuse loudly; the caller casts explicitly.
        raise ValueError(
            f"bloom_semi_join key dtypes must match exactly: "
            f"facts.{fact_key} is {fact_type}, build.{build_key} is {build_type} "
            "(cast one side first — xxhash64 membership is type-sensitive)"
        )
    words = bloom_filter_words(build, build_key, n_bits, DEFAULT_N_HASHES)
    pruned = facts.filter(bloom_might_contain(words, F.col(fact_key), DEFAULT_N_HASHES))
    return pruned.join(
        build.select(F.col(build_key).alias(fact_key)).distinct(),
        fact_key,
        "left_semi",
    )


def bloom_anti_join(
    facts: DataFrame,
    build: DataFrame,
    fact_key: str,
    build_key: str | None = None,
    n_bits: int = DEFAULT_N_BITS,
) -> DataFrame:
    """``facts LEFT ANTI JOIN build`` with the BUILD side Bloom-pruned —
    the dual of :func:`bloom_semi_join`, and the incremental-ingest-dedup
    shape: ``facts`` is the SMALL new increment, ``build`` the HUGE
    history (every fingerprint ever ingested).

    The bitmap is built on the *fact* keys (bounded: the increment is
    the small side) and probed inside the *history* scan. Bloom has no
    false negatives, so a history row whose probe misses cannot equal
    any increment key — dropping it before the join can never change
    which fact rows find a match. The join's right side shrinks from
    |history| to ~|history∩increment| + ε·|history| while the result
    stays bit-identical to the plain ``left_anti`` (the oracle
    property). False positives survive the prune and are discarded by
    the exact join; fact rows with NULL keys match nothing and are kept,
    exactly as a plain anti join keeps them.

    Scan economics at 100 TB: the increment is scanned twice (once to
    build the kilobyte bitmap, once to join) — it is small; the history
    is scanned ONCE with the probe predicate inside its scan's
    WholeStageCodegen, so the exchange never carries the ~100% of
    history fingerprints that no new doc collides with."""
    build_key = build_key or fact_key
    fact_type = dict(facts.dtypes)[fact_key]
    build_type = dict(build.dtypes)[build_key]
    if fact_type != build_type:
        # same loud-failure contract as bloom_semi_join: xxhash64 is
        # type-sensitive, so a dtype mismatch would prune every genuine
        # match out of the build side and silently return ALL facts.
        raise ValueError(
            f"bloom_anti_join key dtypes must match exactly: "
            f"facts.{fact_key} is {fact_type}, build.{build_key} is {build_type} "
            "(cast one side first — xxhash64 membership is type-sensitive)"
        )
    words = bloom_filter_words(facts, fact_key, n_bits, DEFAULT_N_HASHES)
    pruned_build = build.filter(
        bloom_might_contain(words, F.col(build_key), DEFAULT_N_HASHES)
    )
    return facts.join(
        pruned_build.select(F.col(build_key).alias(fact_key)).distinct(),
        fact_key,
        "left_anti",
    )
