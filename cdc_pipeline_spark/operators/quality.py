"""Training-corpus quality operators: heuristic filter rules, within-doc
repetition, PII redaction, benchmark decontamination.

These are the "beyond the reference" LLM-data-pipeline operators (the
reference is a CDC/analytics engine; a 100 TB pretraining pipeline needs
document gating before any model sees a token). All hot paths are JVM
column expressions or broadcast joins — no Python per row.

Public provenance of the heuristics:
  * C4 (Raffel et al., JMLR'20 §2.2) — rule-based line/doc filtering;
  * Gopher (Rae et al., 2021, Table A1) — word count bounds, mean word
    length bounds, symbol-to-word ratios, stopword presence;
  * open decontamination practice (e.g. GPT-3 appendix C; The Pile) —
    n-gram overlap between corpus docs and an evaluation set.

Scale posture: quality rules are stateless per-row expressions (scan-
parallel, whole-stage codegen, no shuffle); repetition stats shuffle
once on (doc, token); decontamination broadcasts the (small) benchmark
shingle set so the corpus scan stays shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.rounding import round_half_up
from cdc_pipeline_spark.operators.text import tokens

# The classic English stopword nucleus used for "document has real
# prose" checks (Gopher uses a similar tiny hard-coded list).
STOPWORDS = ("the", "a", "of", "and", "is", "to", "in", "that", "it", "for")


def quality_rule_columns(text_col: str = "text") -> list[Column]:
    """Gopher/C4-style per-document rule columns + the conjunction
    ``keep``. Every rule is a pure JVM expression over one text column:

      * ``r_word_count``    — token count within [10, 100 000];
      * ``r_mean_word_len`` — mean non-space word length within [2, 12]
        (screens OCR noise / minified blobs);
      * ``r_symbol_ratio``  — non-alphanumeric-non-space chars ≤ 0.1
        (screens markup/serialized payloads);
      * ``r_stopwords``     — ≥ 2 distinct common-word hits (screens
        non-prose token streams);
      * ``keep``            — AND of the rules.
    """
    toks = tokens(text_col)
    n_words = F.size(toks)
    n_chars_nospace = F.length(F.regexp_replace(F.col(text_col), r"\s", ""))
    mean_word_len = n_chars_nospace / F.greatest(n_words, F.lit(1))
    # Unicode-aware class (\p{L}\p{N}, supported identically by Java
    # regex and DuckDB's RE2): an ASCII-only [A-Za-z0-9] counted every
    # non-Latin letter as a "symbol", so fluent Chinese/Russian/accented
    # text blew past the 0.1 symbol ratio and the gate dropped whole
    # non-English corpora
    n_symbols = F.length(F.regexp_replace(F.col(text_col), r"[\p{L}\p{N}\s]", ""))
    symbol_ratio = n_symbols / F.greatest(F.length(text_col), F.lit(1))
    distinct_stops = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in STOPWORDS]))
    )

    r_word_count = (n_words >= 10) & (n_words <= 100_000)
    r_mean_word_len = (mean_word_len >= 2.0) & (mean_word_len <= 12.0)
    r_symbol_ratio = symbol_ratio <= 0.1
    r_stopwords = distinct_stops >= 2
    return [
        n_words.cast("long").alias("n_words"),
        round_half_up(mean_word_len, 4).alias("mean_word_len"),
        round_half_up(symbol_ratio, 4).alias("symbol_ratio"),
        distinct_stops.cast("long").alias("distinct_stopwords"),
        r_word_count.alias("r_word_count"),
        r_mean_word_len.alias("r_mean_word_len"),
        r_symbol_ratio.alias("r_symbol_ratio"),
        r_stopwords.alias("r_stopwords"),
        (r_word_count & r_mean_word_len & r_symbol_ratio & r_stopwords).alias("keep"),
    ]


def repetition_stats(df: DataFrame) -> DataFrame:
    """Within-document repetition profile (the Gopher "repetition"
    filter family): most-frequent-token mass, distinct-token ratio, and
    most-frequent-bigram mass. Catches looped boilerplate that
    rule-based length checks miss.

    One explode + per-(doc, gram) count + per-doc max/sum — a single
    shuffle keyed on the document id, so it scales with corpus size, not
    corpus².
    """
    toks = df.select("doc_id", tokens("text").alias("toks"))
    unigram = toks.select("doc_id", F.explode_outer("toks").alias("g")).filter(
        F.col("g").isNotNull()
    )
    from cdc_pipeline_spark.operators.text import adjacent_grams

    bigram = toks.select(
        "doc_id", F.explode_outer(adjacent_grams(F.col("toks"))).alias("g")
    ).filter(F.col("g").isNotNull())

    def profile(grams: DataFrame, prefix: str) -> DataFrame:
        counts = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
        return counts.groupBy("doc_id").agg(
            F.sum("c").alias(f"{prefix}_total"),
            F.count(F.lit(1)).alias(f"{prefix}_distinct"),
            F.max("c").alias(f"{prefix}_top"),
        )

    uni = profile(unigram, "uni")
    bi = profile(bigram, "bi")
    out = uni.join(bi, "doc_id", "left")
    return out.select(
        "doc_id",
        F.col("uni_total").alias("n_tokens"),
        round_half_up(F.col("uni_distinct") / F.col("uni_total"), 4).alias("distinct_ratio"),
        round_half_up(F.col("uni_top") / F.col("uni_total"), 4).alias("top_token_frac"),
        round_half_up(
            F.coalesce(F.col("bi_top") / F.col("bi_total"), F.lit(0.0)), 4
        ).alias("top_bigram_frac"),
    )


# PII patterns: deliberately the simple, high-recall shapes every corpus
# scrubber starts from; swap for a full ruleset (presidio-style) in
# production. Identical RE semantics in Java regex and RE2.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
PHONE_RE = "\\b[0-9]{3}-[0-9]{4}\\b"


def pii_redact(
    text: Column,
) -> tuple[Column, Column, Column, Column]:
    """(redacted_text, n_emails, n_ips, n_phones): count then replace
    each PII class with a typed placeholder. Count BEFORE replacing —
    the email local part may itself contain digits that later patterns
    would re-match."""
    n_emails = F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), F.lit(0)))
    n_ips = F.size(F.regexp_extract_all(text, F.lit(IPV4_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return redacted, n_emails, n_ips, n_phones


def unigram_logprob_score(df: DataFrame, carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """Corpus-LM fluency score (the CCNet idea — Wenzek et al. 2020 —
    with the corpus itself as the language model): per-document mean
    negative log probability of its tokens under the corpus unigram
    distribution. Outlier docs (junk vocabulary, wrong language) score
    high; boilerplate scores low. Self-contained: no external model.

    Two aggregations + one broadcast-size join of the vocabulary:
      1. corpus token counts (one shuffle on token);
      2. join token logprobs back to per-doc tokens (vocab ≪ corpus —
         at 100 TB cap/broadcast the vocab or bucket-join);
      3. per-doc mean −ln p (one shuffle on doc).
    """
    toks = df.select(
        "doc_id", *carry_cols, tokens("text").alias("toks")
    )
    posting = toks.select(
        "doc_id", *carry_cols, F.explode_outer("toks").alias("token")
    ).filter(F.col("token").isNotNull())
    vocab = posting.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    total = vocab.agg(F.sum("tf").cast("double").alias("n"))
    # per-token −ln p is rounded to fixed decimal BEFORE the per-doc sum:
    # decimal addition is fold-order-independent, so partition count
    # never flips a rounding boundary (double sums would — see
    # operators/rounding.py)
    vocab = vocab.crossJoin(F.broadcast(total)).select(
        "token",
        round_half_up(-F.log(F.col("tf") / F.col("n")), 6)
        .cast("decimal(18,6)")
        .alias("neg_logp"),
    )
    scored = posting.join(F.broadcast(vocab), "token")
    return scored.groupBy("doc_id", *carry_cols).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        round_half_up(
            F.sum("neg_logp").cast("double") / F.count(F.lit(1)), 4
        ).alias("mean_neg_logprob"),
    )


def bigram_logprob_score(df: DataFrame) -> DataFrame:
    """Interpolated bigram corpus-LM fluency score — the next model up
    from :func:`unigram_logprob_score` (Jelinek–Mercer interpolation,
    the classic smoothing the KenLM-style corpus filters build on):
    per document, mean −ln P(w_i | w_{i−1}) with
    ``P = λ·c(w1,w2)/c(w1·) + (1−λ)·c(w2)/N`` with λ = 0.75 — the unigram backoff
    term keeps every observed bigram finite without add-α vocabulary
    sweeps. Junk word ORDER now scores high even when the vocabulary
    is in-distribution (a shuffled fluent doc fools the unigram score,
    not this one).

    Shape: two count aggregations (bigram, unigram — one shuffle each),
    the conditional margin c(w1·) as a sum over the bigram table, then
    one join of per-bigram logprobs back to the doc postings and a
    per-doc aggregate. Per-bigram −ln p rounds to DECIMAL(18,6) BEFORE
    the per-doc sum (fold-order-free, the module's standard trick). The
    bigram vocabulary is corpus-sized-ish at 100 TB — the logprob join
    is left un-hinted (AQE decides); prune rare bigrams upstream if the
    model table must broadcast. Documents with < 2 tokens have no
    bigrams and are omitted (oracle mirrors).

    Output: (doc_id, n_bigrams, mean_neg_logprob).
    """
    # three downstream lineages (unigram counts, bigram counts, the
    # scoring join) — materialize the tokenization once; Catalyst shares
    # no subplans and the corpus-wide split is the expensive stage
    # (same precedent as perplexity_buckets)
    toks = df.select(
        "doc_id", tokens("text").alias("t")
    ).localCheckpoint()
    posting = toks.select("doc_id", F.explode_outer("t").alias("token")).filter(
        F.col("token").isNotNull()
    )
    uni = posting.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    total = uni.agg(F.sum("tf").cast("double").alias("n"))
    bi = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.slice(F.col("t"), 2, F.size("t") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    bic = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bic.groupBy("w1").agg(F.sum("c12").cast("double").alias("c1"))
    probs = (
        bic.join(c1, "w1")
        .join(uni.select(F.col("token").alias("w2"), F.col("tf").alias("tf2")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            round_half_up(
                -F.log(
                    F.lit(0.75) * F.col("c12") / F.col("c1")
                    + F.lit(0.25) * F.col("tf2") / F.col("n")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("nlp"),
        )
    )
    scored = bi.join(probs, ["w1", "w2"])
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        round_half_up(F.sum("nlp").cast("double") / F.count(F.lit(1)), 4).alias(
            "mean_neg_logprob"
        ),
    )


def source_unigram_kl(df: DataFrame) -> DataFrame:
    """Per-source KL divergence D(p_source ‖ p_corpus) over the unigram
    token distribution — the mixture diagnostic behind
    importance-resampled data selection (DSIR, Xie et al. 2023) and
    domain-reweighting (DoReMi): a source whose token distribution sits
    far from the corpus mean dominates or starves a temperature-mixed
    training run, and this table is what `temperature_mix_weights`'s
    exponent should be sanity-checked against.

    Shape: ONE corpus scan → (source, token) counts; the global vocab
    counts are a RE-AGGREGATION of that table (map-side combined — the
    corpus is never scanned twice); per-source totals are a second tiny
    re-agg. Each (source, token) contributes
    ``(c_st/C_s)·ln((c_st·N)/(C_s·c_t))`` computed in doubles from
    exact counts, rounded to DECIMAL(28,8) BEFORE the per-source sum
    (fold-order-free — the module's standard trick), so any
    partitioning produces identical output. All factors stay < 2^53 as
    doubles, so the products are IEEE-exact inputs to ``ln`` in both
    engines.

    Output: (source, n_tokens, n_terms, kl_nats), one row per source.
    """
    posting = df.select(
        "source", F.explode_outer(tokens("text")).alias("token")
    ).filter(F.col("token").isNotNull())
    # FOUR consumers read the (source, token) table (global re-agg,
    # per-source totals, the term join, the output join) and Catalyst
    # shares no subplans — without materialization each one re-scans
    # and re-tokenizes the corpus (observed: 5 parquet scans, pinned by
    # test_source_kl_single_corpus_scan). One checkpoint of the count
    # table (vocab × sources rows, far smaller than the corpus) makes
    # the docstring's one-scan claim physically true.
    sc = (
        posting.groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c_st"))
        # lazy: defers the corpus scan to the first action (eager would
        # run it at DataFrame-construction time — plan inspection must
        # not cost a Spark job); all four consumers share the
        # materialized RDD from then on
        .localCheckpoint(eager=False)
    )
    gc = sc.groupBy("token").agg(F.sum("c_st").alias("c_t"))
    cs = sc.groupBy("source").agg(F.sum("c_st").alias("c_s"))
    n = gc.agg(F.sum("c_t").alias("n"))
    term = (
        sc.join(gc, "token")
        .join(F.broadcast(cs), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            round_half_up(
                (F.col("c_st").cast("double") / F.col("c_s").cast("double"))
                * F.log(
                    (F.col("c_st").cast("double") * F.col("n").cast("double"))
                    / (F.col("c_s").cast("double") * F.col("c_t").cast("double"))
                ),
                8,
            )
            .cast("decimal(28,8)")
            .alias("term"),
        )
    )
    agg = term.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_terms"),
        round_half_up(F.sum("term").cast("double"), 6).alias("kl_nats"),
    )
    return agg.join(F.broadcast(cs), "source").select(
        "source",
        F.col("c_s").cast("long").alias("n_tokens"),
        F.col("n_terms").cast("long").alias("n_terms"),
        "kl_nats",
    )


def perplexity_buckets(df: DataFrame) -> DataFrame:
    """CCNet-style head/middle/tail split (Wenzek et al. 2020): bucket
    documents by their per-group fluency-score terciles. CCNet trains on
    'head' (most fluent), samples 'middle', drops 'tail' — the standard
    LM-based corpus filter.

    Cutoffs are PER GROUP (language), computed with exact
    ``percentile_disc`` — two scalars per group, never a global-sort
    window: a global ``ntile`` would funnel the whole corpus through one
    partition, while this shape is a grouped aggregate + broadcast join
    of a |groups|×2 cutoff frame. At 100 TB swap the exact percentile
    for ``percentile_approx`` (mergeable sketch state) — the cutoff
    contract is unchanged.

    Output: (doc_id, lang, mean_neg_logprob, ppl_bucket).
    """
    # referenced twice (cutoff aggregation + output join); materialize
    # once instead of re-running the whole corpus-LM scoring chain per
    # reference (Catalyst shares no subplans)
    scores = unigram_logprob_score(df, carry_cols=("lang",)).localCheckpoint(eager=True)
    c1, c2 = 1.0 / 3.0, 2.0 / 3.0  # tercile cuts
    cutoffs = scores.groupBy("lang").agg(
        F.expr(
            f"percentile_disc({c1!r}) WITHIN GROUP (ORDER BY mean_neg_logprob)"
        ).alias("__c1"),
        F.expr(
            f"percentile_disc({c2!r}) WITHIN GROUP (ORDER BY mean_neg_logprob)"
        ).alias("__c2"),
    )
    # eqNullSafe: a NULL group (unknown lang) gets its own cutoff row,
    # and a null-rejecting equi-join would silently drop every such doc
    # from the output (same fix iqr_outliers carries)
    cutoffs = cutoffs.withColumnRenamed("lang", "__grp")
    return scores.join(
        F.broadcast(cutoffs), F.col("lang").eqNullSafe(F.col("__grp"))
    ).select(
        "doc_id",
        "lang",
        "mean_neg_logprob",
        F.when(F.col("mean_neg_logprob") <= F.col("__c1"), F.lit("head"))
        .when(F.col("mean_neg_logprob") <= F.col("__c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing word
    ``n``-grams with an evaluation set (the standard train/test overlap
    scrub — GPT-3 appendix C, The Pile §6.3).

    The benchmark's distinct shingle set is BROADCAST (eval sets are
    tiny next to a 100 TB corpus), so the corpus side is one scan +
    explode + broadcast-hash semi-join + per-doc count: no corpus
    shuffle at all. Output: per-doc total n-grams, contaminated n-gram
    count, fraction, and the ≥ 0.05 flag.
    """

    from cdc_pipeline_spark.operators.partitioning import ensure_parallelism as spread
    from cdc_pipeline_spark.operators.text import word_shingles

    def shingles(df: DataFrame) -> DataFrame:
        # same construction as benchmark_containment_pairs — the shared
        # helper keeps the two contamination passes from drifting
        return df.select(
            "doc_id",
            F.explode_outer(word_shingles("text", n)).alias("shingle"),
        )

    bench_shingles = (
        shingles(benchmark).filter(F.col("shingle").isNotNull()).select("shingle").distinct()
    )
    # spread: a single-file corpus arrives as ONE partition and would
    # serialize the shingling scan onto one core
    corpus_shingles = shingles(spread(corpus))
    # ONE corpus pass: a broadcast LEFT join marks hits, and totals +
    # hit counts come out of the same per-doc aggregate — the previous
    # separate semi-join + totals aggregation re-ran the corpus-wide
    # shingling scan twice (Catalyst shares no subplans), doubling the
    # dominant cost at 100 TB for zero semantic difference. Null
    # shingles (docs with < n tokens) never match the join and count
    # into neither total.
    marked = corpus_shingles.join(
        F.broadcast(bench_shingles.withColumn("__hit", F.lit(1))), "shingle", "left"
    )
    out = marked.groupBy("doc_id").agg(
        F.sum(F.when(F.col("shingle").isNotNull(), 1).otherwise(0)).alias("n_ngrams"),
        F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_contaminated"),
    ).select(
        "doc_id",
        "n_ngrams",
        "n_contaminated",
        round_half_up(
            F.col("n_contaminated") / F.greatest("n_ngrams", F.lit(1)), 6
        ).alias("contaminated_frac"),
    )
    return out.withColumn(
        "flagged", F.col("contaminated_frac") >= F.lit(0.05)
    )


def iqr_outliers(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """Tukey-fence outlier flags per group: a row is an outlier when its
    value falls outside [q1 − 1.5·IQR, q3 + 1.5·IQR] of its group — the
    standard profiling pass for spotting truncated/concatenated
    documents by length, or any malformed numeric feature, without
    assuming a distribution.

    Shape: one grouped exact-percentile aggregation (|groups| rows) +
    one broadcast join back — the fact side never shuffles. At 100 TB
    swap percentile for percentile_approx (mergeable sketch state);
    the fence contract is unchanged. Fences round to 4 decimals on both
    engines so boundary comparisons are deterministic cross-engine.

    Output: (id, group, value, is_outlier).
    """
    v = F.col(value_col).cast("double")
    stats = df.groupBy(group_col).agg(
        F.percentile(v, F.lit(0.25)).alias("__q1"),
        F.percentile(v, F.lit(0.75)).alias("__q3"),
    )
    stats = stats.select(
        group_col,
        round_half_up(F.col("__q1") - 1.5 * (F.col("__q3") - F.col("__q1")), 4).alias("__lo"),
        round_half_up(F.col("__q3") + 1.5 * (F.col("__q3") - F.col("__q1")), 4).alias("__hi"),
    )
    # null-SAFE group join: a plain equi-join drops every row whose
    # group is NULL (the grouped stats row for the NULL group exists,
    # but null-rejecting equality never matches it), silently shrinking
    # a pass that promises one flag per input row
    stats = stats.withColumnRenamed(group_col, "__grp")
    return (
        df.join(F.broadcast(stats), F.col(group_col).eqNullSafe(F.col("__grp")))
        .select(
            "doc_id",
            group_col,
            F.col(value_col),
            ((v < F.col("__lo")) | (v > F.col("__hi"))).alias("is_outlier"),
        )
    )


def benchmark_containment_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Eval-set containment audit — the FUZZY half of decontamination.

    :func:`ngram_contamination` scores each corpus document by the
    fraction of its OWN n-grams that hit the benchmark; that misses a
    long document that swallowed one short eval item whole (its own
    n-gram fraction stays tiny). This operator scores every (corpus
    doc, benchmark item) PAIR by containment of the benchmark item:

        C(doc, bench) = |shingles(bench) ∩ shingles(doc)| / |shingles(bench)|

    — the asymmetric overlap used for contamination in LLM data work
    (containment, not Jaccard, because the eval item is much shorter
    than the doc). A pair at C ≥ threshold means the doc (nearly)
    contains that eval item verbatim.

    Shape: eval sets are tiny next to a 100 TB corpus, so the benchmark
    posting list (shingle → bench_id, plus per-item set sizes) is
    BROADCAST; the corpus side is scan + explode + broadcast-hash join +
    groupBy (bench_id, doc_id) count. Corpus rows shuffle only after
    collapsing to per-pair counts — the fact table itself never
    re-partitions. Output: (doc_id, bench_id, n_common, containment).
    """
    from cdc_pipeline_spark.operators.partitioning import ensure_parallelism as _spread
    from cdc_pipeline_spark.operators.text import word_shingles

    def posting(df: DataFrame, out_id: str) -> DataFrame:
        return (
            df.select(F.col("doc_id").alias(out_id), word_shingles("text", n).alias("__sh"))
            .select(out_id, F.explode_outer("__sh").alias("shingle"))
            .filter(F.col("shingle").isNotNull())
        )

    bench_posting = posting(benchmark, "bench_id")
    bench_sizes = bench_posting.groupBy("bench_id").agg(F.count(F.lit(1)).alias("__bn"))
    hits = (
        posting(_spread(corpus), "doc_id")
        .join(F.broadcast(bench_posting), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        hits.join(F.broadcast(bench_sizes), "bench_id")
        .withColumn("containment", round_half_up(F.col("n_common") / F.col("__bn"), 6))
        .filter(F.col("containment") >= F.lit(threshold))
        .select("doc_id", "bench_id", "n_common", "containment")
    )
