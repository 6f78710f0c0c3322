"""Text-analysis operators for large-scale training-data pipelines:
tokenization, shingling, language-ID heuristic, quality scoring, document
fingerprinting.

All column expressions are JVM built-ins (split / filter / transform /
regexp_replace / md5) so a 100 TB documents scan stays inside whole-stage
codegen — no Python worker in the path. The heuristics are deliberately
simple deterministic formulas so the DuckDB oracle can mirror them
exactly; swap the scoring weights freely, the plumbing is the point.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.rounding import round_half_up

# small deterministic stopword set for the language-ID / quality heuristics
EN_STOPWORDS = ("the", "a", "of", "and", "is")


def tokens(text_col: str = "text") -> Column:
    """Whitespace tokenization (the BPE-ish variant is token_count_bpe)."""
    return F.split(F.trim(F.col(text_col)), r"\s+")


def token_count() -> Column:
    return F.size(tokens("text"))


def word_shingles(text_col: str = "text", n: int = 3) -> Column:
    """Distinct word n-grams; empty array when the doc has < n tokens."""
    toks = tokens(text_col)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.array_distinct(F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>")))


def stopword_count(tokens_col: str) -> Column:
    quoted = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return F.expr(f"size(filter({tokens_col}, x -> x IN ({quoted})))")


def punct_ratio(text_col: str = "text") -> Column:
    """Share of characters outside [a-zA-Z0-9 ]."""
    stripped = F.regexp_replace(F.col(text_col), "[^a-zA-Z0-9 ]", "")
    return (F.length(text_col) - F.length(stripped)) / F.greatest(F.length(text_col), F.lit(1))


def distinct_token_ratio(tokens_col: str) -> Column:
    return F.size(F.array_distinct(F.col(tokens_col))) / F.greatest(F.size(F.col(tokens_col)), F.lit(1))


def quality_score(tokens_col: str, text_col: str = "text") -> Column:
    """Deterministic quality score in [0,1]:
    0.3·length-saturation + 0.4·lexical-diversity + 0.3·(1 − punctuation)."""
    length_score = F.least(F.length(text_col) / F.lit(500.0), F.lit(1.0))
    return round_half_up(
        0.3 * length_score + 0.4 * distinct_token_ratio(tokens_col) + 0.3 * (1.0 - punct_ratio(text_col)),
        4,
    )


def lang_guess(tokens_col: str) -> Column:
    """N-gram-free stopword-ratio language ID: 'en' when the English
    stopword share reaches 3%, else 'unknown'. (The testdata
    corpus is synthetic word soup; the operator contract — deterministic
    per-doc classification from token statistics — is what matters.)"""
    ratio = stopword_count(tokens_col) / F.greatest(F.size(F.col(tokens_col)), F.lit(1))
    return F.when(ratio >= 0.03, F.lit("en")).otherwise(F.lit("unknown"))


def fingerprint(text_col: str = "text") -> Column:
    """Normalized-content fingerprint: lowercase, collapse whitespace,
    md5. Identical content (mod spacing/case) ⇒ identical fingerprint —
    the exact-dedup key."""
    normalized = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return F.md5(normalized)


def token_count_bpe() -> Column:
    """BPE-ish token estimate of ``text``: word-piece split on
    non-alphanumerics plus a length/4 correction for long words (a cheap,
    deterministic stand-in for a real tokenizer's subword count)."""
    words = F.split(F.trim(F.col("text")), r"[^a-zA-Z0-9]+")
    long_extra = F.expr(
        "aggregate(split(trim(text), '[^a-zA-Z0-9]+'), 0L, (acc, w) -> acc + CAST(greatest(int(ceil(length(w) / 4.0)) - 1, 0) AS LONG))"
    )
    return F.size(words) + long_extra


def with_text_features(df: DataFrame) -> DataFrame:
    """Attach the full feature set of ``text`` (tokens column is transient)."""
    out = df.withColumn("__toks", tokens("text"))
    return (
        out.withColumn("token_count", F.size(F.col("__toks")))
        .withColumn("distinct_ratio", round_half_up(distinct_token_ratio("__toks"), 4))
        .withColumn("punct_ratio", round_half_up(punct_ratio("text"), 4))
        .withColumn("quality", quality_score("__toks", "text"))
        .withColumn("lang_guess", lang_guess("__toks"))
        .withColumn("fingerprint", fingerprint("text"))
        .drop("__toks")
    )


def lang_guess_charclass() -> Column:
    """Character-class + stopword language ID of ``text``: script ranges decide
    non-Latin languages outright (CJK → zh, Cyrillic → ru), Latin-script
    text falls through to diacritic classes (es/fr-ish) and finally the
    English stopword ratio. Deterministic, mirrorable in SQL via regexp
    counts; a real deployment swaps in trained n-gram profiles — the
    operator contract (pure column expression, no UDF) is the point."""
    has = lambda pattern: F.col("text").rlike(pattern)
    return (
        F.when(has("[一-鿿]"), F.lit("zh"))
        .when(has("[Ѐ-ӿ]"), F.lit("ru"))
        .when(has("[áéíóúñ¿¡]"), F.lit("es"))
        .when(
            F.expr(
                # IN-list derived from EN_STOPWORDS (review r10: the set
                # was triplicated; stopword_count already derives its
                # list the same way)
                "size(filter(split(trim(text), '\\\\s+'), "
                f"x -> x IN ({', '.join(repr(w) for w in EN_STOPWORDS)})))"
            )
            / F.greatest(F.size(tokens("text")), F.lit(1))
            >= 0.03,
            F.lit("en"),
        )
        .otherwise(F.lit("unknown"))
    )


def winnowing_fingerprints(
    text_col: str = "text", k: int = 8, window: int = 4, gram_hash=None
) -> Column:
    """Rolling-hash document fingerprints (winnowing): hash every
    character k-gram, then keep the minimum hash of each non-overlapping
    window of consecutive k-gram positions. The selected set is robust to
    local edits (only windows containing the edit change) — the classic
    plagiarism/near-dup fingerprint (Schleimer et al., SIGMOD'03).

    Pure column expression: positions via sequence → transform(substring
    → xxhash64), window minima via a second transform over window
    indices. Returns array<long> (sorted, distinct). ``gram_hash``
    (Column → Column) overrides the xxhash64 default — pass
    ``dedup.portable_token_hash`` for DuckDB-replicable fingerprints
    (slower interpreted fold; the oracle path).

    The gram-hash array is LET-BOUND through a single-element transform
    (``transform(array(grams), g -> …)[0]``) so each row hashes its
    k-grams exactly once. Referencing the ``grams`` subtree directly
    inside the window lambda re-evaluates the whole array per window —
    interpreted higher-order functions do no subexpression caching — and
    that O(L²/w) blowup measured 13.6 s vs 0.6 s at sf0.1.
    """
    n_grams = F.greatest(F.length(text_col) - F.lit(k - 1), F.lit(0))
    hash_fn = gram_hash if gram_hash is not None else F.xxhash64
    gram_hashes = F.transform(
        F.sequence(F.lit(0), n_grams - 1),
        lambda i: hash_fn(F.col(text_col).substr(i + 1, F.lit(k))),
    )

    def window_mins(g: Column) -> Column:
        n_windows = F.ceil(F.size(g) / F.lit(window)).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_windows - 1),
            lambda w: F.array_min(F.slice(g, w * window + 1, window)),
        )

    window_mins_once = F.transform(F.array(gram_hashes), window_mins)[0]
    return F.array_sort(
        F.array_distinct(
            F.when(n_grams > 0, window_mins_once).otherwise(F.array().cast("array<long>"))
        )
    )


_ENTITY_RE = r"&[a-zA-Z]{2,8};|&#[0-9]{1,6};"


def _clean_markup(col: Column) -> Column:
    """Tag strip + entity strip + whitespace collapse on a Column —
    shared by :func:`strip_markup` and :func:`block_profile` so the
    document-level and block-level cleanups cannot drift."""
    no_tags = F.regexp_replace(col, r"<[^>]*>", " ")
    no_ents = F.regexp_replace(no_tags, _ENTITY_RE, " ")
    return F.trim(F.regexp_replace(no_ents, r"\s+", " "))


def strip_markup(text_col: str | Column = "text") -> Column:
    """Remove HTML/XML tags and character entities, then normalize
    whitespace — the C4/CCNet pre-tokenization cleanup for web-crawled
    corpora. Pure JVM regexp (scan-parallel, no shuffle); the patterns
    (``<[^>]*>``, named ``&amp;``-style and numeric ``&#160;``-style
    entities) carry identical semantics in Java regex and RE2, so a SQL
    oracle replicates the cleanup byte-for-byte."""
    return _clean_markup(F.col(text_col) if isinstance(text_col, str) else text_col)


def markup_counts(text_col: str = "text") -> tuple[Column, Column]:
    """(n_tags, n_entities) for profiling how markup-heavy a document
    is — the routing signal for sending a slice through heavier HTML
    extraction instead of the regex fast path."""
    n_tags = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"<[^>]*>"), F.lit(0)))
    n_ents = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"&[a-zA-Z]{2,8};|&#[0-9]{1,6};"), F.lit(0))
    )
    return n_tags, n_ents


# --- main-content / boilerplate extraction (jusText-style) ---------------
#
# Block-level tags delimit content units; <br> counts as a separator.
# Non-capturing so neither Java's split nor RE2's emits group text.
_BLOCK_TAG_RE = (
    r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|thead|tbody|tr|td|th|section|"
    r"article|aside|header|footer|nav|main|blockquote|pre|form|figure|"
    r"figcaption|br)\b[^>]*>"
)
# anchor inner text; (?is) so anchors spanning newlines count. Anchors
# split across block boundaries (illegal nesting) contribute 0 — their
# open/close tags land in different segments and the pattern can't match.
_ANCHOR_RE = r"(?is)<a\b[^>]*>(.*?)</a>"
# <script>/<style>/<noscript> ELEMENT CONTENT is removed before block
# splitting (VERDICT r10 #4): their bodies are code, not content —
# jusText removes the elements outright; left in, JS/CSS merges into
# adjacent block text, dilutes link/stopword densities, and
# English-looking identifier soup can classify 'good' and leak into
# the extracted content. Spelled as per-tag alternation (NOT a
# backreference) so the Java engine and the RE2-based DuckDB oracle
# run the SAME pattern — RE2 has no backreferences. An unterminated
# element (no closing tag) is left in place and falls through to the
# density rules like any other markup residue.
_SCRIPTISH_RE = (
    r"(?is)<script\b.*?</script\s*>|<style\b.*?</style\s*>|"
    r"<noscript\b.*?</noscript\s*>"
)
# EN_STOPWORDS as one word-boundary regex so both engines count
# occurrences identically (derived, not retyped — review r10)
_STOPWORD_RE = r"\b(?:" + "|".join(EN_STOPWORDS) + r")\b"

BLOCK_MIN_WORDS = 8  # below this a block is 'short' (context decides)
BLOCK_MAX_LINK_DENSITY = 1.0 / 3.0  # above this a block is boilerplate
BLOCK_MIN_STOPWORD_DENSITY = 0.01  # long stopword-free text = listing/nav

_PROFILE_TYPE = (
    "array<struct<text:string, n_words:int, link_density:double, "
    "stopword_density:double, cls:string>>"
)


def block_profile(html_col: str | Column) -> Column:
    """Per-block content profile of an HTML document — the
    jusText/Readability-style scoring pass (Pomikálek 2011's
    link-density + stopword-density block classification, re-expressed
    as column expressions). Splits on block-level tags, drops empty
    blocks, and for each block computes the cleaned text, word count,
    link density (anchor-text chars / text chars) and stopword
    density, then classifies. ``<script>``/``<style>``/``<noscript>``
    elements are removed WITH their content before splitting
    (``_SCRIPTISH_RE`` — VERDICT r10 #4); then:

    * ``bad``   — link density > 1/3 (nav/footer/link farms), or a
      >= 8-word block with stopword density < 0.01 (keyword listings,
      cookie banners);
    * ``short`` — under 8 words: undetermined, resolved by neighbors
      (:func:`kept_block_indices`);
    * ``good``  — everything else.

    Returns ``array<struct<text, n_words, link_density,
    stopword_density, cls>>`` in document order. Pure JVM expressions
    (split/transform/filter/regexp) — a 100 TB corpus scan stays
    shuffle-free; every ratio is an exact int/int division so a SQL
    oracle replays the classification bit-for-bit."""
    col = F.col(html_col) if isinstance(html_col, str) else html_col
    segs = F.split(F.regexp_replace(col, _SCRIPTISH_RE, ""), _BLOCK_TAG_RE)
    raw = F.transform(
        segs,
        lambda b: F.struct(
            _clean_markup(b).alias("text"),
            F.aggregate(
                F.transform(
                    F.regexp_extract_all(b, F.lit(_ANCHOR_RE), F.lit(1)),
                    lambda a: F.length(_clean_markup(a)),
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            ).alias("link_chars"),
        ),
    )
    nonempty = F.filter(raw, lambda s: s["text"] != "")

    def profile(s: Column) -> Column:
        tc = s["text"]
        nw = F.size(F.filter(F.split(tc, " "), lambda w: w != ""))
        sw = F.size(F.regexp_extract_all(F.lower(tc), F.lit(_STOPWORD_RE), F.lit(0)))
        sd = sw / F.greatest(nw, F.lit(1))
        ld = s["link_chars"] / F.greatest(F.length(tc), F.lit(1))
        cls = (
            F.when(ld > F.lit(BLOCK_MAX_LINK_DENSITY), "bad")
            .when(nw < F.lit(BLOCK_MIN_WORDS), "short")
            .when(sd >= F.lit(BLOCK_MIN_STOPWORD_DENSITY), "good")
            .otherwise("bad")
        )
        return F.struct(
            tc.alias("text"),
            nw.alias("n_words"),
            ld.alias("link_density"),
            sd.alias("stopword_density"),
            cls.alias("cls"),
        )

    return F.transform(nonempty, profile).cast(_PROFILE_TYPE)


def kept_block_indices(profile_col: str | Column) -> Column:
    """1-based indices of the blocks main-content keeps: every ``good``
    block, plus ``short`` blocks with a ``good`` immediate neighbor
    (jusText's neighbor smoothing — headings and one-liners between
    paragraphs survive; isolated shorts in nav/footer runs don't)."""
    prof = F.col(profile_col) if isinstance(profile_col, str) else profile_col
    n = F.size(prof)
    idxs = F.sequence(F.lit(1), n)
    # F.get is 0-based and null-safe at both boundaries
    good_at0 = lambda i0: F.coalesce(  # noqa: E731
        F.get(prof, i0)["cls"] == "good", F.lit(False)
    )
    kept = F.filter(
        idxs,
        lambda i: (F.element_at(prof, i)["cls"] == "good")
        | (
            (F.element_at(prof, i)["cls"] == "short")
            & (good_at0(i - 2) | good_at0(i))
        ),
    )
    # sequence(1, 0) would count DOWN; guard the empty-profile case
    return F.when(n >= 1, kept).otherwise(F.array().cast("array<int>"))


def main_content(html_col: str | Column) -> Column:
    """Main content of an HTML document: the kept blocks' cleaned text,
    space-joined in document order. The one-expression form of
    :func:`block_profile` + :func:`kept_block_indices` — callers that
    also want the per-block profile should materialize
    ``block_profile`` in a projection once and derive both (HOF
    subtrees are interpreted; see urls.canonicalize_url's note)."""
    return main_content_from_profile(block_profile(html_col))


def main_content_from_profile(profile_col: str | Column) -> Column:
    """Space-joined kept-block text from a materialized
    :func:`block_profile` column."""
    prof = F.col(profile_col) if isinstance(profile_col, str) else profile_col
    return F.array_join(
        F.transform(
            kept_block_indices(prof), lambda i: F.element_at(prof, i)["text"]
        ),
        " ",
    )


def adjacent_grams(toks_col: Column) -> Column:
    """Adjacent word bigrams over a token-array column — NOT distinct
    (occurrence counts matter for LM/pair statistics, unlike
    :func:`word_shingles`); empty array below 2 tokens. Shared by DSIR
    gram hashing and BPE-style pair counting so the construction cannot
    drift between them."""
    return F.when(
        F.size(toks_col) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks_col) - 2),
            lambda i: F.concat_ws(" ", toks_col[i], toks_col[i + 1]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def char_grams(col: Column, n: int) -> Column:
    """Array of every character n-gram of ``col`` (empty below n
    chars). Shared so the construction cannot drift — and because the
    transform lambda MUST take exactly one parameter: ``F.transform``
    feeds a second parameter the ELEMENT INDEX, so the classic
    loop-capture idiom ``lambda i, n=n:`` silently rebinds n to the
    index (``winnowing_fingerprints`` fuses its hash into this same
    sequence+substring pattern rather than materializing gram strings —
    a deliberate plan difference — and shares the caveat)."""
    return F.when(
        F.length(col) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(col) - n + 1),
            lambda i: F.substring(col, i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def ngram_rank_langid(df: DataFrame, profile_k: int = 20) -> DataFrame:
    """Rank-order character-n-gram language ID (Cavnar & Trenkle 1994,
    "N-Gram-Based Text Categorization") — the canonical n-gram
    heuristic: each class keeps its top-``profile_k`` character n-grams
    (lengths 1..3) ranked by frequency; a document is scored
    against every class by OUT-OF-PLACE distance (sum over the doc's
    own ranked profile of |doc_rank − class_rank|, missing grams paying
    ``profile_k``) and labeled with the argmin. Profiles here are built
    from the corpus' OWN labels (self-supervised fit), so the output
    doubles as a label-consistency audit: (id, label, predicted,
    oop_distance).

    Every decision is an integer with a total tie order — rank by
    (count DESC, gram ASC), predict by (distance ASC, class ASC) — so
    the DuckDB oracle replays it exactly. Only the first 400
    characters profile a document (the classic cap: per-doc work is
    bounded by 400 chars × 3 gram lengths, independent of document
    size). Plan: one
    explode + two count shuffles (doc grams; class grams aggregate the
    per-doc counts), a ``profile_k``-row window per doc/class, and a
    classes-sized broadcast cross join — the per-doc side never exceeds
    ``profile_k × n_classes`` rows after the profile truncation.
    """
    from pyspark.sql import Window

    from cdc_pipeline_spark.operators.partitioning import ensure_parallelism as spread

    # spread BEFORE the explode: small parquet inputs arrive as one
    # partition and would serialize the gram generation onto one core.
    # Case folding is ASCII-ONLY via translate — a plain codepoint map
    # both engines implement identically; full Unicode lower() is NOT
    # cross-engine deterministic (Java maps U+0130 'İ' to two
    # codepoints and folds Σ context-sensitively, utf8proc does
    # neither), and locale-sensitive folding is the wrong default for a
    # language *detector* anyway
    base = spread(df).select(
        F.col("doc_id").alias("id"),
        F.col("lang").alias("label"),
        F.translate(
            F.col("text").substr(1, 400), _ASCII_UPPER, _ASCII_LOWER
        ).alias("__s"),
    )
    gram_arrays = [char_grams(F.col("__s"), n) for n in range(1, 4)]
    grams = base.select(
        "id", "label", F.explode(F.concat(*gram_arrays)).alias("gram")
    )
    doc_counts = grams.groupBy("id", "label", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # doc_counts feeds THREE consumers (doc profile, class counts, the
    # class list); Catalyst shares no subplans, so without this the
    # corpus explode + count shuffle ran once per consumer (6 parquet
    # scans / 3 gram shuffles in the executed plan). Materialize the
    # per-doc counts once — they are head-capped (≤ 400×3 short rows
    # per doc), so the checkpoint is strictly smaller than
    # re-shuffling the gram table twice more at any scale (r11
    # optimization; same pattern as bm25's candidate materialization).
    # Trade (as at every localCheckpoint site): executor loss now fails
    # the job instead of replaying lineage, and the ~n_docs × 400 × 3
    # count rows stay pinned in executor storage until the
    # frame is GC'd.
    doc_counts = doc_counts.localCheckpoint(eager=True)
    # per-doc top-k WITHOUT a global window (a row_number window would
    # shuffle-and-SORT every (doc, gram) row; this shuffles the same
    # rows but sorts only within each doc's ~400·3-entry array
    # — measured 8.4s → ~3s at sf0.1). Struct sort = (cnt DESC, gram
    # ASC), the same total order the oracle's row_number uses.
    top = F.slice(
        F.sort_array(
            F.collect_list(
                F.struct((-F.col("cnt")).alias("nc"), F.col("gram").alias("gram"))
            )
        ),
        1,
        profile_k,
    )
    doc_profile = (
        doc_counts.groupBy("id", "label")
        .agg(top.alias("__t"))
        .select("id", "label", F.posexplode("__t").alias("pos", "e"))
        .select(
            "id",
            "label",
            F.col("e.gram").alias("gram"),
            (F.col("pos") + 1).alias("rd"),
        )
    )
    cls_counts = doc_counts.groupBy(
        F.col("label").alias("cls"), "gram"
    ).agg(F.sum("cnt").alias("ccnt"))
    cls_rank = Window.partitionBy("cls").orderBy(
        F.col("ccnt").desc(), F.col("gram").asc()
    )
    cls_profile = cls_counts.withColumn(
        "rc", F.row_number().over(cls_rank)
    ).filter(F.col("rc") <= profile_k)
    # classes and cls_profile share doc_counts lineage with doc_profile;
    # re-alias the right side's join keys to FRESH attributes or Spark's
    # self-join resolution collapses the equi-join onto one subtree
    # (silently matching nothing but identical-rank grams)
    # distinct classes straight off the materialized doc_counts (same
    # set as cls_counts' distinct cls — every label has ≥1 gram row —
    # without re-aggregating the (label, gram) grain a third time)
    classes = doc_counts.select(F.col("label").alias("__c")).distinct()
    cp = cls_profile.select(
        F.col("cls").alias("__pc"), F.col("gram").alias("__pg"), "rc"
    )
    scored = (
        doc_profile.crossJoin(F.broadcast(classes))
        .join(
            F.broadcast(cp),
            (F.col("__c") == F.col("__pc")) & (F.col("gram") == F.col("__pg")),
            "left",
        )
        .groupBy("id", "label", F.col("__c").alias("cls"))
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("rd") - F.col("rc")), F.lit(profile_k)
                )
            ).alias("dist")
        )
    )
    # (id, label) everywhere — a duplicated id with two labels is two
    # independent classification rows on BOTH engine and oracle
    pick = Window.partitionBy("id", "label").orderBy(
        F.col("dist").asc(), F.col("cls").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            "id",
            "label",
            F.col("cls").alias("predicted"),
            F.col("dist").cast("long").alias("oop_distance"),
        )
    )


# natural-log-of-2 literal shared with the oracle SQL (repr round-trips
# the exact double, so both engines divide by the same constant)
LN2 = 0.6931471805599453

ENTROPY_QUANT = 1_000_000_000.0  # 9-decimal fixed point for Σ n·ln(n)


def _quant_nlogn(n: Column) -> Column:
    """``floor(n·ln(n)·1e9 + 0.5)`` as an exact BIGINT term (``n`` > 0)."""
    d = n.cast("double")
    return F.floor(d * F.log(d) * F.lit(ENTROPY_QUANT) + F.lit(0.5))


def _entropy_stats(elems: Column) -> Column:
    """``struct<h double, d int>`` — Shannon entropy (bits) and distinct
    count of the multiset in an ``array<string>`` column, computed
    entirely inside one row — ZERO shuffle, no exchange:
    ``H = (ln(L) − (Σ_c n_c·ln(n_c)) / L) / ln 2``.

    Per-distinct counts come from RUN LENGTHS of the sorted array,
    folded in ONE ``aggregate()`` pass (accumulator carries the previous
    element, the open run length, the quantized Σ n·ln(n) so far and the
    closed-run count; the ``finish`` lambda closes the last run), so
    per-row cost is O(L log L) instead of the r10 form's O(L·d)
    ``transform(array_distinct, c -> size(filter(elems, = c)))`` — on
    token arrays d ≈ L made that effectively quadratic, and HOFs
    evaluate interpreted, so every comparison costs a virtual call.

    The single fold matters: ``ArrayAggregate`` evaluates its input
    array expression ONCE per row before iterating, so ``array_sort``
    runs once. An earlier r11 attempt read the sorted array inside
    ``filter`` lambdas via ``get(s, i)`` — interpreted HOF evaluation
    re-evaluates the whole referenced subtree per element, so the sort
    re-ran L times per row (O(L²·log L); doc_entropy_profile went
    3.3 s → >180 s at sf0.1). Any non-trivial subexpression a lambda
    references must either be the HOF's own input or a bound column.

    The Σ n·ln(n) term is quantized per run (``floor((n·ln n)·1e9 +
    0.5)``) and summed as exact BIGINTs, so the result is independent
    of summation order and replays bit-for-bit in DuckDB's
    `list_transform`/`list_sum` (whose distinct order is unspecified) —
    the same integers the r10 distinct-scan form produced (the
    run-length multiset IS the distinct-count multiset)."""
    n_total = F.size(elems)
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("sq"),
        F.lit(0).cast("int").alias("d"),
    )

    def merge(acc: Column, x: Column) -> Column:
        extend = F.struct(
            x.alias("prev"),
            (acc["run"] + 1).alias("run"),
            acc["sq"].alias("sq"),
            acc["d"].alias("d"),
        )
        close = F.struct(
            x.alias("prev"),
            F.lit(1).cast("long").alias("run"),
            (acc["sq"] + _quant_nlogn(acc["run"])).alias("sq"),
            (acc["d"] + 1).alias("d"),
        )
        return F.when(acc["prev"].eqNullSafe(x), extend).otherwise(
            F.when(acc["run"] == 0, extend).otherwise(close)
        )

    def finish(acc: Column) -> Column:
        sq = F.when(acc["run"] > 0, acc["sq"] + _quant_nlogn(acc["run"])).otherwise(
            acc["sq"]
        )
        d = F.when(acc["run"] > 0, acc["d"] + 1).otherwise(acc["d"])
        h = (
            F.log(n_total.cast("double"))
            - (sq.cast("double") / F.lit(ENTROPY_QUANT)) / n_total
        ) / F.lit(LN2)
        return F.struct(h.alias("h"), d.alias("d"))

    return F.aggregate(F.array_sort(elems), zero, merge, finish)


# Docs at or under this many tokens take the zero-shuffle per-row
# entropy expression (O(gate·log gate) per row after the r11 run-length
# rewrite — bounded and cheap); longer docs take the explode→groupBy
# path, which parallelizes a single megachar document across tasks.
TOKEN_ENTROPY_GATE = 512


def entropy_profile(df: DataFrame, token_gate: int = TOKEN_ENTROPY_GATE) -> DataFrame:
    """Per-document entropy quality signals (the repetition/diversity
    filters of C4 / Gopher / RefinedWeb-style cleaning, where low
    character- or word-entropy flags boilerplate, keyboard-mash and
    template text): character entropy, whitespace-token entropy, and
    the distinct counts behind them. Docs with no characters after
    filtering are excluded (entropy undefined on an empty multiset).

    Scale shape: docs with ≤ ``token_gate`` tokens stay on the
    zero-shuffle per-row run-length expression (O(L log L) per row,
    :func:`_entropy_stats`); longer docs go through explode →
    ``groupBy(doc_id, token).count()`` → an exact-integer Σ n·ln(n)
    re-aggregation — one shuffle, but a single megachar document
    parallelizes across tasks instead of occupying one row's
    expression eval. Both
    paths quantize each n·ln(n) term to 9-decimal fixed point and sum
    exact BIGINTs, so the result is identical regardless of path or
    partitioning and replays bit-for-bit in the DuckDB oracle."""
    chars = F.filter(F.split(F.col("text"), ""), lambda c: c != F.lit(""))
    toks = F.filter(tokens("text"), lambda t: t != F.lit(""))
    base = df.select(
        F.col("doc_id").alias("doc_id"), chars.alias("__chars"), toks.alias("__toks")
    ).filter((F.size("__chars") > 0) & (F.size("__toks") > 0))

    def finish(d: DataFrame) -> DataFrame:
        return d.select(
            "doc_id", "char_entropy", "token_entropy", "distinct_chars", "distinct_tokens"
        )

    # two-stage projection: the stats struct (one sort + run-length
    # scan) is computed ONCE per array, then h/d extract as cheap field
    # references — inlining the struct into all four output columns
    # would re-evaluate the interpreted HOF tree per column
    # (CollapseProject leaves the split alone: the aliases are
    # referenced more than once and the expressions are not cheap)
    short = (
        base.filter(F.size("__toks") <= F.lit(token_gate))
        .select(
            "doc_id",
            _entropy_stats(F.col("__chars")).alias("__cs"),
            _entropy_stats(F.col("__toks")).alias("__ts"),
        )
        .select(
            "doc_id",
            round_half_up(F.col("__cs.h"), 6).alias("char_entropy"),
            round_half_up(F.col("__ts.h"), 6).alias("token_entropy"),
            F.col("__cs.d").cast("long").alias("distinct_chars"),
            F.col("__ts.d").cast("long").alias("distinct_tokens"),
        )
    )

    # row key = (doc_id, token-array hash): a duplicated doc_id must
    # stay row-independent exactly like the per-row path (two rows with
    # the same id and DIFFERENT text aggregate separately; same id and
    # same text collapse to one group whose entropy equals the per-row
    # value — Shannon entropy is invariant under uniform multiset
    # scaling, and each joined-back row reports its own row's numbers)
    long_docs = base.filter(F.size("__toks") > F.lit(token_gate)).withColumn(
        "__tkey", F.xxhash64("__toks")
    )
    # explode → per-(doc, token) counts → exact-integer re-aggregation:
    # Σ floor(n·ln(n)·Q + 0.5) over BIGINTs is the same sum the per-row
    # expression folds, so the hybrid is output-invariant by construction
    n = F.col("__n").cast("double")
    tok_agg = (
        long_docs.select("doc_id", "__tkey", F.explode("__toks").alias("__tok"))
        .groupBy("doc_id", "__tkey", "__tok")
        .agg(F.count(F.lit(1)).alias("__n"))
        .groupBy("doc_id", "__tkey")
        .agg(
            F.sum(
                F.floor((n * F.log(n)) * F.lit(ENTROPY_QUANT) + F.lit(0.5))
            ).alias("__sq"),
            F.sum("__n").alias("__len"),
            F.count(F.lit(1)).alias("__d"),
        )
    )
    long_h = (
        F.log(F.col("__len").cast("double"))
        - (F.col("__sq").cast("double") / F.lit(ENTROPY_QUANT))
        / F.col("__len").cast("double")
    ) / F.lit(LN2)
    # chars take the SAME explode → exact-integer path on long docs
    # (r10: the per-row O(L·d) char expression was the entire long-doc
    # cost AND superlinear in practice — materializing a megachar array
    # per row churns memory; measured 5.9 -> 20.9 s for 2x chars, vs
    # 0.6 -> 0.9 s for the exploded token agg). Identical output by the
    # same quantized-BIGINT argument as tokens.
    cn = F.col("__n").cast("double")
    char_agg = (
        long_docs.select("doc_id", "__tkey", F.explode("__chars").alias("__ch"))
        .groupBy("doc_id", "__tkey", "__ch")
        .agg(F.count(F.lit(1)).alias("__n"))
        .groupBy("doc_id", "__tkey")
        .agg(
            F.sum(
                F.floor((cn * F.log(cn)) * F.lit(ENTROPY_QUANT) + F.lit(0.5))
            ).alias("__csq"),
            F.sum("__n").alias("__clen"),
            F.count(F.lit(1)).alias("__cd"),
        )
    )
    char_h = (
        F.log(F.col("__clen").cast("double"))
        - (F.col("__csq").cast("double") / F.lit(ENTROPY_QUANT))
        / F.col("__clen").cast("double")
    ) / F.lit(LN2)
    # join the two aggregates directly — both carry (doc_id, __tkey),
    # and a third reference to long_docs would recompute the whole
    # array-materializing projection once more (each reference re-runs
    # split/tokens over megachar docs)
    long_out = (
        tok_agg.join(char_agg, ["doc_id", "__tkey"])
        .select(
            "doc_id",
            round_half_up(char_h, 6).alias("char_entropy"),
            round_half_up(long_h, 6).alias("token_entropy"),
            F.col("__cd").cast("long").alias("distinct_chars"),
            F.col("__d").cast("long").alias("distinct_tokens"),
        )
    )
    return finish(short).unionByName(finish(long_out))


# ---------------------------------------------------------------------------
# Unicode hygiene (round 8). Web corpora mix precomposed and combining
# forms ("é" vs "e"+U+0301), zero-width characters and soft hyphens —
# byte-level dedup keys, shingles and token counts all fracture on them
# unless the text is normalized FIRST (C4/CCNet/RefinedWeb all
# normalize before dedup). Invisible-strip is a pure column expression;
# NFC composition needs the Unicode tables, so it rides the Arrow path
# (unicodedata in the worker — same normalization standard DuckDB's
# nfc_normalize implements, which is what makes it oracle-checkable).
# ---------------------------------------------------------------------------

# Default-ignorable / format (Cf) characters that fracture dedup keys,
# shingles and token counts in crawled text without rendering visibly.
# Widened (VERDICT r8 #7) from the original 5 code points to the
# practically-occurring Cf/default-ignorable class: directional marks
# and bidi embeddings/overrides/isolates appear constantly in RTL web
# text and make byte-identical-looking strings compare unequal.
# Excluded deliberately: variation selectors U+FE00-FE0F (they select
# emoji vs text presentation — stripping changes rendering semantics)
# and the U+E0000 tag block (carries flag-emoji payloads). Single-
# sourced into the SQL oracle generator (regex char class on both
# engines), so every char here must be regex-class-safe — all are.
INVISIBLE_CHARS = (
    "­"  # soft hyphen
    "؜"  # Arabic letter mark
    "᠎"  # Mongolian vowel separator
    "​‌‍"  # zero-width space / non-joiner / joiner
    "‎‏"  # LRM / RLM directional marks
    "‪‫‬‭‮"  # bidi embedding / override / pop
    "⁠⁡⁢⁣⁤"  # word joiner + invisible operators
    "⁦⁧⁨⁩"  # bidi isolates
    "⁪⁫⁬⁭⁮⁯"  # deprecated format controls
    "﻿"  # BOM / zero-width no-break space
    "￹￺￻"  # interlinear annotation controls
)


def strip_invisible(text_col: str | Column = "text") -> Column:
    """Remove zero-width and soft-hyphen characters (pure column
    expression — whole-stage codegen; the char class is shared with the
    SQL oracle via :data:`INVISIBLE_CHARS`)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_replace(col, f"[{INVISIBLE_CHARS}]", "")


def with_nfc_normalized(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_nfc",
) -> DataFrame:
    """Add ``out_col`` = NFC(strip_invisible(text)): canonical Unicode
    composition over the invisible-stripped text — the dedup-key
    normalization pass. Arrow ``mapInArrow`` (partition-preserving, no
    shuffle, no pandas detour); nulls pass through. At 100 TB this is a
    map-only stage that pipelines with whatever scan feeds it."""
    from pyspark.sql.types import StringType, StructField

    stripped = "__nfc_in"
    src = df.withColumn(stripped, strip_invisible(text_col))
    out_schema = src.drop(stripped).schema.add(StructField(out_col, StringType(), True))
    in_cols = [c for c in src.columns if c != stripped]
    # plain ints/strings only below — a closure touching `src` would
    # drag the SparkContext into the pickled worker function
    stripped_idx = src.columns.index(stripped)
    keep_idx = [src.columns.index(c) for c in in_cols]
    names = in_cols + [out_col]

    def gen(batches):
        import unicodedata

        import pyarrow as pa

        for batch in batches:
            raw = batch.column(stripped_idx).to_pylist()
            norm = [
                None if s is None else unicodedata.normalize("NFC", s) for s in raw
            ]
            keep = [batch.column(i) for i in keep_idx]
            yield pa.RecordBatch.from_arrays(
                keep + [pa.array(norm, type=pa.string())],
                names=names,
            )

    return src.mapInArrow(gen, out_schema)
