"""Document chunking and adjacent-pair statistics for LLM data prep.

Two corpus-scale text operators with no reference counterpart (the
reference processes event streams, not documents — nearest concern is
its text passthrough in src/streaming/transforms/activity_enricher.py):

  * ``chunk_documents`` — RAG-style overlapping token-window chunking:
    every document becomes ⌈n/stride⌉ chunks of ``window`` tokens with
    ``window − stride`` tokens of overlap, the standard retrieval-corpus
    prep (and the context-window split used before embedding). Pure
    narrow plan: scan → project → explode. No shuffle at any scale —
    a 100 TB corpus chunks at scan speed, partition by partition.
  * ``adjacent_pair_counts`` — corpus-wide adjacent token-pair
    frequencies (the scoring pass of one BPE merge round, and the
    collocation statistic behind phrase detection à la word2vec's
    phrase pass). One explode + one hash groupBy (map-side partial
    aggregation does the heavy lifting — pair counts collapse before
    the shuffle) + a TakeOrdered top-k: no global sort.

  * ``bpe_vocab_segments`` / ``bpe_vocab_token_counts`` — the
    production-merge-count APPLY path: broadcast the merge-rank dict to
    every executor and tokenize each distinct word inside an Arrow
    ``mapInPandas`` batch with the classic rank-priority loop. The
    nested-fold apply (``merge_pair_expr`` chained per merge) is the
    right plan at oracle-checked merge counts — pure JVM, no Python —
    but its Catalyst expression tree grows O(#merges) deep and cannot
    compile at a production tokenizer's 32k merges;
    ``bpe_vocab_token_counts`` routes between the two on a threshold.
    The two paths are provably equivalent (see ``segment_word``) and an
    equivalence test pins it.
  * ``bpe_train_merges_local`` — the production-vocab TRAIN path: the
    distributed word-frequency shuffle stays (that is the 100 TB part),
    then the vocab — which fits the driver; classic tokenizers train
    exactly this way — is collected ONCE and merges are learned with a
    lazy-invalidation heap and incremental pair-count deltas:
    O(affected words) per round instead of a full corpus shuffle per
    round, which is what makes 32k rounds feasible.

  * ``bpe_train_merges`` — full iterative BPE merge training (Sennrich
    et al. 2016, without the end-of-word marker): k rounds of
    (weighted pair count → argmax merge → greedy left-to-right apply)
    over the corpus word-frequency table. Each round is ONE shuffle
    whose rows are map-side-combined distinct pairs; the winning merge
    is a 1-row TakeOrdered collect (driver control state, k rows
    total); the merge APPLICATION is a pure JVM ``aggregate`` fold over
    the symbol arrays — no Python UDF, no per-word driver work. Round
    t re-derives symbols from the base character split through the t
    accumulated merge folds, so no distributed state persists between
    rounds and lineage stays one scan deep.

Everything is JVM built-ins (split/slice/transform/sequence/explode/
aggregate); no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.partitioning import ensure_parallelism as _spread
from cdc_pipeline_spark.operators.text import tokens


def chunk_documents(df: DataFrame, window: int = 64, stride: int = 48) -> DataFrame:
    """Split each document into overlapping token-window chunks.

    Chunk ``i`` covers tokens ``[i·stride, i·stride + window)``; the
    last chunk is short rather than padded. Output one row per chunk:
    (doc_id, chunk_id, n_tokens, chunk_text). Deterministic and
    rerun-stable — chunk identity is a pure function of the text.

    ``stride ≤ window`` (the RAG default) covers every token, adjacent
    chunks overlapping by ``window − stride``. ``stride > window`` is
    the sparse-sampling mode — strided windows with gaps between them
    (the text analogue of video frame sampling).

    Plan shape: narrow (project/explode — no shuffle on an input that
    already has adequate partitions; an under-partitioned source, e.g.
    one small parquet file, gets a one-time repartition via
    ``ensure_parallelism`` so the explode doesn't serialize onto one
    core). The explode multiplies rows by ~n_tokens/stride, so
    downstream consumers should expect the row count, not the byte
    count, to grow: each token lands in ``window/stride`` chunks
    (~1.33× bytes at the 64/48 default).
    """
    from cdc_pipeline_spark.operators.partitioning import ensure_parallelism

    if window <= 0 or stride <= 0:
        raise ValueError("window and stride must be positive")
    # drop the [''] artifact split() yields for empty/whitespace text:
    # an empty document has ZERO chunks (⌈0/stride⌉), not one phantom
    # chunk claiming a token
    toks = F.filter(tokens("text"), lambda t: t != F.lit(""))
    starts = F.sequence(F.lit(0), F.greatest(F.size("__toks") - 1, F.lit(0)), F.lit(stride))
    return (
        ensure_parallelism(df)
        .select("doc_id", toks.alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select("doc_id", "__toks", F.size("__toks").alias("__n"), F.posexplode(starts))
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("chunk_id"),
            F.least(F.lit(window), F.col("__n") - F.col("col")).cast("long").alias("n_tokens"),
            F.concat_ws(" ", F.slice(F.col("__toks"), F.col("col") + 1, window)).alias(
                "chunk_text"
            ),
        )
    )


def adjacent_pair_counts(df: DataFrame, k: int = 30) -> DataFrame:
    """Top-``k`` adjacent token pairs by corpus frequency — the
    candidate-scoring half of a BPE merge step / collocation mining.

    All occurrences count (not per-doc distinct): BPE merge priority is
    total frequency. Ties break on the pair string so the top-k set is
    deterministic. Returns (pair, n_docs, n_occurrences) ordered by
    (n_occurrences DESC, pair ASC).

    Scale: the explode emits one row per token, but map-side partial
    aggregation collapses to distinct-pairs-per-partition before the
    single shuffle; the final top-k is a TakeOrdered (no global sort).
    """
    from cdc_pipeline_spark.operators.text import adjacent_grams

    toks = tokens("text")
    pairs = adjacent_grams(F.col("__toks"))
    posting = (
        _spread(df)
        .select("doc_id", toks.alias("__toks"))
        .select("doc_id", F.explode_outer(pairs).alias("pair"))
        .filter(F.col("pair").isNotNull())
    )
    counts = posting.groupBy("pair").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    return counts.orderBy(F.col("n_occurrences").desc(), F.col("pair").asc()).limit(k)


def merge_pair_expr(syms, a: str, b: str):
    """Greedy left-to-right non-overlapping merge of adjacent symbol
    pair (a, b) into ``a+b`` — the apply step of one BPE merge round,
    as a pure JVM ``aggregate`` fold (state: emitted prefix + one
    pending symbol; '' is the no-pending sentinel, impossible as a real
    symbol since characters and merges are non-empty).

    Greedy semantics match the classic implementation: "aaa" under
    (a,a) becomes ["aa","a"], and a merged token is not reconsidered as
    the LEFT side within the same round (it is appended to the result,
    never to the pending slot)."""

    def _acc(res, prev):
        return F.struct(res.alias("res"), prev.alias("prev"))

    init = _acc(F.array().cast("array<string>"), F.lit(""))

    def step(acc, s):
        return (
            F.when(acc["prev"] == F.lit(""), _acc(acc["res"], s))
            .when(
                (acc["prev"] == F.lit(a)) & (s == F.lit(b)),
                _acc(F.concat(acc["res"], F.array(F.lit(a + b))), F.lit("")),
            )
            .otherwise(_acc(F.concat(acc["res"], F.array(acc["prev"])), s))
        )

    def fin(acc):
        return F.when(acc["prev"] == F.lit(""), acc["res"]).otherwise(
            F.concat(acc["res"], F.array(acc["prev"]))
        )

    return F.aggregate(syms, init, step, fin)


def bpe_train_merges(
    df: DataFrame,
    rounds: int = 8,
    max_word_chars: int | None = None,
) -> list[tuple[str, str, int]]:
    """Train ``rounds`` BPE merges over the corpus; returns the ordered
    merge table [(left, right, score)].

    The distributed state is the word-frequency table with its CURRENT
    symbol split, rolled forward incrementally (r11 optimization): one
    groupBy of the token explode builds (word, freq, base char split) —
    at 100 TB the standard vocab-count shuffle, map-side combined —
    and each round applies ONLY the newly-learned merge to the
    materialized symbols (one ``aggregate`` fold), localCheckpoints the
    result, and argmaxes the next merge. The previous form re-derived
    symbols from the base split through ALL accumulated folds every
    round — O(rounds²) fold applications and a per-round plan whose
    nested-fold tree grew with the merge count (Catalyst re-analysis
    made round cost CLIMB: measured 0.60→0.95 s/round vs a constant
    0.33 s/round incremental, identical merges, sf0.1 A/B). Applying
    merge r to the round-(r−1) symbol state is definitionally the same
    as replaying all r folds from the base split, so the merge table is
    bit-identical. Per round: adjacent pair counts weighted by word
    frequency collapse map-side before ONE shuffle; the argmax merge
    (count DESC, pair ASC — deterministic) is a 1-row collect. Stops
    early when no pair remains. Counts are integer sums — exact under
    any partitioning, which is what lets a SQL replay match
    bit-for-bit. (localCheckpoint trades executor-loss replayability
    for the truncated lineage — the same trade bm25/semantic_dedup
    make; a lost executor fails the job instead of silently
    recomputing. Storage note, mirroring kcenter_greedy: each round's
    checkpoint holds a copy of the corpus-scale word/symbol state in
    executor storage until the driver GCs the previous ``state``
    reference — for merge schedules of thousands of rounds budget
    executor storage accordingly, or re-derive from the base split
    every N rounds to bound live copies.)

    ``max_word_chars`` (default off — the oracle-checked semantics)
    drops pathologically long "words" (URLs, base64 blobs) before the
    character split: on web-scale corpora a handful of megabyte tokens
    would otherwise dominate the per-round symbol rows and the fold
    cost while contributing nothing to a useful merge table. At 100 TB,
    set it (the classic tokenizers pre-tokenize such spans away too).
    """
    # rounds <= 0 learns nothing: return before the eager checkpoint
    # below pays a full corpus materialization job for an empty merge
    # table (ADVICE r11)
    if rounds <= 0:
        return []
    words = (
        _spread(df)
        .select(F.explode(tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if max_word_chars is not None:
        words = words.filter(F.length("word") <= int(max_word_chars))
    state = words.withColumn("__syms", F.split(F.col("word"), "")).localCheckpoint(
        eager=True
    )
    merges: list[tuple[str, str, int]] = []
    for t in range(rounds):
        sc = F.col("__syms")
        n = F.size(sc)
        idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
        pair = F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(sc, i).alias("a"),
                F.element_at(sc, i + 1).alias("b"),
            ),
        )
        best = (
            state.select("freq", F.explode(pair).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        r = best[0]
        merges.append((r["a"], r["b"], int(r["cnt"])))
        if t < rounds - 1:
            # roll the state forward: apply ONLY the new merge to the
            # materialized symbols (identical to replaying the full
            # fold chain from the base split — see docstring)
            state = state.withColumn(
                "__syms", merge_pair_expr(F.col("__syms"), r["a"], r["b"])
            ).localCheckpoint(eager=True)
    return merges

# Catalyst nested-expression depth ceiling for the fold-apply path: one
# `aggregate` fold per merge chains the expression tree O(#merges) deep,
# which stops compiling (and stops being the fast plan) long before a
# production tokenizer's 32k merges. Above this, route to the Arrow
# rank-priority tokenizer. 64 keeps every oracle-checked configuration
# (8 rounds) on the pure-JVM path with a wide safety margin.
FOLD_APPLY_MAX_MERGES = 64


def bpe_rank_table(merges) -> dict[tuple[str, str], int]:
    """Merge list [(a, b, ...)] → rank dict {(a, b): training order}."""
    return {(m[0], m[1]): i for i, m in enumerate(merges)}


def _merge_pass(syms: list[str], a: str, b: str, merged: str) -> list[str]:
    """One greedy left-to-right non-overlapping pass replacing adjacent
    (a, b) with ``merged`` — the SINGLE Python twin of
    ``merge_pair_expr``'s JVM fold, shared by the segmenter and the
    driver-side trainer so their greedy semantics cannot drift apart
    (the bit-for-bit equivalence tests rely on them being identical)."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Classic rank-priority BPE application: repeatedly merge the
    lowest-rank adjacent pair present (greedy left-to-right within the
    pass) until no ranked pair remains.

    Provably equivalent to applying each merge fully in rank order
    (the ``merge_pair_expr`` fold chain): a merge's output symbol can
    only be consumed by LATER merges (the symbol did not exist when
    earlier merges were learned), so merging the minimum-rank pair
    first never creates or destroys an opportunity for a lower rank —
    the two strategies produce identical segmentations. The
    equivalence test in tests/test_properties.py pins this against the
    fold path on a trained merge table.
    """
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        best = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best = r, (syms[i], syms[i + 1])
        if best is None:
            break
        a, b = best
        syms = _merge_pass(syms, a, b, a + b)
    return syms


def bpe_vocab_segments(words: DataFrame, merges, word_col: str = "word") -> DataFrame:
    """Segment each word with the trained merge table inside Arrow
    ``mapInPandas`` batches → (word, syms array<string>).

    The rank dict travels as a real ``SparkContext.broadcast`` (one
    copy per executor, not per task — a 32k-merge table is ~1 MB and a
    100 TB corpus runs millions of tasks). Partition-preserving: no
    shuffle; callers feed the DISTINCT vocab so the per-occurrence cost
    downstream is a hash-join probe, not a re-segmentation.
    """
    import pandas as pd

    ranks = bpe_rank_table(merges)
    bc = words.sparkSession.sparkContext.broadcast(ranks)

    def run(batches):
        r = bc.value
        for batch in batches:
            col = batch[word_col]
            yield pd.DataFrame(
                {"word": col.values, "syms": [segment_word(w, r) for w in col]}
            )

    # drop empty words so the contract matches the fold path, where
    # F.split('', '') yields [''] (1 phantom symbol) but segment_word('')
    # yields [] — the one input the two paths would disagree on. A BPE
    # vocab has no empty word anyway (tokenizers filter them upstream,
    # as do the workload callers).
    cleaned = words.select(F.col(word_col).alias(word_col)).filter(
        F.col(word_col) != ""
    )
    return _spread(cleaned).mapInPandas(run, "word string, syms array<string>")


def bpe_vocab_token_counts(
    words: DataFrame,
    merges,
    word_col: str = "word",
    fold_max_merges: int = FOLD_APPLY_MAX_MERGES,
) -> DataFrame:
    """(word, n_syms) per distinct word — the apply-step core of BPE
    token counting. Routes by merge count: the pure-JVM fold chain
    under the Catalyst depth ceiling, the broadcast-ranks Arrow
    tokenizer beyond it (identical output either way; empty words are
    dropped on BOTH paths — they are the one input where F.split and
    segment_word disagree, and no real vocab contains them)."""
    if len(merges) <= fold_max_merges:
        syms = F.split(F.col(word_col), "")
        for m in merges:
            syms = merge_pair_expr(syms, m[0], m[1])
        return words.filter(F.col(word_col) != "").select(
            F.col(word_col).alias("word"), F.size(syms).alias("n_syms")
        )
    return bpe_vocab_segments(words, merges, word_col).select(
        "word", F.size("syms").alias("n_syms")
    )


def bpe_train_merges_local(
    df: DataFrame | None,
    rounds: int = 8,
    max_word_chars: int | None = None,
    max_vocab_rows: int = 5_000_000,
    words_freq: DataFrame | None = None,
) -> list[tuple[str, str, int]]:
    """Train ``rounds`` BPE merges with the distributed word-frequency
    shuffle + a driver-side heap — bit-identical merges and scores to
    ``bpe_train_merges`` (equivalence test pins it), but O(affected
    words) per round instead of one full corpus shuffle per round,
    which is what makes production merge counts (32k) feasible.

    The ONLY distributed stage is the word-frequency groupBy — the same
    map-side-combined shuffle the per-round trainer starts from, and
    the only stage whose cost scales with corpus size. The distinct
    vocab (NOT the corpus) is then collected once; a web-scale corpus'
    vocab is millions of rows, which fits any driver — this is exactly
    how the classic tokenizers train. ``max_vocab_rows`` guards the
    collect: exceeding it raises instead of silently truncating (raise
    ``max_word_chars`` filtering or the cap itself).

    Driver-side: pair counts are maintained incrementally (subtract a
    touched word's old adjacent pairs, re-add its new ones — integer
    deltas, exact) with a pair→words index so each round touches only
    words containing the winning pair, and the argmax is a
    lazy-invalidation heap keyed (-count, a, b) — the same
    (count DESC, pair ASC) tie-break as the distributed trainer and the
    DuckDB oracle replay. Python compares strings by code point and
    Spark/DuckDB by UTF-8 bytes; UTF-8 byte order equals code-point
    order, so the tie-break agrees across engines.
    """
    import heapq
    from collections import defaultdict

    if words_freq is not None:
        # caller already holds the (word, freq) table (e.g. derived from
        # a materialized per-doc word-count frame a train→apply pipeline
        # shares) — don't re-tokenize the corpus for it
        words_df = words_freq
    else:
        words_df = (
            _spread(df)
            .select(F.explode(tokens("text")).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("freq"))
        )
    if max_word_chars is not None:
        words_df = words_df.filter(F.length("word") <= int(max_word_chars))
    rows = words_df.limit(max_vocab_rows + 1).collect()
    if len(rows) > max_vocab_rows:
        raise ValueError(
            f"vocabulary exceeds max_vocab_rows={max_vocab_rows}; raise the cap "
            "or set max_word_chars to drop pathological tokens"
        )
    # sort for a reproducible build order (results are order-independent
    # — integer counts and a total argmax tie-break — but determinism in
    # the construction makes failures replayable)
    vocab = sorted((r["word"], int(r["freq"])) for r in rows)

    words = [list(w) for w, _ in vocab]
    freqs = [f for _, f in vocab]
    pair_counts: dict[tuple[str, str], int] = defaultdict(int)
    pair_words: dict[tuple[str, str], set[int]] = defaultdict(set)
    for wi, syms in enumerate(words):
        f = freqs[wi]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += f
            pair_words[p].add(wi)

    heap = [(-c, a, b) for (a, b), c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str, int]] = []
    for _ in range(rounds):
        # pop until the top entry matches the live count (lazy invalidation)
        best = None
        while heap:
            nc, a, b = heap[0]
            cur = pair_counts.get((a, b), 0)
            if cur <= 0:
                heapq.heappop(heap)
                pair_counts.pop((a, b), None)
                continue
            if -nc != cur:
                heapq.heappop(heap)  # stale entry; a fresh one was pushed
                continue
            best = (a, b, cur)
            break
        if best is None:
            break
        a, b, score = best
        merges.append((a, b, score))
        merged = a + b

        affected = pair_words.pop((a, b), set())
        touched: set[tuple[str, str]] = set()
        for wi in affected:
            syms = words[wi]
            f = freqs[wi]
            # subtract the word's old pair contributions, re-add after the
            # greedy pass — exact integer deltas, and a stale index entry
            # (word no longer contains the pair) nets to zero harmlessly
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] -= f
                touched.add(p)
            out = _merge_pass(syms, a, b, merged)
            words[wi] = out
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                pair_counts[p] += f
                pair_words[p].add(wi)
                touched.add(p)
        pair_counts.pop((a, b), None)
        for p in touched:
            c = pair_counts.get(p, 0)
            if c <= 0:
                pair_counts.pop(p, None)
            elif p != (a, b):
                heapq.heappush(heap, (-c, p[0], p[1]))
    return merges


# ---------------------------------------------------------------------------
# WordPiece-style greedy tokenizer: the other classic subword family
# beside BPE. Deliberately formulated with INTEGER-only decisions —
# vocabulary selection by (weighted count DESC, piece ASC) and greedy
# longest-prefix-match segmentation — so both stages replay exactly in
# SQL (no EM float scores; hard greedy matching is the deterministic
# member of the unigram-LM family and what production WordPiece
# inference actually runs).
# ---------------------------------------------------------------------------


def word_freq_table(df: DataFrame, max_word_chars: int = 64) -> DataFrame:
    """Distinct-word frequency table → (word, freq): the shared 100 TB
    entry stage of every tokenizer trainer here (BPE / WordPiece /
    unigram) — one map-side-combined shuffle bounded by the corpus
    VOCABULARY, not its token count."""
    return (
        _spread(df)
        .select(F.explode(tokens("text")).alias("word"))
        .filter((F.col("word") != "") & (F.length("word") <= max_word_chars))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def wordpiece_vocab(df: DataFrame, vocab_size: int = 500) -> DataFrame:
    """Select the top-``vocab_size`` subword pieces by corpus-weighted
    substring frequency → (piece, weight, rank).

    Plan: ONE word-frequency shuffle (the same 100 TB vocab-count stage
    BPE training starts from), then substring enumeration runs over the
    DISTINCT word table (bounded by vocab, not corpus), one more
    map-side-combined groupBy, and a TakeOrdered top-k. Every piece at
    every start position counts, weighted by word frequency — integer
    sums, exact under any partitioning. Words are cut at 64 chars and
    pieces at 4, which bounds the per-word substring blowup (a w-char
    word emits ≤ 4w pieces) against megabyte URL/base64 tokens.
    """
    words = word_freq_table(df)
    return _rank_top_pieces(_substring_piece_weights(words, 4), vocab_size)


def _substring_piece_weights(words: DataFrame, max_piece_len: int) -> DataFrame:
    """Corpus-weighted substring frequencies over a (word, freq) table →
    (piece, weight): the shared seed-counting stage of the WordPiece and
    unigram trainers, separated so a caller that already holds the word
    table (unigram's hard-EM loop) doesn't recompute the corpus scan."""
    starts = F.sequence(F.lit(1), F.length("word"))
    lens = F.sequence(F.lit(1), F.lit(max_piece_len))
    return (
        words.select("freq", F.explode(starts).alias("start"), F.col("word"))
        .select("freq", "word", "start", F.explode(lens).alias("len"))
        .filter(F.col("start") + F.col("len") - 1 <= F.length("word"))
        .select(
            F.substring(F.col("word"), F.col("start"), F.col("len")).alias("piece"),
            "freq",
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("weight"))
    )


def _rank_top_pieces(pieces: DataFrame, k: int) -> DataFrame:
    """Deterministic vocab-selection tail shared by the tokenizer
    trainers: top-k FIRST by (weight DESC, piece ASC) — a
    TakeOrderedAndProject, no global sort shuffle over the full piece
    table — then a dense rank over the tiny selected set."""
    from pyspark.sql import Window

    order = [F.col("weight").desc(), F.col("piece").asc()]
    return (
        pieces.orderBy(*order)
        .limit(k)
        .select(
            "piece",
            "weight",
            F.row_number().over(Window.orderBy(*order)).cast("long").alias("rank"),
        )
    )


def _segment_counts_map(words: DataFrame, word_col: str, payload, segment) -> DataFrame:
    """Shared apply harness of the tokenizer families: broadcast
    ``payload`` (one copy per executor) and run ``segment(word,
    payload) -> (n_pieces, n_unk)`` per DISTINCT word in Arrow batches
    → (word, n_pieces, n_unk). Empty words are dropped on entry."""
    import pandas as pd

    bc = words.sparkSession.sparkContext.broadcast(payload)

    def run(batches):
        table = bc.value
        for batch in batches:
            col = batch[word_col]
            segs = [segment(w_, table) for w_ in col]
            yield pd.DataFrame(
                {
                    "word": col.values,
                    "n_pieces": [s[0] for s in segs],
                    "n_unk": [s[1] for s in segs],
                }
            )

    cleaned = words.select(F.col(word_col).alias(word_col)).filter(
        F.col(word_col) != ""
    )
    return _spread(cleaned).mapInPandas(run, "word string, n_pieces long, n_unk long")


def wordpiece_segment_counts(words: DataFrame, vocab_pieces: list[str]) -> DataFrame:
    """Greedy longest-prefix-match token counts per distinct word →
    (word, n_pieces, n_unk). At each position the longest vocab piece
    matching the prefix is consumed; no match consumes one character as
    UNK. Deterministic and integer-only, so a SQL recursive CTE replays
    it bit-for-bit.

    The vocab travels as a real broadcast (length-bucketed hash sets —
    one copy per executor); matching runs inside Arrow ``mapInPandas``
    batches over the DISTINCT vocab of the corpus (the word-cache
    pattern: per-occurrence cost downstream is a join probe)."""
    by_len: dict[int, set] = {}
    for p in vocab_pieces:
        by_len.setdefault(len(p), set()).add(p)
    lengths = sorted(by_len, reverse=True)

    def segment(word: str, table) -> tuple[int, int]:
        buckets, lens = table
        n_pieces = n_unk = 0
        pos, n = 0, len(word)
        while pos < n:
            step = 1
            matched = False
            for ln in lens:
                if ln <= n - pos and word[pos : pos + ln] in buckets.get(ln, ()):
                    step, matched = ln, True
                    break
            if not matched:
                n_unk += 1
            n_pieces += 1
            pos += step
        return n_pieces, n_unk

    return _segment_counts_map(words, "word", (by_len, lengths), segment)


# ---------------------------------------------------------------------------
# Unigram-LM-style tokenizer: the third classic subword family beside
# BPE (merge-rank) and WordPiece (greedy longest-match). Inference is
# the OPTIMAL segmentation of each word by Viterbi DP — what
# SentencePiece's unigram model runs — and training is one hard-EM
# refinement: segment the corpus under a seed vocabulary, re-weight
# every piece by its corpus usage, keep the top-k. Formulated with
# INTEGER-only decisions (the true model's float log-probs cannot
# replay bit-for-bit across engines): the DP objective is the total
# lexicographic order (fewest pieces, fewest UNKs, greatest summed
# piece weight, longest trailing piece), so every choice — and
# therefore every hard-EM count — replays exactly in SQL.
# ---------------------------------------------------------------------------


def unigram_viterbi(
    word: str, weights: dict[str, int], max_piece_len: int = 4
) -> tuple[int, int, list[str]]:
    """Optimal DP segmentation of one word → (n_pieces, n_unk, pieces).

    dp[i] covers the first i characters; candidates at i are every
    vocab piece ending there (length 1..max_piece_len) plus a 1-char
    UNK fallback. Best by (n_pieces ASC, n_unk ASC, weight DESC,
    piece_len DESC) — a total order: candidates of equal length differ
    in piece (hence weight-path), and UNK differs from the 1-char vocab
    candidate in n_unk, so no tie is ever left to iteration order.
    UNK positions are excluded from ``pieces``."""
    n = len(word)
    dp: list[tuple[int, int, int, int, str | None]] = [(0, 0, 0, 0, None)] + [
        None
    ] * n  # type: ignore[list-item]
    for i in range(1, n + 1):
        prev = dp[i - 1]
        best = (prev[0] + 1, prev[1] + 1, prev[2], 1, None)  # UNK char
        for j in range(1, min(max_piece_len, i) + 1):
            piece = word[i - j : i]
            w = weights.get(piece)
            if w is None:
                continue
            p = dp[i - j]
            cand = (p[0] + 1, p[1], p[2] + w, j, piece)
            if (cand[0], cand[1], -cand[2], -cand[3]) < (
                best[0],
                best[1],
                -best[2],
                -best[3],
            ):
                best = cand
        dp[i] = best
    pieces: list[str] = []
    pos = n
    while pos > 0:
        _, _, _, j, piece = dp[pos]
        if piece is not None:
            pieces.append(piece)
        pos -= j
    return dp[n][0], dp[n][1], pieces


def _viterbi_usage(
    words: DataFrame, weights: dict[str, int], max_piece_len: int = 4
) -> DataFrame:
    """Hard-EM E-step: Viterbi-segment every DISTINCT word under
    ``weights`` and aggregate corpus piece usage → (piece, weight).
    The vocab travels as one broadcast per executor; segmentation runs
    in Arrow batches over the vocabulary (bounded by distinct words,
    not corpus tokens); usage is one map-side-combined integer shuffle."""
    import pandas as pd

    bc = words.sparkSession.sparkContext.broadcast(weights)

    def run(batches):
        table = bc.value
        for batch in batches:
            out_piece: list[str] = []
            out_freq: list[int] = []
            for w_, f_ in zip(batch["word"], batch["freq"]):
                for p in unigram_viterbi(w_, table, max_piece_len)[2]:
                    out_piece.append(p)
                    out_freq.append(f_)
            yield pd.DataFrame({"piece": out_piece, "freq": out_freq})

    return (
        _spread(words)
        .mapInPandas(run, "piece string, freq long")
        .groupBy("piece")
        .agg(F.sum("freq").alias("weight"))
    )


def unigram_vocab(
    df: DataFrame | None,
    vocab_size: int = 200,
    seed_size: int = 600,
    max_piece_len: int = 4,
    max_word_chars: int = 16,
    words_freq: DataFrame | None = None,
) -> DataFrame:
    """Hard-EM unigram vocabulary → (piece, weight, rank).

    Seed = top-``seed_size`` substrings by corpus-weighted frequency
    (``wordpiece_vocab`` — the same one-shuffle vocab-count stage);
    E-step = Viterbi usage under the seed; M-step = keep the
    top-``vocab_size`` pieces by (usage DESC, piece ASC), weight =
    usage. Only the seed (bounded control state, like centroids) is
    ever collected; both corpus passes are distinct-word-bounded.

    The (word, freq) table is materialized ONCE and shared by the seed
    count and the E-step: the two run in separate jobs (the seed is
    collected before the E-step plan exists), so without the checkpoint
    the corpus tokenize+groupBy executes twice. The cached table is
    vocabulary-bounded, not corpus-bounded. A caller already holding a
    (word, freq) table (length-capped to ``max_word_chars``; e.g. the
    train→apply pipeline's shared per-doc word counts) passes it via
    ``words_freq`` and no corpus scan happens here at all."""
    words = (
        words_freq
        if words_freq is not None
        else word_freq_table(df, max_word_chars=max_word_chars).localCheckpoint(eager=True)
    )
    seed = {
        r["piece"]: r["weight"]
        for r in _rank_top_pieces(
            _substring_piece_weights(words, max_piece_len), seed_size
        ).collect()
    }
    return _rank_top_pieces(_viterbi_usage(words, seed, max_piece_len), vocab_size)


def unigram_segment_counts(
    words: DataFrame,
    weights: dict[str, int],
    max_piece_len: int = 4,
) -> DataFrame:
    """Viterbi token counts per distinct word → (word, n_pieces, n_unk)
    under a trained unigram vocabulary (the inference half; shared
    broadcast + Arrow-batch harness with ``wordpiece_segment_counts``)."""
    return _segment_counts_map(
        words,
        "word",
        weights,
        lambda w_, table: unigram_viterbi(w_, table, max_piece_len)[:2],
    )
