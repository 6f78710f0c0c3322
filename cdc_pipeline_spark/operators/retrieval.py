"""BM25 ranked retrieval over a document corpus.

Okapi BM25 with the Lucene non-negative idf variant
``idf(t) = ln(1 + (N − df + 0.5) / (df + 0.5))`` and the standard
length-normalized tf ``tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``
(Robertson & Spärck Jones; Robertson et al., TREC-3).

Reference parity: the reference engine has no retrieval surface — this
module is part of the §2.12 training-data mandate: benchmark-contamination
lookup, RAG context retrieval and lexical hard-negative mining all reduce
to ranked term retrieval over the corpus.

Determinism (SCALE.md cross-engine policy): per-(doc, term) BM25 weights
are computed once in double precision from scalar corpus statistics (no
float summation), quantized to 6-decimal fixed point
(``floor(w·1e6 + 0.5)`` → ``decimal(18,0)``), and per-query scores are
EXACT decimal sums of those integers — order-independent at any
partitioning, bit-replayable in the DuckDB oracle (the same pattern as
``dedup.tfidf_cosine_pairs``). Ranking ties break on the exact quantized
score then ``doc_id``.

Scale shape (100 TB corpus): tf / df / dl / N are map-side-combined
aggregates; the (doc, term) weight table is data-proportional; the
query-term join is a broadcast semi-join that prunes the corpus to
matching postings BEFORE any shuffle, so per-query work is proportional
to the postings of the query's terms, not the corpus. Ranking is
per-query adaptive (``bm25_topk_from_weights``): narrow queries share
one salted two-phase window pass; broad queries — candidate postings
above ``broad_candidates`` — rank via TakeOrderedAndProject
(per-partition heaps + driver merge, ``topk.top_k`` shape), so a broad
single-term query never shuffles or sorts its corpus-sized posting set.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.rounding import round_half_up
from cdc_pipeline_spark.operators.topk import grouped_top_k, grouped_top_k_salted

# Default retrieval batch for the workload query / oracle pair. Terms are
# drawn from the synthetic corpus vocabulary (TESTDATA.md): a mix of
# near-universal terms (idf ≈ ln(1 + ~0.3)) and the one rare term 'dup'
# (df ≈ 5% of docs) so idf contrast is actually exercised.
BM25_QUERIES: tuple[tuple[int, tuple[str, ...]], ...] = (
    (0, ("spark", "hash", "join")),
    (1, ("merge", "sort", "batch")),
    (2, ("dup", "key", "scan")),
    (3, ("the", "vector", "line", "fast")),
)

QUANT = 1_000_000.0  # 6-decimal fixed-point weight quantization


def token_tf(df: DataFrame) -> DataFrame:
    """Per-(doc, token) term frequencies ``(doc_id, token, tf)`` under
    the corpus-wide tokenization convention (lower, split ``\\s+``, drop
    empties — same as ``dedup.tfidf_cosine_pairs``)."""
    tok = (
        df.select(
            "doc_id",
            F.explode_outer(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"),
        )
        .filter(F.col("token").isNotNull() & (F.col("token") != ""))
    )
    return tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))


def doc_lengths(df: DataFrame, tf: DataFrame) -> DataFrame:
    """``(doc_id, dl)`` for EVERY document — token-less docs carry
    ``dl = 0`` (they score 0 everywhere but still shape N and avgdl)."""
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    return (
        df.select("doc_id")
        .join(dl, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("dl"), F.lit(0)).cast("long").alias("dl"))
    )


def _wq_col(k1: float, b: float):
    """The quantized BM25 weight expression over columns ``tf``, ``dl``,
    ``df``, ``n_docs``, ``total_tok`` — ONE definition shared by every
    weight producer so the float association (and therefore the
    quantized integer) is bit-identical between the from-stats path and
    the materialized batch path, and matches the oracle's interpolated
    formula."""
    avgdl = F.col("total_tok").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
    )
    return F.floor(idf * tfn * F.lit(QUANT) + F.lit(0.5)).cast("decimal(18,0)")


def bm25_term_weights_from_stats(tf: DataFrame, doclens: DataFrame) -> DataFrame:
    """Per-(doc, token) quantized BM25 weights: ``(doc_id, token, wq)``
    with ``wq = floor(idf·tfnorm·1e6 + 0.5)`` as ``decimal(18,0)``,
    derived from a ``(doc_id, token, tf)`` table and a ``(doc_id, dl)``
    table — the two tables a streaming index maintains incrementally
    (`streaming/retrieval_index.py`). ``N = count(doclens)``,
    ``avgdl = Σdl / N`` as a double."""
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_tok")
    )
    return (
        tf.join(doclens, "doc_id")
        .join(dfreq, "token")
        .join(F.broadcast(stats))
        .select("doc_id", "token", _wq_col(1.2, 0.75).alias("wq"))
    )


def _finish_ranked(ranked: DataFrame) -> DataFrame:
    return ranked.select(
        "query_id",
        "doc_id",
        round_half_up(F.col("scoreq").cast("double") / F.lit(QUANT), 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def bm25_topk_from_weights(
    w: DataFrame,
    queries: Sequence[tuple[int, tuple[str, ...]]] = BM25_QUERIES,
    k: int = 10,
    broad_candidates: int | None = None,
    probe: DataFrame | None = None,
) -> DataFrame:
    """Rank a ``(doc_id, token, wq)`` weight table against a term-query
    batch: ``(query_id, doc_id, score, rank)``, rank 1..k per query.

    ``score = Σ_t wq(doc, t) / 1e6`` over the query's DISTINCT terms
    (bag-of-words queries re-weight client-side), summed exactly in
    decimal; ranking orders by the exact quantized sum before rounding.

    Two ranking strategies, chosen per query:

    * **narrow** (default for every query when ``broad_candidates`` is
      None): salted two-phase window top-k — one candidate shuffle, all
      queries ranked in one plan branch.
    * **broad** (``broad_candidates`` set): queries whose candidate
      posting count — Σ df(t) over the query's terms, probed with ONE
      bounded collect of ≤ |batch terms| rows — exceeds the threshold
      are ranked per query via ``orderBy().limit(k)`` instead, which
      compiles to TakeOrderedAndProject: per-partition heaps + a
      k·partitions driver merge, NO candidate shuffle and no sort of
      the full posting set (a broad single-term query over a 100 TB
      corpus has corpus-sized candidates — even the salted window must
      shuffle and sort all of them). Single-term broad queries skip the
      score aggregation entirely (one posting row per doc already).
      Every branch shares the upstream tf groupBy via ReusedExchange.

    Output is strategy-independent: both rank by the same total order
    (exact quantized score DESC, doc_id ASC) — pinned by an equivalence
    test on a planted broad-term corpus.
    """
    batch = [(int(qid), tuple(dict.fromkeys(terms))) for qid, terms in queries]
    broad_ids: set[int] = set()
    if broad_candidates is not None and batch:
        probe_terms = sorted({t for _, terms in batch for t in terms})
        tdf = w.sparkSession.createDataFrame([(t,) for t in probe_terms], "token string")
        # bounded control-state collect: one row per distinct batch term.
        # `probe` lets callers with a CHEAPER per-(doc, token) source —
        # e.g. the streaming index's stored tf table — count df without
        # executing the full weight plan (tf ⨝ doclens ⨝ dfreq ⨝ stats)
        # twice; df is identical on either (both are one row per posting).
        src = w if probe is None else probe
        dfreq = {
            r["token"]: r["df"]
            for r in src.join(F.broadcast(tdf), "token").groupBy("token").agg(F.count(F.lit(1)).alias("df")).collect()
        }
        broad_ids = {
            qid for qid, terms in batch
            if sum(dfreq.get(t, 0) for t in terms) > broad_candidates
        }

    parts: list[DataFrame] = []
    narrow = [(qid, terms) for qid, terms in batch if qid not in broad_ids]
    if narrow:
        rows = [(qid, t) for qid, terms in narrow for t in terms]
        qdf = w.sparkSession.createDataFrame(rows, "query_id long, token string")
        scored = (
            w.join(F.broadcast(qdf), "token")
            .groupBy("query_id", "doc_id")
            .agg(F.sum("wq").alias("scoreq"))
        )
        # two-phase ranking: query batches are low-cardinality groups, so a
        # plain per-query window is one reducer per query at 100 TB; the
        # salted variant is output-identical (total order) and n_salts× wider
        parts.append(
            grouped_top_k_salted(
                scored,
                ["query_id"],
                [F.col("scoreq").desc(), F.col("doc_id")],
                k,
                salt_col="doc_id",
            ).select("query_id", "doc_id", "scoreq", "rank")
        )
    for qid, terms in batch:
        if qid not in broad_ids:
            continue
        tdf = w.sparkSession.createDataFrame([(t,) for t in terms], "token string")
        cand = w.join(F.broadcast(tdf), "token")
        if len(terms) == 1:
            scored_q = cand.select("doc_id", F.col("wq").cast("decimal(28,0)").alias("scoreq"))
        else:
            scored_q = cand.groupBy("doc_id").agg(F.sum("wq").alias("scoreq"))
        heap_k = scored_q.orderBy(F.col("scoreq").desc(), F.col("doc_id")).limit(k)
        ranked_q = grouped_top_k(  # ≤ k surviving rows: rank assignment is trivial
            heap_k.withColumn("query_id", F.lit(qid)),
            ["query_id"],
            [F.col("scoreq").desc(), F.col("doc_id")],
            k,
        )
        parts.append(ranked_q.select("query_id", "doc_id", "scoreq", "rank"))

    if not parts:
        spark = w.sparkSession
        return spark.createDataFrame([], "query_id long, doc_id long, score double, rank long")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _finish_ranked(out)


def bm25_topk(
    df: DataFrame,
    queries: Sequence[tuple[int, tuple[str, ...]]] = BM25_QUERIES,
    k: int = 10,
    broad_candidates: int | None = None,
    materialize_candidates: bool = True,
) -> DataFrame:
    """Batch top-k BM25 retrieval over a document corpus.

    Default shape (r11, guide §2.3/§8) — ONE observed corpus pass:
    ranking only ever reads postings of the BATCH's terms, so the
    corpus is passed exactly once. ``dl`` is computed as the size of
    the per-doc token array (a codegen CASE carried through the explode
    — no corpus-wide ``groupBy(doc, token)`` and no doc-length join),
    the N/Σdl stats row is collected as an `Observation` during that
    same pass (exact integer count/sum), and the pruned
    ``(doc_id, dl, token, tf)`` candidates are eagerly
    ``localCheckpoint``ed so every ranking branch and the routing probe
    read the small materialized table. O(query batch) work replaces
    O(branches) corpus passes — the shape that matters at 100 TB, where
    one corpus tokenize is minutes; and it measured faster at bench
    scale too (interleaved best-of-5 at sf0.1: broad 3.09 s vs 3.99 s
    lazy, narrow 1.62 s vs 1.94 s lazy, same session) because the lazy
    plan's per-branch token-filter pushdown de-duplicates only
    partially at runtime (the executed sf0.1 broad plan retokenized the
    corpus per broad branch).

    ``materialize_candidates=False`` keeps the previous single lazy
    plan (`bm25_term_weights_from_stats` → `bm25_topk_from_weights`, probe on the
    bare tf table) — retained for the equivalence pin
    (`test_bm25_materialized_shape_equivalent`) and A/B measurement.
    Both shapes are OUTPUT-IDENTICAL: weights are bit-identical by
    construction (same `_wq_col` over the same exact integers; stats
    enter the materialized path as collected literals)."""
    if not materialize_candidates:
        tf = token_tf(df)
        w = bm25_term_weights_from_stats(tf, doc_lengths(df, tf))
        return bm25_topk_from_weights(
            w, queries, k, broad_candidates=broad_candidates, probe=tf
        )

    from pyspark.sql import Observation

    batch_terms = sorted({t for _, terms in queries for t in terms})
    t = F.trim(F.lower(F.col("text")))
    # dl = number of non-empty tokens. After trim, split(\s+) yields ''
    # only for the empty string (leading/trailing separators are gone),
    # so the token_tf convention reduces to a codegen CASE + size() —
    # no interpreted higher-order function on the corpus path (the
    # filter-lambda variant measured ~0.8 s/pass slower at sf0.1).
    arr = F.split(t, r"\s+")
    base = df.select(
        "doc_id",
        F.when(t.isNull() | (t == ""), F.lit(0))
        .otherwise(F.size(arr))
        .cast("long")
        .alias("dl"),
        arr.alias("__toks"),
    )
    obs = Observation()
    observed = base.observe(
        obs, F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_tok")
    )
    tf_cand = (
        observed.select("doc_id", "dl", F.explode("__toks").alias("token"))
        .filter(F.col("token").isin(batch_terms) & (F.col("token") != ""))
        .groupBy("doc_id", "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()  # the ONE corpus pass; candidates are small
    )
    stats = obs.get  # exact, observed during the checkpoint job
    n_docs = int(stats["n_docs"])
    total_tok = int(stats["total_tok"] or 0)
    dfreq = tf_cand.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf_cand.join(F.broadcast(dfreq), "token")
        .withColumn("n_docs", F.lit(n_docs).cast("long"))
        .withColumn("total_tok", F.lit(total_tok).cast("long"))
        .select("doc_id", "token", _wq_col(1.2, 0.75).alias("wq"))
    )
    return bm25_topk_from_weights(
        w, queries, k, broad_candidates=broad_candidates, probe=tf_cand
    )


def top_tfidf_terms(df: DataFrame, k: int = 5) -> DataFrame:
    """Per-document keyword extraction: the top-k tokens by
    ``tf·ln(N/df)`` — ``(doc_id, token, weight, rank)``.

    The classic doc-tagging / index-summarization primitive (and the
    per-doc half of `dedup.tfidf_cosine_pairs`' weighting). Weights are
    6dp-quantized integers so ranking ties are exact and replayable;
    the tie order is total (weight DESC, token ASC). All-zero-weight
    docs (every token at df = N) still emit k rows ranked by token —
    deterministic, and a useful boilerplate signal. The per-doc window
    partitions on doc_id (high-cardinality → fully parallel; no salted
    phase needed, unlike the per-query ranking above)."""
    tf = token_tf(df)
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    wq = F.floor(
        (F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))) * F.lit(QUANT)
        + F.lit(0.5)
    ).cast("long")
    weighted = (
        tf.join(dfreq, "token").join(F.broadcast(n_docs)).select("doc_id", "token", wq.alias("wq"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("wq").desc(), F.col("token"))
    return (
        weighted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "token",
            round_half_up(F.col("wq").cast("double") / F.lit(QUANT), 6).alias("weight"),
            F.col("rank").cast("long").alias("rank"),
        )
    )
