"""Analytic-function workload: the full window-function surface and
exact percentile aggregates, oracle-checked.

Extends the §2.6 window coverage (row_number / lag / running sum were
already proven in the base workload) with the remaining SQL analytic
functions a user of a general engine expects: ranking (dense_rank,
ntile), distribution (percent_rank, cume_dist), frame navigation
(first/last/nth value, lead), and ordered-set aggregates
(percentile_cont / percentile_disc / median).

Determinism: every window orders by a UNIQUE key tuple
(o_orderdate, o_orderkey) so ranking and ntile assignments are
engine-independent; value outputs are rounded via the shared floor-form.

Scale notes: all windows partition by o_custkey — state per partition is
one customer's orders (bounded), and the shuffle is a single hash
exchange on the partition key shared by every window column in the
query (one Window operator chain, not one shuffle per function).
Percentiles are EXACT (sort-based within group) to be oracle-checkable;
the streaming/sketch path uses percentile_approx (see
operators/aggregates.windowed_kpi).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.rounding import round_half_up
from cdc_pipeline_spark.workload import _t, register


@register(
    "customer_order_window_battery",
    """
    SELECT o_orderkey, o_custkey,
           dense_rank()   OVER w AS order_rank,
           ntile(4)       OVER w AS order_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume_d,
           round(first_value(o_totalprice) OVER w, 2) AS first_price,
           round(last_value(o_totalprice)
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
               AS last_price,
           round(nth_value(o_totalprice, 2)
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
               AS second_price,
           round(lead(o_totalprice, 1) OVER w, 2) AS next_price
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def customer_order_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every remaining analytic function in ONE window chain: ranking
    (dense_rank, ntile), distribution (percent_rank, cume_dist), frame
    navigation (first/last/nth/lead). All columns share the same
    partition key and ordering, so Catalyst plans a single sort +
    Window operator — one exchange for eight analytic columns."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.dense_rank().over(w).alias("order_rank"),
        F.ntile(4).over(w).alias("order_quartile"),
        round_half_up(F.percent_rank().over(w), 6).alias("pct_rank"),
        round_half_up(F.cume_dist().over(w), 6).alias("cume_d"),
        round_half_up(F.first("o_totalprice").over(w), 2).alias("first_price"),
        round_half_up(F.last("o_totalprice").over(w_full), 2).alias("last_price"),
        round_half_up(F.nth_value("o_totalprice", 2).over(w_full), 2).alias(
            "second_price"
        ),
        round_half_up(F.lead("o_totalprice", 1).over(w), 2).alias("next_price"),
    )


@register(
    "lineitem_exact_percentiles",
    """
    SELECT l_returnflag,
           round(percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity), 4)      AS median_qty,
           round(percentile_cont(0.9)  WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p90_price,
           round(percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity), 4)      AS q1_qty_disc,
           round(median(l_discount), 4)                                            AS median_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def lineitem_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-set aggregates, exact: percentile_cont (linear
    interpolation), percentile_disc (an actual element of the group),
    median. Exact percentiles need the group's values together (sort
    within group) — fine per reduce task here; at 100 TB the sketch
    path (percentile_approx, mergeable t-digest-style state) replaces
    these, traded via the exact= flag in operators/aggregates."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        round_half_up(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median_qty"),
        round_half_up(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"),
        round_half_up(
            F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)"), 4
        ).alias("q1_qty_disc"),
        round_half_up(F.median("l_discount"), 4).alias("median_disc"),
    )


def _cms_oracle() -> str:
    from cdc_pipeline_spark.operators.sketches import cms_sql_ctes

    counters, probes = cms_sql_ctes()
    return rf"""
    WITH tok AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        FROM documents
    ),
    h AS (
        SELECT token,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(token, ''),
                                      c -> CAST(greatest(unicode(c), 0) AS BIGINT))),
                   (acc, x) -> (acc * 131 + x) % 2147483647) AS th
        FROM tok
    ),
    counters AS (
        SELECT row_idx, col, count(*) AS n FROM (
        {counters}
        ) GROUP BY row_idx, col
    ),
    exact AS (
        SELECT token, count(*) AS freq, min(th) AS th
        FROM h GROUP BY token ORDER BY freq DESC, token LIMIT 40
    ),
    probe AS (
        {probes}
    )
    SELECT probe.token, CAST(probe.freq AS BIGINT) AS n_exact,
           CAST(min(coalesce(c.n, 0)) AS BIGINT) AS n_cms,
           CAST(min(coalesce(c.n, 0)) - probe.freq AS BIGINT) AS overestimate
    FROM probe LEFT JOIN counters c USING (row_idx, col)
    GROUP BY probe.token, probe.freq
    """


@register("corpus_token_cms", _cms_oracle())
def corpus_token_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy-hitter audit: build a 4×2048 count-min sketch
    over every token instance, then point-query it for the exact top-40
    tokens and report estimate vs truth (overestimate ≥ 0 always — CMS
    errors are one-sided). The sketch state is 8,192 additive integer
    cells whatever the corpus size — the mergeable-summary form of
    `corpus_token_topk`'s exact aggregation, usable as streaming
    partials exactly like the histogram sketch. Hashes are the portable
    codepoint fold (dedup.portable_token_hash) + per-row universal
    hashing, so the oracle replays every cell. See
    operators/sketches.py."""
    from cdc_pipeline_spark.operators.dedup import portable_token_hash
    from cdc_pipeline_spark.operators.sketches import cms_estimate, count_min_counters

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token")
    )
    hashed = toks.withColumn("th", portable_token_hash(F.col("token")))
    counters = count_min_counters(hashed, F.col("th"))
    exact = (
        hashed.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"), F.min("th").alias("th"))
        .orderBy(F.desc("freq"), "token")
        .limit(40)
    )
    est = cms_estimate(counters, exact.select("token", "freq", "th"), F.col("th"))
    return est.select(
        "token",
        F.col("freq").cast("long").alias("n_exact"),
        "n_cms",
        (F.col("n_cms") - F.col("freq")).cast("long").alias("overestimate"),
    )


def _padded_batch_oracle() -> str:
    from cdc_pipeline_spark.operators.packing import DEFAULT_LENGTH_EDGES
    from cdc_pipeline_spark.operators.sampling import KNUTH

    case = " ".join(
        f"WHEN n_tokens <= {e} THEN {e}" for e in sorted(DEFAULT_LENGTH_EDGES)
    )
    return rf"""
    WITH base AS (
        SELECT doc_id,
               CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                    t -> t <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    b AS (
        SELECT doc_id, n_tokens,
               CAST(CASE {case} ELSE -1 END AS BIGINT) AS bucket_cap,
               ((doc_id * {KNUTH} + 7) % 2147483647) % 4 AS shard
        FROM base
    ),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY bucket_cap, shard
                                     ORDER BY n_tokens DESC, doc_id ASC) AS rn
        FROM b
    )
    SELECT bucket_cap, shard, (rn - 1) // 16 AS batch_idx,
           CAST(count(*) AS BIGINT) AS n_docs,
           max(n_tokens) AS max_tokens,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           round((count(*) * max(n_tokens) - sum(n_tokens))
                 / greatest(count(*) * max(n_tokens), 1), 6) AS pad_overhead
    FROM r
    GROUP BY bucket_cap, shard, (rn - 1) // 16
    """


@register("doc_padded_batches", _padded_batch_oracle())
def doc_padded_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padded-batch formation with length bucketing (batch=16 docs,
    4 shards): the inference/finetuning layout twin of
    `doc_sequence_packing` — group similar-length docs per (bucket,
    shard) and report each batch's padding overhead. Batches form per
    shard, never from a global order, so the layout parallelizes and
    replays deterministically. See
    operators/packing.py::length_bucketed_batches."""
    from cdc_pipeline_spark.operators.packing import length_bucketed_batches
    from cdc_pipeline_spark.operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.size(F.filter(tokens("text"), lambda t: t != F.lit(""))).cast("long").alias(
            "n_tokens"
        ),
    )
    return length_bucketed_batches(base, "doc_id", "n_tokens", batch_size=16)


def _hist_pct_oracle() -> str:
    from cdc_pipeline_spark.operators.sketches import histogram_percentiles_sql

    return histogram_percentiles_sql(
        "lineitem",
        "l_extendedprice",
        ["l_returnflag"],
        {"p50_est": 0.5, "p90_est": 0.9, "p99_est": 0.99},
        lo=0.0,
        hi=110_000.0,
        n_bins=1100,
    )


@register("lineitem_histogram_percentiles", _hist_pct_oracle())
def lineitem_histogram_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE twin of `lineitem_exact_percentiles`: grouped p50/p90/
    p99 from a mergeable fixed-bin histogram sketch (error ≤ one bin
    width = 100 on a [0, 110k) price domain). Exact percentiles sort
    each group's values together; the sketch's shuffle carries ≤ n_bins
    counts per group no matter how many rows feed it — the form that
    survives a trillion-row group. Unlike `percentile_approx`
    (engine-internal KLL state), every step is portable integer/double
    arithmetic, so the DuckDB oracle replays the sketch exactly. See
    operators/sketches.py."""
    from cdc_pipeline_spark.operators.sketches import histogram_percentiles

    li = _t(spark, sf_dir, "lineitem")
    return histogram_percentiles(
        li,
        "l_extendedprice",
        ["l_returnflag"],
        {"p50_est": 0.5, "p90_est": 0.9, "p99_est": 0.99},
        lo=0.0,
        hi=110_000.0,
        n_bins=1100,
    )


_GAPFILL_T0 = 1704412800  # 2024-01-05 00:00:00 UTC — inside the events range
_GAPFILL_STEP = 300
_GAPFILL_BUCKETS = 288  # one day of 5-minute buckets


@register(
    "events_gapfill_5min",
    f"""
    WITH grid AS (
        SELECT ({_GAPFILL_T0} + {_GAPFILL_STEP} * g) AS bucket_epoch
        FROM generate_series(0, {_GAPFILL_BUCKETS - 1}) AS t(g)
    ),
    c AS (
        SELECT e - e % {_GAPFILL_STEP} AS bucket_epoch,
               count(*) AS n,
               round(sum(value), 2) AS v
        FROM (
            SELECT CAST(floor(epoch(ts)) AS BIGINT) AS e, value
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
              AND ts <  TIMESTAMP '2024-01-06 00:00:00'
        )
        GROUP BY 1
    )
    SELECT g.bucket_epoch,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_events,
           CAST(coalesce(c.v, 0.0) AS DOUBLE) AS bucket_value,
           CAST(coalesce(last_value(c.v IGNORE NULLS)
                         OVER (ORDER BY g.bucket_epoch
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                         0.0) AS DOUBLE) AS carried_value
    FROM grid g LEFT JOIN c USING (bucket_epoch)
    """,
)
def events_gapfill_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap filling: one day of 5-minute
    buckets, empty buckets zero-filled and the last observed bucket sum
    carried forward (forward fill = last(ignorenulls) over the ordered
    grid). The bucket grid is generated with ``sequence``+``explode`` —
    no driver-side loop — and the aggregated side joins onto it.

    Scale: the grid size is (range/step), independent of event volume;
    the events aggregation is a normal partial+final count/sum. The
    forward-fill window is a single ordered pass over the grid (288
    rows here) — for multi-year grids partition the window by day and
    seed each day with the previous day's close instead."""
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit("2024-01-05 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-06 00:00:00").cast("timestamp"))
    )
    e = F.col("ts").cast("long")  # truncates sub-second, = floor(epoch) for positive ts
    counts = ev.groupBy((e - e % _GAPFILL_STEP).alias("bucket_epoch")).agg(
        F.count(F.lit(1)).alias("n"),
        round_half_up(F.sum("value"), 2).alias("v"),
    )
    grid = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(_GAPFILL_T0),
                F.lit(_GAPFILL_T0 + _GAPFILL_STEP * (_GAPFILL_BUCKETS - 1)),
                F.lit(_GAPFILL_STEP),
            )
        ).alias("bucket_epoch")
    )
    ffill = Window.orderBy("bucket_epoch").rowsBetween(Window.unboundedPreceding, 0)
    return (
        grid.join(counts, "bucket_epoch", "left")
        .select(
            "bucket_epoch",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.coalesce(F.col("v"), F.lit(0.0)).alias("bucket_value"),
            F.coalesce(
                F.last("v", ignorenulls=True).over(ffill), F.lit(0.0)
            ).alias("carried_value"),
        )
    )


@register(
    "corpus_token_topk",
    r"""
    SELECT token, count(*) AS freq
    FROM (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        FROM documents
    )
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 50
    """,
)
def corpus_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: whitespace-tokenize every document,
    count global token frequencies, top-50. The canonical explode+agg
    at scale: partial aggregation collapses each task's token stream to
    its local vocabulary before the shuffle, and the top-k is
    TakeOrderedAndProject (per-partition heaps), never a global sort."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(50)
    )


@register(
    "doc_sequence_packing",
    r"""
    WITH t AS (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM t
    )
    SELECT doc_id, source, n_tokens,
           CAST((cum - n_tokens) // 256 AS BIGINT) AS pack_id
    FROM c
    """,
)
def doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (operators/packing.py): per source
    shard, documents are laid out in doc_id order and assigned the pack
    (256-token budget) where their start offset falls — the
    deterministic document→training-sequence mapping step of an LLM
    data pipeline. Pure integer arithmetic; one shuffle on the shard
    key."""
    from cdc_pipeline_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    return pack_sequences(
        docs, "n_tokens", budget=256, partition_cols=["source"], order_cols=["doc_id"]
    )


@register(
    "docs_incremental_new",
    r"""
    WITH fp AS (
        SELECT doc_id, source,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        FROM documents
    ),
    incoming AS (SELECT * FROM fp WHERE source IN ('src0', 'src1', 'src2')),
    historical AS (SELECT DISTINCT fingerprint FROM fp
                   WHERE source NOT IN ('src0', 'src1', 'src2'))
    SELECT i.doc_id, i.source, i.fingerprint
    FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM historical h WHERE h.fingerprint = i.fingerprint)
    """,
)
def docs_incremental_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: an incoming batch (3 source shards)
    anti-joined on content fingerprint against the historical corpus —
    the batch form of the pattern a continuously-ingesting pipeline
    runs every increment (streaming twin: dropDuplicates within
    watermark, tests/test_streaming.py). At 100 TB the historical side
    is a fingerprint-only table (16 bytes/doc), bucketed by fingerprint
    so each increment's anti join is shuffle-free on the corpus side."""
    from cdc_pipeline_spark.operators.dedup import fingerprint

    docs = _t(spark, sf_dir, "documents")
    incoming_src = ("src0", "src1", "src2")
    fp = docs.select("doc_id", "source", fingerprint("text").alias("fingerprint"))
    incoming = fp.filter(F.col("source").isin(*incoming_src))
    historical = (
        fp.filter(~F.col("source").isin(*incoming_src)).select("fingerprint").distinct()
    )
    return incoming.join(historical, "fingerprint", "left_anti").select(
        "doc_id", "source", "fingerprint"
    )


@register(
    "docs_bloom_incremental",
    r"""
    WITH fp AS (
        SELECT doc_id, source,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        FROM documents
    ),
    incoming AS (SELECT * FROM fp WHERE source IN ('src0', 'src1', 'src2')),
    historical AS (SELECT DISTINCT fingerprint FROM fp
                   WHERE source NOT IN ('src0', 'src1', 'src2'))
    SELECT i.doc_id, i.source, i.fingerprint
    FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM historical h WHERE h.fingerprint = i.fingerprint)
    """,
)
def docs_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME incremental-ingest dedup spec as ``docs_incremental_new``
    — identical oracle SQL on purpose — executed through
    ``bloom_anti_join``: the Bloom bitmap is built on the (small)
    increment's fingerprints and probed inside the (huge) history scan,
    so the anti join's right side shrinks from |history| to
    ~|overlap| + ε·|history| BEFORE any exchange. Strategy independence
    is the proof, exactly as ``doc_bm25_broad_topk`` proves the heap
    ranking path: a value-hash match against the naive NOT-EXISTS spec
    shows the runtime-filtered plan is output-equivalent. This is the
    100 TB shape for continuous corpus ingest, where history holds
    billions of 16-byte fingerprints and each increment touches almost
    none of them (reference analog: the upsert-id routing the CDC jobs
    apply per micro-batch, kpi_aggregator.py's dedup-before-apply)."""
    from cdc_pipeline_spark.operators.bloom import bloom_anti_join
    from cdc_pipeline_spark.operators.dedup import fingerprint

    docs = _t(spark, sf_dir, "documents")
    incoming_src = ("src0", "src1", "src2")
    fp = docs.select("doc_id", "source", fingerprint("text").alias("fingerprint"))
    incoming = fp.filter(F.col("source").isin(*incoming_src))
    historical = (
        fp.filter(~F.col("source").isin(*incoming_src)).select("fingerprint").distinct()
    )
    return bloom_anti_join(
        incoming, historical, fact_key="fingerprint", n_bits=1 << 20
    ).select("doc_id", "source", "fingerprint")


@register(
    "source_token_kl",
    r"""
    WITH tok AS (
        SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents
    ),
    sc AS (SELECT source, token, count(*) AS c_st FROM tok GROUP BY source, token),
    gc AS (SELECT token, sum(c_st) AS c_t FROM sc GROUP BY token),
    cs AS (SELECT source, sum(c_st) AS c_s FROM sc GROUP BY source),
    tot AS (SELECT sum(c_t) AS n FROM gc),
    term AS (
        SELECT sc.source,
               CAST(round(
                   (CAST(c_st AS DOUBLE) / CAST(c_s AS DOUBLE)) *
                   ln((CAST(c_st AS DOUBLE) * CAST(n AS DOUBLE)) /
                      (CAST(c_s AS DOUBLE) * CAST(c_t AS DOUBLE))), 8)
                    AS DECIMAL(28,8)) AS term
        FROM sc JOIN gc USING (token) JOIN cs USING (source) CROSS JOIN tot
    ),
    agg AS (
        SELECT source, count(*) AS n_terms, sum(term) AS kl FROM term GROUP BY source
    )
    SELECT agg.source,
           CAST(cs.c_s AS BIGINT) AS n_tokens,
           CAST(agg.n_terms AS BIGINT) AS n_terms,
           round(CAST(agg.kl AS DOUBLE), 6) AS kl_nats
    FROM agg JOIN cs USING (source)
    """,
)
def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence vs the corpus distribution
    (operators/quality.py::source_unigram_kl) — the data-mixing
    diagnostic: sources far from the corpus mean are the ones a
    temperature-mixed training run over- or under-samples. One corpus
    scan; global counts re-aggregate the per-source table; per-term
    contributions quantize to DECIMAL(28,8) before the per-source sum
    so both engines fold order-free."""
    from cdc_pipeline_spark.operators.quality import source_unigram_kl

    return source_unigram_kl(_t(spark, sf_dir, "documents"))


@register(
    "events_anomaly_minutes",
    """
    WITH counts AS (
        SELECT event_type AS grp, date_trunc('minute', ts) AS minute,
               count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT grp, count(*) AS n, sum(c) AS s1, sum(c * c) AS s2
        FROM counts GROUP BY grp
    )
    SELECT c.grp AS event_type,
           CAST(epoch(c.minute) AS BIGINT) AS minute_epoch,
           CAST(c.c AS BIGINT) AS n_events,
           CAST((s.n * c.c - s.s1) * (s.n * c.c - s.s1) AS BIGINT) AS dev2,
           CAST(9 * (s.n * s.s2 - s.s1 * s.s1) AS BIGINT) AS bound
    FROM counts c JOIN stats s USING (grp)
    WHERE (s.n * c.c - s.s1) * (s.n * c.c - s.s1) > 9 * (s.n * s.s2 - s.s1 * s.s1)
    ORDER BY event_type, minute_epoch
    """,
)
def events_anomaly_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type rate-anomaly minutes at 3σ
    (operators/trends.py::count_anomaly_minutes): the exact-integer
    Chebyshev screen — |c − mean| > 3σ multiplied through by n² so the
    whole decision is BIGINT arithmetic, bit-identical in any engine,
    zero-variance groups flag nothing, and no division or rounding
    exists to drift. One corpus scan (the per-minute count table is
    materialized and re-aggregated for the moments)."""
    from cdc_pipeline_spark.operators.trends import count_anomaly_minutes

    return count_anomaly_minutes(_t(spark, sf_dir, "events"))
