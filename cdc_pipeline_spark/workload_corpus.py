"""Corpus-selection workload: DSIR importance resampling, paragraph-level
dedup with reconstruction, and deterministic epoch shuffle order — the
data-selection / data-ordering stages of a training-corpus build, each
with a full DuckDB oracle replicating the pipeline end-to-end.

Registered here (imported from workload.py before the driver-window
rotation) so each gets a correctness row in the round it ships.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cdc_pipeline_spark.workload import _t, register

# SQL twin of operators/dsir.py::hashed_gram_posting over a `toks` CTE
# holding (doc_id, toks list): unigrams + space-joined bigrams, hashed
# with the portable codepoint fold (dedup.portable_token_hash docstring)
# mod the bucket count.
_GRAM_POSTING = """
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(gram, ''),
                                      c -> CAST(greatest(unicode(c), 0) AS BIGINT))),
                   (acc, x) -> (acc * 131 + x) %% 2147483647) %% {buckets} AS bucket
        FROM (
            SELECT doc_id, unnest(toks) AS gram FROM {src}
            UNION ALL
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i + 1])) AS gram
            FROM {src}
        )
"""

_DSIR_ORACLE = r"""
    WITH raw AS (
        SELECT doc_id, source, list_filter(regexp_split_to_array(trim(text), '\s+'),
                                           t -> t <> '') AS toks
        FROM documents WHERE source <> 'src0'
    ),
    tgt AS (
        SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
                                   t -> t <> '') AS toks
        FROM documents WHERE source = 'src0'
    ),
    rb AS ({raw_posting}),
    tb AS ({tgt_posting}),
    rc AS (SELECT bucket, count(*) AS rc FROM rb GROUP BY 1),
    tc AS (SELECT bucket, count(*) AS tc FROM tb GROUP BY 1),
    tot AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM rb) AS rtot,
                   (SELECT CAST(count(*) AS DOUBLE) FROM tb) AS ttot),
    ratio AS (
        SELECT rc.bucket,
               CAST(round(ln((COALESCE(tc, 0) + 1.0) / (ttot + 1.0 * 4096))
                          - ln((rc + 1.0) / (rtot + 1.0 * 4096)), 6)
                    AS DECIMAL(18,6)) AS logratio
        FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tot
    ),
    scored AS (
        SELECT doc_id, count(*) AS n_grams, sum(logratio) AS s
        FROM rb JOIN ratio USING (bucket) GROUP BY 1
    ),
    keyed AS (
        SELECT raw.doc_id, raw.source,
               COALESCE(n_grams, 0) AS n_grams,
               round(CAST(COALESCE(s, 0) AS DOUBLE), 4) AS log_weight,
               round(CAST(COALESCE(s, 0) AS DOUBLE)
                     + (-ln(-ln((((raw.doc_id * 2654435761 + 7) %% 2147483647)
                                 %% 1000000 + 1) / 1000001.0))), 6) AS sample_key
        FROM raw LEFT JOIN scored USING (doc_id)
    )
    SELECT doc_id, source, n_grams, log_weight, sample_key
    FROM keyed ORDER BY sample_key DESC, doc_id LIMIT 200
""".format(
    raw_posting=_GRAM_POSTING.format(src="raw", buckets=4096),
    tgt_posting=_GRAM_POSTING.format(src="tgt", buckets=4096),
) % ()


@register("dsir_target_selection", _DSIR_ORACLE)
def dsir_target_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): treat src0 as the
    target domain, score every other document by the hashed-bigram
    importance log-weight, and Gumbel-top-k 200 docs. The oracle replays
    the whole pipeline — feature hashing, smoothed bucket models,
    decimal log-ratio sums, portable Gumbel keys, top-k. Scale shape:
    two bucket-model aggregates + one broadcast scoring join +
    TakeOrdered (operators/dsir.py docstring)."""
    from pyspark.sql import functions as F

    from cdc_pipeline_spark.operators.dsir import dsir_log_weights, dsir_select

    docs = _t(spark, sf_dir, "documents")
    raw = docs.filter(F.col("source") != "src0")
    target = docs.filter(F.col("source") == "src0")
    weights = dsir_log_weights(raw, target, carry_cols=("source",))
    return dsir_select(weights, k=200)


_SEGMENT_DEDUP_ORACLE = r"""
    WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
                                   t -> t <> '') AS toks
        FROM documents
    ),
    seg AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, CAST(ceil(len(toks) / 8.0) AS BIGINT) + 1),
                   i -> struct_pack(
                       pos := i - 1,
                       segment := array_to_string(
                           list_slice(toks, (i - 1) * 8 + 1, (i - 1) * 8 + 8), ' ')))) AS s
        FROM toks
    ),
    posting AS (
        SELECT doc_id, CAST(s.pos AS INT) AS pos, s.segment AS segment FROM seg
    ),
    keep AS (
        SELECT doc_id, pos, segment,
               row_number() OVER (PARTITION BY segment ORDER BY doc_id, pos) AS rn
        FROM posting
    ),
    totals AS (SELECT doc_id, count(*) AS n_segments FROM posting GROUP BY 1),
    rebuilt AS (
        SELECT doc_id, count(*) AS n_kept,
               string_agg(segment, ' ' ORDER BY pos) AS dedup_text
        FROM keep WHERE rn = 1 GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(t.n_segments, 0) AS n_segments,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.dedup_text, '') AS dedup_text
    FROM documents d
    LEFT JOIN totals t USING (doc_id)
    LEFT JOIN rebuilt r USING (doc_id)
"""


@register("doc_segment_dedup", _SEGMENT_DEDUP_ORACLE)
def doc_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph/line-level dedup with document reconstruction (CCNet
    line-dedup semantics, Wenzek et al. 2020 §3.1) over fixed 8-token
    segments: a segment survives iff it is the globally-first occurrence
    of its content in (doc_id, pos) order; documents are rebuilt from
    surviving segments. Two hash exchanges, no global sort
    (operators/dedup.py::segment_dedup)."""
    from cdc_pipeline_spark.operators.dedup import segment_dedup

    return segment_dedup(_t(spark, sf_dir, "documents"))


_EPOCH_ORDER_ORACLE = """
    WITH k AS (
        SELECT doc_id, source,
               ((doc_id * 2654435761 + 11) % 2147483647) % 1000000 AS skey
        FROM documents
    )
    SELECT doc_id, source,
           CAST(skey % 8 AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY skey % 8
                                   ORDER BY skey, doc_id) AS BIGINT) AS epoch_pos
    FROM k
"""


_CLASSIFIER_ORACLE_TEMPLATE = r"""
    WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
                                   t -> t <> '') AS toks
        FROM documents
    ),
    posting AS (__GRAM_POSTING__
    ),
    w AS (
        SELECT bucket,
               CAST((((bucket * 2654435761 + 13) % 2147483647) % 2001 - 1000) / 1000.0
                    AS DECIMAL(9,3)) AS weight
        FROM (SELECT unnest(range(0, 4096)) AS bucket)
    ),
    scored AS (
        SELECT doc_id, count(*) AS n_grams, sum(weight) AS wsum
        FROM posting JOIN w USING (bucket) GROUP BY 1
    ),
    base AS (
        SELECT d.doc_id, d.source,
               COALESCE(n_grams, 0) AS n_grams,
               round(CAST(COALESCE(wsum, 0) AS DOUBLE)
                     / greatest(COALESCE(n_grams, 0), 1), 6) AS logit
        FROM documents d LEFT JOIN scored USING (doc_id)
    )
    SELECT doc_id, source, n_grams, logit, prob, prob > 0.5 AS keep
    FROM (SELECT *, round(1.0 / (1.0 + exp(-4.0 * logit)), 6) AS prob FROM base)
"""


_CLASSIFIER_ORACLE = _CLASSIFIER_ORACLE_TEMPLATE.replace(
    "__GRAM_POSTING__", _GRAM_POSTING.format(src="toks", buckets=4096).replace("%%", "%")
)


@register("doc_quality_classifier", _CLASSIFIER_ORACLE)
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality-classifier INFERENCE (Joulin et al.
    2017; the GPT-3/LLaMA corpus-gate pattern): hashed unigram+bigram
    features → broadcast (bucket, weight) model table → per-doc mean
    weight → sigmoid. The model here is a deterministic stand-in table so
    the oracle can replay inference end-to-end; a trained model loads
    from parquet into the identical plan. One scan + one broadcast join +
    one doc_id shuffle (operators/classifier.py docstring)."""
    from cdc_pipeline_spark.operators.classifier import (
        hashed_weight_table,
        linear_classifier_scores,
    )

    docs = _t(spark, sf_dir, "documents")
    weights = hashed_weight_table(spark)
    return linear_classifier_scores(docs, weights, carry_cols=("source",))


_INCR_NEARDUP_ORACLE = r"""
    WITH tok AS (
        SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ),
    sh AS (
        SELECT doc_id, source,
               list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                            i -> array_to_string(toks[i:i+2], ' '))) AS shingles
        FROM tok
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex_new AS (SELECT doc_id, unnest(shingles) AS s FROM sh
               WHERE source IN ('src0', 'src1', 'src2')),
    ex_hist AS (SELECT doc_id, unnest(shingles) AS s FROM sh
                WHERE source NOT IN ('src0', 'src1', 'src2')),
    inter AS (
        SELECT a.doc_id AS doc_id, b.doc_id AS match_id, count(*) AS c
        FROM ex_new a JOIN ex_hist b ON a.s = b.s
        GROUP BY 1, 2
    )
    SELECT inter.doc_id AS doc_id, match_id, round(c / (na.n + nb.n - c), 6) AS jaccard
    FROM inter
    JOIN sizes na ON na.doc_id = inter.doc_id
    JOIN sizes nb ON nb.doc_id = match_id
    WHERE round(c / (na.n + nb.n - c), 6) >= 0.5
"""


@register("docs_incremental_neardup", _INCR_NEARDUP_ORACLE)
def docs_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup detection: the incoming batch (3 source
    shards, same split as docs_incremental_new) probes the historical
    corpus' MinHash band index; candidates verify with exact Jaccard
    ≥ 0.5. The oracle is the exact incoming×historical Jaccard join —
    LSH (64 perms, 16×4 bands) must reach full recall at this threshold
    for the hash gate to pass, the same bar dedup_minhash_lsh meets.
    Per-increment cost ∝ batch size, never corpus²
    (operators/dedup.py::incremental_minhash_neardup)."""
    from pyspark.sql import functions as F

    from cdc_pipeline_spark.operators.dedup import incremental_minhash_neardup

    docs = _t(spark, sf_dir, "documents")
    return incremental_minhash_neardup(
        docs, incoming=F.col("source").isin("src0", "src1", "src2")
    )


_PQ_ADC_ORACLE = """
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    seed AS (
        SELECT e, row_number() OVER (ORDER BY vec_id) - 1 AS c
        FROM (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT 16)
    ),
    cb AS (
        SELECT s.j AS subspace, seed.c AS code,
               seed.e[s.j * 16 + 1 : s.j * 16 + 16] AS centroid
        FROM seed CROSS JOIN (SELECT unnest(range(4)) AS j) s
    ),
    dist AS (
        SELECT v.vec_id, cb.subspace, cb.code,
               round(list_reduce(
                   list_prepend(0.0, list_transform(range(16),
                       i -> (v.e[cb.subspace * 16 + i + 1] - cb.centroid[i + 1])
                            * (v.e[cb.subspace * 16 + i + 1] - cb.centroid[i + 1]))),
                   (acc, x) -> acc + x), 6) AS d
        FROM emb v CROSS JOIN cb
    ),
    codes AS (
        SELECT vec_id, subspace, code
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                           ORDER BY d, code) AS rn
              FROM dist)
        WHERE rn = 1
    ),
    qd AS (
        SELECT vec_id AS query_id, subspace, code, CAST(d AS DECIMAL(18,6)) AS d
        FROM dist WHERE vec_id < 10
    ),
    scored AS (
        SELECT qd.query_id, c.vec_id, CAST(sum(qd.d) AS DOUBLE) AS approx_dist
        FROM codes c
        JOIN qd ON qd.subspace = c.subspace AND qd.code = c.code
        WHERE c.vec_id != qd.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, vec_id, approx_dist, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY approx_dist, vec_id) AS rn
          FROM scored)
    WHERE rn <= 5
"""


@register("ann_pq_adc_topk", _PQ_ADC_ORACLE)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): 4×16 codebook →
    16-bit codes (256 bytes/vector → 2) → asymmetric-distance top-5 for
    the first 10 vectors as queries. Encoding is a shuffle-free literal-
    expression scan; ADC is one broadcast of the query distance table +
    a decimal-summed (query, vector) aggregate. The oracle replays the
    full pipeline — codebook seeding, per-subspace argmin encoding, ADC
    table lookups, ranking (operators/pq.py docstring)."""
    from pyspark.sql import functions as F

    from cdc_pipeline_spark.operators.pq import pq_adc_topk, pq_codebook, pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb)
    encoded = pq_encode(emb, cb)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_adc_topk(queries, encoded, cb)


@register("training_epoch_order", _EPOCH_ORDER_ORACLE)
def training_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: hash-derived shard + intra-shard
    position (seed 11 = "epoch 11"); re-runs reproduce the identical
    order, a new seed reshuffles. One hash exchange + per-shard local
    sort — the scale-correct global permutation
    (operators/sampling.py::epoch_shuffle_order)."""
    from cdc_pipeline_spark.operators.sampling import epoch_shuffle_order

    return epoch_shuffle_order(
        _t(spark, sf_dir, "documents"), seed=11, carry_cols=("source",)
    )
