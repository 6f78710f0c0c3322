"""Semantic tests for operators whose outputs the DuckDB oracle can't
mirror (hash-based sketches, bucketed ANN, Pandas-UDF stages) plus unit
tests for builders not exercised by the workload directly."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from cdc_pipeline_spark import workload
from cdc_pipeline_spark.operators import multimodal
from cdc_pipeline_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs, simhash_pairs
from cdc_pipeline_spark.operators.enrich import two_level_region_lookup
from cdc_pipeline_spark.sources.files import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_minhash_lsh_matches_exact_on_planted_dups(spark):
    """Planted near-dups in the corpus have J ≥ 0.9; at 16 bands × 4 rows
    LSH recall there is ≈1, and exact verification makes precision exact —
    so the verified LSH output must equal the exact-Jaccard pairs."""
    docs = load_table(spark, SF_DIR, "documents")
    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert lsh == exact
    assert exact, "corpus should contain planted near-duplicates"


def test_ngram_jaccard_max_df_prunes_hot_shingles(spark):
    """Hot-shingle guard: a boilerplate shingle planted in EVERY doc
    would generate n² intersection-join rows; with max_df set, postings
    on it are dropped from the join while true set sizes are kept, so
    reported jaccard is a lower bound — pairs only disappear, never
    over-score, and genuinely-similar pairs (sharing rare shingles)
    survive."""
    boiler = "terms of service apply to all"
    rows = [
        (0, f"{boiler} alpha beta gamma delta epsilon zeta"),
        (1, f"{boiler} alpha beta gamma delta epsilon eta"),
        *[(i, f"{boiler} unique{i} token{i} word{i} item{i} thing{i}") for i in range(2, 30)],
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # boilerplate 3-gram shingles appear in all 30 docs; cap at 10
    capped = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.2, max_df=10).collect()}
    exact = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    assert set(capped) <= set(exact), "cap must never create pairs"
    assert (0, 1) in capped, "similar pair sharing rare shingles must survive the cap"
    for pair, j in capped.items():
        assert j <= exact[pair] + 1e-9, "capped jaccard must be a lower bound"
    # boilerplate-only pairs (similarity driven entirely by hot shingles) are gone
    assert (2, 3) not in capped and (2, 3) in exact


def test_simhash_banding_is_complete(spark):
    """Pigeonhole guarantee: with 4 bands over 32 bits, every pair at
    hamming ≤ 3 shares at least one identical band, so banded candidate
    generation must find ALL such pairs — in particular every planted
    near-dup (J ≥ 0.5) whose signature distance is ≤ 3. (Precision is
    corpus-dependent — the synthetic word-soup vocabulary is tiny, so
    token-weight signatures collide; that's inherent to SimHash, not a
    bug — hence no precision assertion.)"""
    from cdc_pipeline_spark.operators.dedup import simhash_signatures

    docs = load_table(spark, SF_DIR, "documents")
    found = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(docs).collect()}
    sig = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    planted = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    expected = {
        (r.id_a, r.id_b): bin(sig[r.id_a] ^ sig[r.id_b]).count("1")
        for r in planted
        if bin(sig[r.id_a] ^ sig[r.id_b]).count("1") <= 3
    }
    assert expected, "corpus should contain planted dups within hamming 3"
    for pair, hamming in expected.items():
        assert found.get(pair) == hamming, f"missed/incorrect {pair}"


def test_ivf_topk_with_full_probe_equals_bruteforce(spark):
    """With n_probe = #cells IVF scans every bucket, so its output must be
    identical to the brute-force baseline — this pins the whole machinery
    (centroid build, routing, per-cell scoring, ranking). Lower n_probe
    trades recall for cost; the testdata labels are arbitrary (not
    geometric clusters), so a recall bound at low n_probe would test the
    data, not the operator."""
    from cdc_pipeline_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    n_cells = emb.select("label").distinct().count()
    brute = brute_force_topk(emb, queries, k=5).collect()
    ivf = ivf_topk(emb.select("vec_id", "embedding", "label"), queries, k=5, n_probe=n_cells).collect()
    key = lambda rows: sorted((r.query_id, r.rank, r.vec_id, r.score) for r in rows)
    assert key(ivf) == key(brute)


def test_multimodal_feature_stub_is_deterministic_sha(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(5)
    feats = multimodal.extract_features(multimodal.attach_binary_payload(docs))
    rows = feats.join(docs.select("doc_id", "text"), "doc_id").collect()
    assert len(rows) == 5
    for r in rows:
        payload = r.text.encode()
        digest = hashlib.sha256(payload)
        assert r.n_bytes == len(payload)
        assert r.content_digest == digest.hexdigest()
        expect = [b / 255.0 for b in digest.digest()[: multimodal.FEATURE_DIM]]
        assert list(r.feature) == expect


def test_two_level_region_lookup(spark):
    fact = spark.createDataFrame(
        [("US", "New York"), ("US", "San Jose"), ("FR", "Paris"), ("ZZ", "Nowhere")],
        ["country_code", "city"],
    )
    city_map = spark.createDataFrame(
        [(1, "US", "New", "NA-East", -74.0, 40.0), (2, "US", "San", "NA-West", -122.0, 37.0)],
        ["id", "country_code", "city_pattern", "region_name", "longitude", "latitude"],
    )
    country_map = spark.createDataFrame(
        [("US", "North America", -98.0, 39.0), ("FR", "Western Europe", 2.0, 48.0)],
        ["country_code", "region_name", "longitude", "latitude"],
    )
    out = {
        (r.country_code, r.city): r.region_name
        for r in two_level_region_lookup(fact, city_map, country_map).collect()
    }
    assert out == {
        ("US", "New York"): "NA-East",
        ("US", "San Jose"): "NA-West",
        ("FR", "Paris"): "Western Europe",
        ("ZZ", "Nowhere"): "Unknown",
    }


def test_alert_frame_statuses(spark):
    from cdc_pipeline_spark.operators.aggregates import alert_frame

    df = spark.createDataFrame([("w1", 10.0), ("w2", 90.0)], ["window_id", "cpu"])
    out = alert_frame(df, [{"id": "cpu_high", "metric": "cpu", "threshold": 50.0}], id_cols=["window_id"])
    rows = {r.window_id: r.status for r in out.collect()}
    assert rows == {"w1": "ok", "w2": "firing"}


def test_asof_join_edges(spark):
    from cdc_pipeline_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 200, "b"), (2, 50, "c")], "k long, t long, tag string"
    )
    right = spark.createDataFrame(
        [(1, 90, 10.0), (1, 150, 20.0), (1, 150, 30.0), (3, 10, 99.0)], "k long, t long, v double"
    )
    out = {
        r.tag: r.v
        for r in asof_join(
            left, right, key_cols=["k"], left_time="t", right_time="t",
            right_value_cols=["v"], right_tiebreakers=["v"],
        ).collect()
    }
    # a: only t=90 qualifies; b: tie at t=150 → max tiebreaker (30.0);
    # c: key has no right rows at all → NULL
    assert out == {"a": 10.0, "b": 30.0, "c": None}


def test_range_join_strictness_and_bounds(spark):
    from cdc_pipeline_spark.operators.temporal import range_join

    df = spark.createDataFrame(
        [(1, 0), (1, 60), (1, 61), (1, 200)], "k long, t long"
    ).withColumn("t", F.col("t").cast("timestamp"))
    pairs = range_join(df, df, ["k"], "t", "t", max_gap_seconds=60).select(
        F.col("t").cast("long").alias("a"), F.col("t_r").cast("long").alias("b")
    )
    got = {(r.a, r.b) for r in pairs.collect()}
    # strict lower bound (b > a), inclusive upper (b <= a+60);
    # (0,60) in, (0,61) out, (60,61) in, self-pairs excluded
    assert got == {(0, 60), (60, 61), (1, 61)} - {(1, 61)}


def test_asof_join_does_not_blend_right_rows(spark):
    """Regression: a NULL field in the matched right row must stay NULL —
    not get back-filled from an older right row (the as-of result is a
    whole row, not per-column carry-forward)."""
    from cdc_pipeline_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 100)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 10, 3.0, 7.0), (1, 50, 5.0, None)], "k long, t long, a double, b double"
    )
    row = asof_join(
        left, right, key_cols=["k"], left_time="t", right_time="t",
        right_value_cols=["a", "b"],
    ).collect()[0]
    assert (row.a, row.b) == (5.0, None), f"blended row: {row}"


def test_multimodal_resize_and_frames_deterministic(spark):
    from cdc_pipeline_spark.operators.multimodal import (
        attach_binary_payload,
        resize_images,
        resize_stub,
        sample_frames,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(3)
    with_payload = attach_binary_payload(docs)
    resized = {r.doc_id: r for r in resize_images(with_payload, 8, 8).collect()}
    frames = [r for r in sample_frames(with_payload, n_frames=4).collect()]
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert set(resized) == set(texts)
    for doc_id, text in texts.items():
        payload = text.encode()
        expect = hashlib.sha256(resize_stub(payload, 8, 8)).hexdigest()
        assert resized[doc_id].resized == expect
        assert resized[doc_id].width == 8 and resized[doc_id].height == 8
        doc_frames = sorted((f.frame_index, f.frame_offset, f.frame_digest) for f in frames if f.doc_id == doc_id)
        assert [i for i, _, _ in doc_frames] == [0, 1, 2, 3]
        window = max(1, len(payload) // 4)
        for i, off, digest in doc_frames:
            assert off == min(i * window, len(payload) - 1)
            assert digest == hashlib.sha256(payload[off : off + window]).hexdigest()


def test_rp_lsh_scores_match_bruteforce_on_candidates(spark):
    """LSH is approximate in WHICH candidates it sees, never in scores:
    every (query, candidate, score) it returns must appear with the same
    score in the brute-force scoring."""
    from cdc_pipeline_spark.operators.similarity import brute_force_topk, rp_lsh_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    brute = brute_force_topk(emb, queries, k=10_000).collect()  # all pairs, ranked
    truth = {(r.query_id, r.vec_id): r.score for r in brute}
    lsh = rp_lsh_topk(emb, queries, dim=64, k=5, n_planes=8, probe_bits=1).collect()
    assert lsh, "LSH should return candidates"
    for r in lsh:
        assert truth[(r.query_id, r.vec_id)] == r.score


def test_winnowing_matches_python_reimplementation(spark):
    """The winnowing column expression must select exactly the
    min-hash-per-window set a direct Python implementation selects
    (same xxhash64 via a one-column probe)."""
    from cdc_pipeline_spark.operators.text import winnowing_fingerprints

    k, window = 8, 4
    docs = load_table(spark, SF_DIR, "documents").limit(3)
    got = {r.doc_id: list(r.fp) for r in docs.select("doc_id", winnowing_fingerprints("text", k, window).alias("fp")).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    # xxhash64 of each k-gram via Spark itself (portable reference for the hash)
    for doc_id, text in texts.items():
        grams = [text[i : i + k] for i in range(len(text) - k + 1)]
        hdf = spark.createDataFrame([(g,) for g in grams], "g string").select(F.xxhash64("g").alias("h"))
        hashes = [r.h for r in hdf.collect()]
        expect = sorted({min(hashes[w : w + window]) for w in range(0, len(hashes), window)})
        assert got[doc_id] == expect, f"doc {doc_id}"


def test_winnowing_empty_and_short_text(spark):
    from cdc_pipeline_spark.operators.text import winnowing_fingerprints

    df = spark.createDataFrame([(0, ""), (1, "short"), (2, "x" * 20)], "doc_id long, text string")
    rows = {r.doc_id: list(r.fp) for r in df.select("doc_id", winnowing_fingerprints("text", 8, 4).alias("fp")).collect()}
    assert rows[0] == [] and rows[1] == []  # shorter than k → no fingerprints
    assert len(rows[2]) >= 1


def test_assign_empty_centroids_yields_null_clusters(spark):
    """k = 0 contract of the literal-centroid assignment (r12): an
    empty centroid list assigns NULL to every row — the old broadcast
    form's array_min-over-empty behavior — instead of tripping
    sequence(1, 0)'s descending-range element_at(..., 0) error."""
    from cdc_pipeline_spark.operators.clustering import _assign

    emb = load_table(spark, SF_DIR, "embeddings").limit(5)
    out = _assign(emb, [], "vec_id", "embedding").select("vec_id", "cluster").collect()
    assert len(out) == 5 and all(r.cluster is None for r in out)


def test_kmeans_assigns_all_and_improves(spark):
    from cdc_pipeline_spark.operators.clustering import distortion, kmeans

    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    one_iter = kmeans(emb, k=4, max_iters=1)
    five_iter = kmeans(emb, k=4, max_iters=5)
    assert one_iter.count() == n and five_iter.count() == n
    assert five_iter.select("cluster").distinct().count() <= 4
    d1 = distortion(emb, one_iter)
    d5 = distortion(emb, five_iter)
    assert d5 <= d1 + 1e-9, f"more iterations must not increase distortion ({d1} -> {d5})"
    # determinism: same call twice → identical assignments
    again = {r.vec_id: r.cluster for r in kmeans(emb, k=4, max_iters=5).collect()}
    first = {r.vec_id: r.cluster for r in five_iter.collect()}
    assert again == first


@pytest.mark.slow  # ~30 s Lloyd-quality battery; assignment/identity tests stay default
def test_minibatch_kmeans_near_full_lloyd_quality(spark):
    """Mini-batch k-means must (a) assign the FULL corpus, (b) be
    rerun-deterministic (hash-sampled batches, no RNG), and (c) land
    within a modest distortion bound of full Lloyd — the price of
    scanning only a fraction per iteration."""
    from cdc_pipeline_spark.operators.clustering import distortion, kmeans, minibatch_kmeans

    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    mb = minibatch_kmeans(emb, k=4, max_iters=5, batch_fraction=0.25)
    assert mb.count() == n
    assert mb.select("cluster").distinct().count() <= 4
    d_full = distortion(emb, kmeans(emb, k=4, max_iters=5))
    d_mb = distortion(emb, mb)
    assert d_mb <= 1.5 * d_full, f"mini-batch distortion too far from Lloyd ({d_mb} vs {d_full})"
    again = {r.vec_id: r.cluster for r in minibatch_kmeans(emb, k=4, max_iters=5, batch_fraction=0.25).collect()}
    assert again == {r.vec_id: r.cluster for r in mb.collect()}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="batch_fraction"):
        minibatch_kmeans(emb, k=4, batch_fraction=0.0)


def test_sql_round_rewriter_paren_matching():
    from cdc_pipeline_spark.operators.rounding import rewrite_sql_rounds

    sql = "SELECT round(sum(a * (1 - b)), 2) AS x, round(quantile_cont(v, 0.5), 4) AS y, around(z, 2) FROM t"
    out = rewrite_sql_rounds(sql)
    assert out == (
        "SELECT floor((sum(a * (1 - b))) * 100.0 + 0.5) / 100.0 AS x, "
        "floor((quantile_cont(v, 0.5)) * 10000.0 + 0.5) / 10000.0 AS y, "
        "around(z, 2) FROM t"
    )


def test_sql_round_rewriter_nested_and_non_literal():
    from cdc_pipeline_spark.operators.rounding import rewrite_sql_rounds

    # nested rounds rewrite inside-out; non-integer-literal digits are
    # left native but still get their inner rounds rewritten
    assert rewrite_sql_rounds("round(round(x,4),2)") == (
        "floor((floor((x) * 10000.0 + 0.5) / 10000.0) * 100.0 + 0.5) / 100.0"
    )
    assert rewrite_sql_rounds("round(x, n)") == "round(x, n)"
    assert rewrite_sql_rounds("round(round(a,3) + b, n)") == (
        "round(floor((a) * 1000.0 + 0.5) / 1000.0 + b, n)"
    )


def test_hash_split_disjoint_exhaustive_stable(spark):
    from cdc_pipeline_spark.operators.sampling import hash_split

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = hash_split(df, "doc_id")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 2000, "splits must be exhaustive"
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    again = {r.doc_id: r.split for r in hash_split(df, "doc_id").collect()}
    first = {r.doc_id: r.split for r in out.collect()}
    assert first == again, "assignment must be rerun-stable"


def test_deterministic_downsample_caps_and_is_stable(spark):
    from cdc_pipeline_spark.operators.sampling import deterministic_downsample

    rows = [(i % 7, i) for i in range(500)]
    df = spark.createDataFrame(rows, ["user_id", "event_id"])
    out = deterministic_downsample(df, "user_id", 10, "event_id")
    per_key = {r.user_id: r.n for r in out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(n == 10 for n in per_key.values())
    kept1 = sorted((r.user_id, r.event_id) for r in out.collect())
    kept2 = sorted(
        (r.user_id, r.event_id)
        for r in deterministic_downsample(df.repartition(13), "user_id", 10, "event_id").collect()
    )
    assert kept1 == kept2, "selection must not depend on partitioning"


def test_stratified_sample_respects_fractions(spark):
    from cdc_pipeline_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame([(i, i % 2) for i in range(4000)], ["vec_id", "label"])
    out = stratified_sample(df, "label", {0: 0.2, 1: 0.8}, seed=7)
    counts = {r.label: r.n for r in out.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert 0.12 <= counts[0] / 2000 <= 0.28, counts
    assert 0.72 <= counts[1] / 2000 <= 0.88, counts
    again = out.count()
    assert again == sum(counts.values()), "seeded sample must be stable"


def test_connected_components_chain_ring_isolated(spark):
    """Transitive chaining (1-2-3 without 1~3), a 6-node ring (needs
    several propagation rounds), and an isolated vertex."""
    from cdc_pipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 13), (13, 14), (14, 15), (15, 10)],
        "id_a long, id_b long",
    )
    vertices = spark.createDataFrame([(i,) for i in [1, 2, 3, 7, 10, 11, 12, 13, 14, 15]], "doc_id long")
    got = {r["doc_id"]: r["component"] for r in connected_components(edges, vertices=vertices).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10}
    star = {
        r["doc_id"]: r["component"]
        for r in connected_components(edges, vertices=vertices, algorithm="star").collect()
    }
    assert star == got


def test_star_components_log_rounds_on_long_chain(spark):
    """The adversarial case for propagation: a 1000-node chain has
    diameter 999, so min-label propagation needs ~999 rounds — the
    large-star/small-star rewiring must settle in O(log n) (~10) and
    still produce the identical min-label components."""
    import random

    from cdc_pipeline_spark.operators.graph import connected_components

    ids = list(range(1000))
    random.Random(7).shuffle(ids)  # chain order decoupled from id order
    chain = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    edges = spark.createDataFrame(chain, "id_a long, id_b long").repartition(8)
    stats: dict = {}
    out = connected_components(edges, algorithm="star", stats=stats, max_iter=30)
    labels = {r["doc_id"]: r["component"] for r in out.collect()}
    assert labels == {i: 0 for i in range(1000)}
    assert stats["rounds"] <= 12, f"expected O(log n) rounds, took {stats['rounds']}"


def test_star_components_random_graph_matches_propagation(spark):
    import random

    from cdc_pipeline_spark.operators.graph import connected_components

    rng = random.Random(23)
    edges_py = [(rng.randrange(300), rng.randrange(300)) for _ in range(250)]
    edges = spark.createDataFrame(edges_py, "id_a long, id_b long")
    prop = {
        r["doc_id"]: r["component"]
        for r in connected_components(edges, max_iter=50).collect()
    }
    star = {
        r["doc_id"]: r["component"]
        for r in connected_components(edges, algorithm="star").collect()
    }
    assert star == prop


def test_quality_rules_planted_cases(spark):
    from cdc_pipeline_spark.operators.quality import quality_rule_columns

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on a mat and it is that good for all of them here"),  # clean
            (2, "short text"),  # too few words
            (3, "the " + "@#$% " * 20 + "a of and is"),  # symbol-heavy
            (4, " ".join(["zorp"] * 30)),  # no stopwords
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in docs.select("doc_id", *quality_rule_columns()).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["r_word_count"] is False
    assert out[3]["keep"] is False and out[3]["r_symbol_ratio"] is False
    assert out[4]["keep"] is False and out[4]["r_stopwords"] is False


def test_repetition_stats_planted(spark):
    from cdc_pipeline_spark.operators.quality import repetition_stats

    docs = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "all words are unique here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in repetition_stats(docs).collect()}
    assert out[1]["top_token_frac"] == 1.0 and out[1]["distinct_ratio"] == 0.25
    assert out[1]["top_bigram_frac"] == 1.0  # "spam spam" x3
    assert out[2]["top_token_frac"] == 0.2 and out[2]["distinct_ratio"] == 1.0


def test_pii_redact_counts_and_text(spark):
    from cdc_pipeline_spark.operators.quality import pii_redact
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "mail bob@x.io or alice@y.org, host 10.0.0.1, call 555-1234 now")],
        "doc_id long, t string",
    )
    red, ne, ni, np_ = pii_redact(F.col("t"))
    row = df.select(red.alias("r"), ne.alias("e"), ni.alias("i"), np_.alias("p")).collect()[0]
    assert (row["e"], row["i"], row["p"]) == (2, 1, 1)
    assert row["r"] == "mail <EMAIL> or <EMAIL>, host <IP>, call <PHONE> now"


def test_ngram_contamination_planted(spark):
    from cdc_pipeline_spark.operators.quality import ngram_contamination

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "x y alpha beta gamma z w q r s"),  # one contaminated 3-gram
            (2, "totally different words in this one here now ok fine"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in ngram_contamination(corpus, bench, n=3).collect()}
    assert out[1]["n_contaminated"] == 1 and out[1]["n_ngrams"] == 8
    assert out[2]["n_contaminated"] == 0 and out[2]["flagged"] is False
    assert out[1]["flagged"] is True  # 1/8 = 0.125 >= 0.05


def test_scd2_history_compress_and_intervals(spark):
    from cdc_pipeline_spark.operators.cdc import scd2_history

    rows = [
        # key 1: pending -> pending (no-op, compressed) -> shipped -> delivered
        (1, 10, "pending"), (1, 20, "pending"), (1, 30, "shipped"), (1, 40, "delivered"),
        # key 2: single state, current from the start
        (2, 15, "pending"),
        # key 3: null attr handled null-safely (null == null compresses)
        (3, 10, None), (3, 20, None), (3, 30, "active"),
    ]
    df = spark.createDataFrame(rows, "k long, v long, status string")
    out = scd2_history(df, key_cols=["k"], version_col="v", attr_cols=["status"]).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], []).append((r["status"], r["valid_from"], r["valid_to"], r["is_current"]))
    for v in by_key.values():
        v.sort(key=lambda t: t[1])
    assert by_key[1] == [
        ("pending", 10, 30, False), ("shipped", 30, 40, False), ("delivered", 40, None, True),
    ]
    assert by_key[2] == [("pending", 15, None, True)]
    assert by_key[3] == [(None, 10, 30, False), ("active", 30, None, True)]
    # uncompressed: every version becomes an interval
    raw = scd2_history(df, ["k"], "v", ["status"], compress=False).collect()
    assert len([r for r in raw if r["k"] == 1]) == 4


def test_zorder_key_is_morton_interleave(spark):
    from cdc_pipeline_spark.operators.layout import zorder_key

    df = spark.createDataFrame([(x, y) for x in range(4) for y in range(4)], "x long, y long")
    got = {(r.x, r.y): r.z for r in df.select("x", "y", zorder_key([F.col("x"), F.col("y")], bits=2).alias("z")).collect()}

    def morton(x, y):  # x contributes even bit positions, y odd
        z = 0
        for j in range(2):
            z |= ((x >> j) & 1) << (2 * j)
            z |= ((y >> j) & 1) << (2 * j + 1)
        return z

    assert got == {(x, y): morton(x, y) for x in range(4) for y in range(4)}


def test_zorder_sort_clusters_both_dimensions(spark):
    """On a uniform 2-D grid, Z-ordered partitions must be local in BOTH
    columns, where a linear sort is local in one and spans the full range
    of the other — the property that makes min/max stats prune range
    predicates on either column."""
    from cdc_pipeline_spark.operators.layout import zorder_sort

    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x long, y long").repartition(8)

    def avg_partition_ranges(frame):
        import statistics

        parts = frame.withColumn("__pid", F.spark_partition_id()).groupBy("__pid").agg(
            (F.max("x") - F.min("x")).alias("xr"), (F.max("y") - F.min("y")).alias("yr")
        ).collect()
        return (statistics.mean(p.xr for p in parts), statistics.mean(p.yr for p in parts))

    zx, zy = avg_partition_ranges(zorder_sort(df, ["x", "y"], bits=6, num_partitions=16))
    lx, ly = avg_partition_ranges(
        df.repartitionByRange(16, F.col("x")).sortWithinPartitions("x")
    )
    # linear layout: tight on x, full-width on y
    assert lx <= 8 and ly >= 60
    # z-order: meaningfully local on BOTH dimensions
    assert zx <= 32 and zy <= 32, (zx, zy)


def test_compact_small_files_roundtrip(spark, tmp_path):
    from cdc_pipeline_spark.operators.layout import compact_small_files

    path = str(tmp_path / "frag")
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    df.repartition(20).write.parquet(path)
    import os

    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_before == 20
    n_files = compact_small_files(spark, path, target_rows_per_file=300)
    assert n_files == 4
    n_after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_after == 4
    back = spark.read.parquet(path)
    assert back.count() == 1000
    assert back.agg(F.sum("v")).collect()[0][0] == 999 * 1000


def test_fuzzy_join_cross_table_linkage(spark):
    from cdc_pipeline_spark.operators.dedup import fuzzy_join

    left = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight"),
         (2, "completely unrelated content about database engines here")],
        "doc_id long, text string",
    )
    right = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),
         (11, "another unrelated row about streaming watermarks instead")],
        "doc_id long, text string",
    )
    got = {(r.left_id, r.right_id): r.jaccard for r in fuzzy_join(left, right, threshold=0.3).collect()}
    assert set(got) == {(1, 10)}, got
    # 8 shared 3-gram shingles of 8+8 distinct each → J = 8/(8+8-8)
    assert abs(got[(1, 10)] - 8 / 8) < 0.35  # loose: exact value depends on shingle sets
    # symmetric call direction must score identically
    flipped = {(r.right_id, r.left_id): r.jaccard for r in fuzzy_join(right, left, threshold=0.3).collect()}
    assert flipped == got


def test_deterministic_stratified_sample_stable_and_bounded(spark):
    from cdc_pipeline_spark.operators.sampling import deterministic_stratified_sample

    emb = load_table(spark, SF_DIR, "embeddings")
    labels = [r.label for r in emb.select("label").distinct().collect()]
    fractions = {l: (0.2 if l % 2 == 0 else 0.8) for l in labels}
    take = lambda: {  # noqa: E731
        r.vec_id for r in deterministic_stratified_sample(
            emb, "label", fractions, id_col="vec_id").collect()
    }
    first, second = take(), take()
    assert first == second, "hash sample must be rerun-identical"
    rates = {
        r.label: r.frac
        for r in emb.withColumn("kept", F.col("vec_id").isin(list(first)).cast("int"))
        .groupBy("label").agg(F.avg("kept").alias("frac")).collect()
    }
    for label, rate in rates.items():
        target = fractions[label]
        assert abs(rate - target) < 0.2, (label, rate, target)


def test_rp_lsh_neardup_pairs_subset_of_exact(spark):
    """Banded-LSH near-dup pairs must be a SUBSET of the exact all-pairs
    set at the same threshold (verify stage makes precision exact), with
    bit-identical scores; and recall on this corpus's planted near-dups
    (high cosine → near-certain band collision) should be non-trivial."""
    from cdc_pipeline_spark.operators.similarity import (
        cosine_neardup_pairs,
        rp_lsh_neardup_pairs,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {(r.id_a, r.id_b): r.score for r in cosine_neardup_pairs(emb, threshold=0.4).collect()}
    lsh = rp_lsh_neardup_pairs(emb, dim=64, threshold=0.4, n_bands=8, band_bits=4).collect()
    assert lsh, "LSH should emit pairs on a corpus with planted near-dups"
    for r in lsh:
        assert exact[(r.id_a, r.id_b)] == r.score
    # high-similarity pairs (θ small ⇒ per-band collision ≈ 1) must be found
    strong = {k for k, s in exact.items() if s >= 0.9}
    found = {(r.id_a, r.id_b) for r in lsh}
    assert strong <= found, f"missed strong pairs: {strong - found}"


def test_keep_best_canonical_planted(spark):
    """Argmax semantics: highest quality wins, ties break to the lowest
    id, singletons keep themselves, members counts the whole cluster."""
    from cdc_pipeline_spark.operators.dedup import keep_best_canonical

    comps = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 40), (5, 50), (6, 50)],
        "doc_id long, component long",
    )
    quality = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.7), (6, 0.7)],
        "doc_id long, quality double",
    )
    got = {r.component: r for r in keep_best_canonical(comps, quality).collect()}
    assert set(got) == {10, 40, 50}
    assert (got[10].canonical_id, got[10].best_quality, got[10].members) == (2, 0.9, 3)
    assert (got[40].canonical_id, got[40].members) == (4, 1)
    assert (got[50].canonical_id, got[50].members) == (5, 2)  # tie → lowest id


def test_semantic_dedup_planted(spark):
    """SemDeDup keep rule: within a cell, any pair ≥ tau drops the
    higher id; cross-cell near-dups are NOT compared (the approximation
    that buys Σ n_c² instead of N²)."""
    from cdc_pipeline_spark.operators.similarity import semantic_dedup

    # two well-separated cells on orthogonal axes; ids 1,2 are
    # near-identical in cell A; id 4 (cell B) is near id 1 in angle but
    # lands in the other cell, so it must survive.
    rows = [
        (1, 0, [1.0, 0.0, 0.05]),
        (2, 0, [1.0, 0.0, 0.0]),    # dup of 1 → dropped (higher id? no: 2>1 → dropped)
        (3, 0, [0.9, 0.1, -0.4]),   # same cell, below tau → kept
        (4, 1, [0.0, 1.0, 0.05]),
        (5, 1, [0.0, 1.0, 0.0]),    # dup of 4 → dropped
        (6, 1, [0.1, 0.8, -0.5]),   # below tau → kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    got = {r.vec_id: (r.cell, r.is_kept) for r in semantic_dedup(df, tau=0.95).collect()}
    assert len(got) == 6, "one output row per input vector"
    assert got[1][1] and not got[2][1], "higher id of a dup pair is dropped"
    assert got[4][1] and not got[5][1]
    assert got[3][1] and got[6][1], "below-tau members are kept"
    assert got[1][0] == got[2][0] == got[3][0]
    assert got[4][0] == got[5][0] == got[6][0]
    assert got[1][0] != got[4][0], "cells are distinct"


def test_hard_negative_topk_excludes_same_label(spark):
    """Hard negatives must all carry a different label than the query
    and be ranked by descending cosine."""
    from cdc_pipeline_spark.operators.similarity import hard_negative_topk

    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [0.99, 0.14]),   # same label: never a negative
        (2, 1, [0.95, 0.31]),   # closest other-label
        (3, 1, [0.0, 1.0]),     # far other-label
        (4, 2, [0.9, 0.43]),    # second-closest other-label
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    q = df.filter("vec_id = 0").selectExpr("vec_id as query_id", "embedding", "label")
    got = hard_negative_topk(df, q, k=2).collect()
    assert [r.vec_id for r in got] == [2, 4]
    assert [r.rank for r in got] == [1, 2]
    assert all(r.score < 1.0 for r in got)


def test_token_budget_select_greedy_prefix(spark):
    """A row is kept iff it STARTS within budget: the budget may
    overshoot by at most one row and never undershoots while candidates
    remain; selection order is the caller's preference order."""
    from pyspark.sql import functions as F

    from cdc_pipeline_spark.operators.sampling import token_budget_select

    rows = [
        ("a", 1, 60, 0.9),
        ("a", 2, 60, 0.8),   # starts at 60 < 100 → kept (cum 120: overshoot)
        ("a", 3, 60, 0.7),   # starts at 120 ≥ 100 → cut
        ("b", 4, 100, 0.1),  # exactly consumes the budget
        ("b", 5, 1, 0.05),   # starts at 100 ≥ 100 → cut
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long, quality double")
    got = token_budget_select(
        df, "source", "n_tokens", budget=100,
        order_by=[F.col("quality").desc(), F.col("doc_id")],
    ).collect()
    kept = {(r.source, r.doc_id): r.cum_tokens for r in got}
    assert set(kept) == {("a", 1), ("a", 2), ("b", 4)}
    assert kept[("a", 2)] == 120 and kept[("b", 4)] == 100


def test_cross_doc_span_coverage_planted(spark):
    """A span shared verbatim across two docs marks its windows in BOTH;
    within-doc repeats alone don't count; short docs are omitted."""
    from cdc_pipeline_spark.operators.dedup import cross_doc_span_coverage

    shared = "a b c d e f g h"            # exactly one 8-token window
    rows = [
        (1, shared + " x1 y1 z1 w1 v1 u1 t1 s1"),
        (2, shared + " x2 y2 z2 w2 v2 u2 t2 s2"),
        (3, "p q r s t u v w p q r s t u v w"),  # self-repeat only
        (4, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in cross_doc_span_coverage(df, n=8).collect()}
    assert 4 not in got, "docs with < n tokens have no windows"
    assert got[1].n_windows == 9 and got[2].n_windows == 9
    # only the leading shared window is cross-doc duplicated
    assert got[1].n_dup_windows == 1 and got[2].n_dup_windows == 1
    assert got[3].n_dup_windows == 0, "within-doc repetition is not cross-doc"


def test_max_dup_span_planted(spark):
    """A 10-token block shared by two docs yields a 3-window island
    (10 − 8 + 1) → max_span_tokens 10; non-adjacent duplicated windows
    don't merge; clean docs report zeros; short docs are omitted."""
    from cdc_pipeline_spark.operators.dedup import max_dup_span

    shared = "a b c d e f g h i j"  # 10 tokens → three 8-token windows
    rows = [
        (1, shared + " x1 y1 z1 w1 v1 u1"),
        (2, shared + " x2 y2 z2 w2 v2 u2"),
        # doc 3 contains the shared block's FIRST and LAST windows but
        # separated by its own token, so its islands have run 1
        (3, "a b c d e f g h QQ c d e f g h i j"),
        (4, "entirely unique tokens q r s t u v w x y z"),
        (5, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in max_dup_span(df, n=8).collect()}
    assert 5 not in got
    assert got[1].max_dup_run == 3 and got[1].max_span_tokens == 10
    assert got[2].max_dup_run == 3 and got[2].max_span_tokens == 10
    assert got[3].max_dup_run == 1 and got[3].max_span_tokens == 8
    assert got[4].max_dup_run == 0 and got[4].max_span_tokens == 0
    assert got[4].n_windows == 6  # 13 tokens → 13 − 8 + 1 windows


def test_max_dup_span_merges_across_different_partners(spark):
    """Documented upper-bound semantics: adjacent duplicated windows
    merge even when they match DIFFERENT partner docs, so the reported
    span can exceed the longest single-partner block."""
    from cdc_pipeline_spark.operators.dedup import max_dup_span

    a = [f"a{i}" for i in range(1, 10)]  # 9 tokens → windows at pos 0, 1
    rows = [
        (1, " ".join(a)),
        (2, " ".join(a[:8]) + " xb yb zb"),  # shares only window a1..a8
        (3, "xc yc zc " + " ".join(a[1:])),  # shares only window a2..a9
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in max_dup_span(df, n=8).collect()}
    # doc 1's two windows are each shared with a different partner; the
    # island still merges → span 9, though no partner holds all 9 tokens
    assert got[1].max_dup_run == 2 and got[1].max_span_tokens == 9
    assert got[2].max_dup_run == 1 and got[2].max_span_tokens == 8
    assert got[3].max_dup_run == 1 and got[3].max_span_tokens == 8


def test_cluster_medoids_planted(spark):
    """The medoid is the member closest to everyone (not the first, not
    the centroid); singleton cells emit themselves with mean_sim 0."""
    from cdc_pipeline_spark.operators.clustering import cluster_medoids

    rows = [
        # cell 0: vectors at angles ~0°, ~30°, ~60° — the middle one (id 2)
        # has the highest mean cosine to its peers
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.866, 0.5]),
        (3, 0, [0.5, 0.866]),
        (9, 1, [0.0, 1.0]),  # singleton
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    got = {r.cell: r for r in cluster_medoids(df).collect()}
    assert got[0].medoid_id == 2 and got[0].n_members == 3
    assert got[0].mean_sim > 0.85  # avg(cos 30°, cos 30°) ≈ 0.866
    assert got[1].medoid_id == 9 and got[1].mean_sim == 0.0 and got[1].n_members == 1


def test_segment_dedup_keep_first_and_rebuild(spark):
    """A repeated 8-token segment survives only at its globally-first
    (doc_id, pos); docs rebuild from surviving segments in pos order."""
    from cdc_pipeline_spark.operators.dedup import segment_dedup

    seg_a = " ".join(["alpha"] * 8)
    seg_b = " ".join(["beta"] * 8)
    seg_c = " ".join(["gamma"] * 8)
    df = spark.createDataFrame(
        [
            (1, f"{seg_a} {seg_b}"),       # both first occurrences
            (2, f"{seg_b} {seg_c}"),       # seg_b dup -> dropped
            (3, seg_a),                    # fully duplicate -> ''
            (4, "short tail"),             # partial segment, unique
            (5, "   "),                    # whitespace-only -> 0 segments
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in segment_dedup(df).collect()}
    assert out[1]["dedup_text"] == f"{seg_a} {seg_b}" and out[1]["n_kept"] == 2
    assert out[2]["dedup_text"] == seg_c and out[2]["n_kept"] == 1
    assert out[3]["dedup_text"] == "" and out[3]["n_kept"] == 0 and out[3]["n_segments"] == 1
    assert out[4]["dedup_text"] == "short tail"
    assert out[5]["n_segments"] == 0 and out[5]["dedup_text"] == ""


def test_dsir_weights_favor_target_vocabulary(spark):
    """Docs sharing the target domain's vocabulary must outscore docs
    with disjoint vocabulary; zero-gram docs score exactly 0."""
    from cdc_pipeline_spark.operators.dsir import dsir_log_weights, dsir_select

    target = spark.createDataFrame(
        [(100 + i, "spark shuffle join window agg") for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "spark shuffle join window agg"),   # on-target
            (2, "llama pasture fence wool herd"),    # off-target
            (3, "   "),                              # zero grams
        ],
        "doc_id long, text string",
    )
    w = {r["doc_id"]: r for r in dsir_log_weights(raw, target).collect()}
    assert w[1]["log_weight"] > w[2]["log_weight"]
    assert w[3]["log_weight"] == 0.0 and w[3]["n_grams"] == 0
    # selection is deterministic and keeps k rows with the key ordering
    sel = dsir_select(dsir_log_weights(raw, target), k=2).collect()
    keys = [r["sample_key"] for r in sel]
    assert len(sel) == 2 and keys == sorted(keys, reverse=True)


def test_epoch_shuffle_order_deterministic_and_dense(spark):
    """Per-shard positions are dense 1..n, reruns are identical, and a
    different seed produces a different order."""
    from cdc_pipeline_spark.operators.sampling import epoch_shuffle_order

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = epoch_shuffle_order(df, n_shards=4, seed=3).collect()
    b = epoch_shuffle_order(df, n_shards=4, seed=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["epoch_pos"])
    assert set(by_shard) <= {0, 1, 2, 3}
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    c = epoch_shuffle_order(df, n_shards=4, seed=4).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))


def _py_bucket(gram: str, buckets: int = 4096) -> int:
    acc = 0
    for ch in gram:
        acc = (acc * 131 + max(ord(ch), 0)) % 2147483647
    return acc % buckets


def _py_weight(bucket: int, seed: int = 13) -> float:
    return (((bucket * 2654435761 + seed) % 2147483647) % 2001 - 1000) / 1000.0


def test_linear_classifier_matches_manual_inference(spark):
    """Classifier inference replicated by hand for a two-token doc:
    logit must equal the mean of the three gram weights (2 unigrams +
    1 bigram), and the zero-gram doc scores logit 0 / prob 0.5 / drop."""
    from cdc_pipeline_spark.operators.classifier import (
        hashed_weight_table,
        linear_classifier_scores,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "   ")], "doc_id long, text string"
    )
    weights = hashed_weight_table(spark, buckets=4096, seed=13)
    out = {r["doc_id"]: r for r in linear_classifier_scores(docs, weights).collect()}

    grams = ["alpha", "beta", "alpha beta"]
    expected = sum(_py_weight(_py_bucket(g)) for g in grams) / len(grams)
    import math

    assert out[1]["n_grams"] == 3
    assert abs(out[1]["logit"] - expected) < 1e-6
    prob = 1.0 / (1.0 + math.exp(-4.0 * out[1]["logit"]))
    assert abs(out[1]["prob"] - prob) < 1e-6
    assert out[1]["keep"] == (out[1]["prob"] > 0.5)
    assert out[2]["n_grams"] == 0 and out[2]["logit"] == 0.0
    assert out[2]["prob"] == 0.5 and out[2]["keep"] is False


def test_incremental_neardup_probes_only_incoming_vs_historical(spark):
    """The incremental probe reports incoming×historical near-dups only:
    a planted incoming copy of a historical doc is found, a unique
    incoming doc matches nothing, and two incoming docs that are
    near-dups OF EACH OTHER produce no pair (they belong to the next
    full-corpus dedup pass, not the increment probe)."""
    from cdc_pipeline_spark.operators.dedup import incremental_minhash_neardup

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),                                    # historical
        (2, "completely different historical content about spark shuffles and joins here"),
        (101, base + " extra"),                       # incoming ≈ doc 1
        (102, "unique incoming content nothing shares these tokens at all whatsoever"),
        (103, base + " extra two"),                   # incoming ≈ 101 (incoming×incoming)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = incremental_minhash_neardup(
        docs, incoming=F.col("doc_id") >= 100, threshold=0.5
    ).collect()
    pairs = {(r["doc_id"], r["match_id"]) for r in out}
    assert (101, 1) in pairs and (103, 1) in pairs
    assert all(m < 100 <= d for d, m in pairs), "matches must be incoming->historical"
    assert all(r["jaccard"] >= 0.5 for r in out)


def test_pq_encode_and_adc_rank_planted_neighbor(spark):
    """PQ sanity on planted vectors: (a) every codebook-seed vector
    encodes to its own code in all subspaces (distance 0, ties
    impossible with distinct seeds); (b) ADC ranks a vector sharing a
    query's codes ahead of vectors with disjoint codes."""
    import random

    from cdc_pipeline_spark.operators.pq import pq_adc_topk, pq_codebook, pq_encode

    rng = random.Random(5)
    dim, m, k = 8, 2, 4
    seeds = [[round(rng.uniform(-1, 1), 3) for _ in range(dim)] for _ in range(k)]
    rows = [(c, seeds[c]) for c in range(k)]
    # vec 100 = seed 0 + tiny noise (same cell); vec 101 = far away
    rows.append((100, [v + 0.01 for v in seeds[0]]))
    rows.append((101, [v + 5.0 for v in seeds[1]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_codebook(emb, m=m, k=k, dim=dim)
    enc = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, cb, m=m, dim=dim).collect()}
    for c in range(k):
        assert enc[c] == [c] * m, f"seed {c} must encode to its own code: {enc[c]}"
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_adc_topk(
        queries, pq_encode(emb, cb, m=m, dim=dim), cb, k=3, m=m, dim=dim
    ).collect()
    ranked = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 100, f"the same-code neighbor must rank first: {ranked}"
    assert all(r["approx_dist"] >= 0 for r in out)


def test_chunk_documents_boundaries_and_overlap(spark):
    """Window 4 / stride 3 on a 10-token doc: chunks cover tokens
    [0:4),[3:7),[6:10),[9:10) — overlapping by 1, last chunk short."""
    from cdc_pipeline_spark.operators.chunking import chunk_documents

    toks = [f"t{i}" for i in range(10)]
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    out = {
        r.chunk_id: (r.n_tokens, r.chunk_text)
        for r in chunk_documents(df, window=4, stride=3).collect()
    }
    assert out == {
        0: (4, "t0 t1 t2 t3"),
        1: (4, "t3 t4 t5 t6"),
        2: (4, "t6 t7 t8 t9"),
        3: (1, "t9"),
    }


def test_chunk_documents_short_doc_single_chunk(spark):
    from cdc_pipeline_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame([(7, "a b")], "doc_id long, text string")
    rows = chunk_documents(df, window=64, stride=48).collect()
    assert len(rows) == 1
    assert (rows[0].chunk_id, rows[0].n_tokens, rows[0].chunk_text) == (0, 2, "a b")


def test_adjacent_pair_counts_frequencies_and_ties(spark):
    """All occurrences count (BPE merge priority is total frequency),
    n_docs is distinct, and the top-k tie-break is the pair string."""
    from cdc_pipeline_spark.operators.chunking import adjacent_pair_counts

    df = spark.createDataFrame(
        [(0, "a b a b c"), (1, "a b x"), (2, "z z"), (3, "solo")],
        "doc_id long, text string",
    )
    rows = adjacent_pair_counts(df, k=3).collect()
    assert [(r.pair, r.n_docs, r.n_occurrences) for r in rows] == [
        ("a b", 2, 3),  # twice in doc 0 (occurrences), once in doc 1
        ("b a", 1, 1),  # count=1 ties broken by pair string ascending
        ("b c", 1, 1),
    ]


def test_benchmark_containment_catches_swallowed_eval_item(spark):
    """A long doc that contains a short eval item verbatim: the doc's
    own contaminated fraction is small (ngram_contamination's signal),
    but containment of the eval item is 1.0 — the case this operator
    exists for. A disjoint doc produces no pair."""
    from cdc_pipeline_spark.operators.quality import benchmark_containment_pairs

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps")], "doc_id long, text string"
    )
    filler = " ".join(f"w{i}" for i in range(40))
    corpus = spark.createDataFrame(
        [
            (100, f"{filler} the quick brown fox jumps {filler}"),
            (101, "completely different content with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    rows = benchmark_containment_pairs(corpus, bench, n=3, threshold=0.2).collect()
    assert [(r.doc_id, r.bench_id, r.n_common, r.containment) for r in rows] == [
        (100, 0, 3, 1.0)
    ]


def test_split_expr_matches_hash_split_and_leakage_labels(spark):
    """split_expr over a bare id column must agree with hash_split's
    column for every id — that equivalence is what lets the leakage
    audit label pair sides without joining the assignment back."""
    from cdc_pipeline_spark.operators.sampling import hash_split, split_expr

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    both = hash_split(df, "doc_id").withColumn("via_expr", split_expr(F.col("doc_id")))
    assert both.filter(F.col("split") != F.col("via_expr")).count() == 0
    got = {r.split for r in both.select("split").distinct().collect()}
    assert got == {"train", "val", "test"}


def test_pagerank_star_center_ranks_highest(spark):
    """On a 5-spoke star the center collects every spoke's contribution;
    fixed-point arithmetic must conserve mass up to floor leakage and be
    rerun-identical."""
    from cdc_pipeline_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "id_a long, id_b long"
    )
    out = {r.node: r.rank_fp for r in pagerank_fixed_point(edges, n_iter=5).collect()}
    assert len(out) == 6
    assert out[0] > max(v for k, v in out.items() if k != 0)
    spokes = {v for k, v in out.items() if k != 0}
    assert len(spokes) == 1, "symmetric spokes must get identical ranks"
    total = sum(out.values())
    assert 0.99e9 <= total <= 1.0e9, f"mass conserved up to floor leakage: {total}"
    rerun = {r.node: r.rank_fp for r in pagerank_fixed_point(edges, n_iter=5).collect()}
    assert rerun == out


def test_pagerank_empty_graph(spark):
    from cdc_pipeline_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert pagerank_fixed_point(edges).count() == 0


def test_source_quality_rank_keeps_top_half_per_source(spark):
    """Per-source normalization: each source keeps its own top half even
    when one source's scores are uniformly lower than another's — the
    failure mode of a global cut."""
    out = workload.QUERIES["doc_source_quality_rank"](spark, SF_DIR)
    agg = {
        (r.source, r.keep): r.cnt
        for r in out.groupBy("source", "keep").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    sources = {s for s, _ in agg}
    for s in sources:
        kept, dropped = agg.get((s, True), 0), agg.get((s, False), 0)
        assert kept > 0, f"source {s} must keep documents under its own cut"
        # percent_rank >= 0.5 keeps the top half, off-by-one at the median
        assert abs(kept - dropped) <= 2, (s, kept, dropped)


def test_strip_markup_planted_html(spark):
    from cdc_pipeline_spark.operators.text import markup_counts, strip_markup

    df = spark.createDataFrame(
        [
            (0, "<p>Hello &amp; welcome</p> to <b>the</b> corpus &#160; now"),
            (1, "plain text no markup"),
        ],
        "doc_id long, text string",
    )
    n_tags, n_ents = markup_counts("text")
    rows = {
        r.doc_id: (r.clean, r.t, r.e)
        for r in df.select(
            "doc_id", strip_markup("text").alias("clean"), n_tags.alias("t"), n_ents.alias("e")
        ).collect()
    }
    assert rows[0] == ("Hello welcome to the corpus now", 4, 2)
    assert rows[1] == ("plain text no markup", 0, 0)


def test_block_profile_main_content_fixture_battery(spark):
    """jusText-style extraction on the canonical crawled-page shapes:
    link-farm nav and footer drop, a stopword-free cookie banner drops,
    body paragraphs survive (inline links included under the 1/3 link
    density), and short blocks live or die by their neighbors."""
    from cdc_pipeline_spark.operators.text import (
        block_profile,
        kept_block_indices,
        main_content,
    )

    body1 = "the quick brown fox jumps over a lazy dog of the north and is happy"
    html = (
        '<nav><a href="/a">home page</a> <a href="/b">all products</a></nav>'
        "<div>cookie consent banner settings accept policy options data terms notice</div>"
        "<h1>fox report</h1>"
        f"<p>{body1}</p>"
        "<p>see more</p>"
        f'<p>{body1} <a href="/l">tiny link</a> and the tail is here now ok</p>'
        '<footer><a href="/about">about us</a> <a href="/c">contact</a></footer>'
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    row = df.select(
        block_profile("html").alias("prof"),
        main_content("html").alias("content"),
    ).collect()[0]
    cls = [(b.text[:18], b.cls) for b in row.prof]
    assert cls[0] == ("home page all prod", "bad")  # link density 1.0
    assert cls[1][1] == "bad"  # 10 words, zero stopwords
    assert cls[2] == ("fox report", "short")
    assert cls[3][1] == "good"
    assert cls[4] == ("see more", "short")
    assert cls[5][1] == "good"  # inline link below 1/3 density
    assert cls[6][1] == "bad"  # footer link farm
    # kept: h1 (good neighbor after), body1, see-more, body2
    kept = df.select(kept_block_indices(block_profile("html")).alias("k")).collect()[0].k
    assert list(kept) == [3, 4, 5, 6]
    assert row.content.startswith("fox report " + body1 + " see more")
    assert row.content.endswith("and the tail is here now ok")
    assert "cookie" not in row.content and "about us" not in row.content
    # isolated short between two bads is dropped; empty doc -> ''
    html2 = '<nav><a href="/x">one two</a></nav><h1>lonely heading</h1><footer><a href="/y">by</a></footer>'
    out2 = spark.createDataFrame([(2, html2), (3, "")], "doc_id long, html string").select(
        "doc_id", main_content("html").alias("c")
    ).collect()
    got = {r.doc_id: r.c for r in out2}
    assert got[2] == "" and got[3] == ""


def test_block_profile_strips_script_style_noscript_content(spark):
    """VERDICT r10 #4: <script>/<style>/<noscript> elements drop WITH
    their bodies before block splitting. The script fixture is the
    failure mode itself — identifier soup with stopword-looking tokens
    ('this', 'that', 'of') that classified 'good' and leaked into the
    extracted content when only the TAGS were removed."""
    from cdc_pipeline_spark.operators.text import block_profile, main_content

    js = "var a = 1; if (this && that) { return a + of(it); }"
    body = "the quick brown fox jumps over a lazy dog of the north and is happy"
    html = (
        f'<div><script type="text/javascript">{js}</script>inline widget</div>'
        f"<p>{body}</p>"
        "<nav><style>.nav a{color:#fff}</style>"
        '<a href="/a">home page</a> <a href="/b">all products</a></nav>'
        "<div>plain words<noscript>enable javascript to view the consent charts"
        "</noscript> here</div>"
        "<p><style>unterminated style without a close tag</p>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    row = df.select(
        block_profile("html").alias("prof"), main_content("html").alias("content")
    ).collect()[0]
    cls = {b.text: b.cls for b in row.prof}
    # the script body is GONE: the widget div is a 2-word short, not a
    # 16-word 'good' of leaked JS
    assert cls["inline widget"] == "short"
    # style body gone from the nav -> still a pure link farm (bad)
    assert cls["home page all products"] == "bad"
    # noscript body gone mid-block; the div's own words survive intact
    assert cls["plain words here"] == "short"
    # an UNTERMINATED element is left in place (no close tag to pair)
    assert any("unterminated style" in t for t in cls)
    assert "var a" not in row.content and "return" not in row.content
    assert "color:#fff" not in row.content
    assert "enable javascript" not in row.content
    assert body in row.content  # real content still extracts


def test_block_profile_plan_is_shuffle_free(spark):
    """The extraction is a pure projection — zero Exchange nodes on a
    corpus scan."""
    import re

    from cdc_pipeline_spark import plans
    from cdc_pipeline_spark.operators.text import block_profile, main_content_from_profile

    df = spark.createDataFrame([(1, "<p>x</p>")], "doc_id long, html string")
    out = df.withColumn("prof", block_profile("html")).select(
        "doc_id", F.size("prof").alias("n"), main_content_from_profile("prof").alias("c")
    )
    plan = plans.plan_string(out)
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE)) == 0, plan


def test_kcenter_greedy_spreads_across_planted_blobs(spark):
    """Three well-separated direction blobs: the first three selections
    must cover all three blobs (that is the k-center guarantee), and the
    traversal must be rerun-identical."""
    from cdc_pipeline_spark.operators.clustering import kcenter_greedy

    rows = []
    for blob, direction in enumerate([(1.0, 0.0, 0.0), (0.0, 1.0, 0.0), (0.0, 0.0, 1.0)]):
        for j in range(5):
            eps = 0.01 * j
            vec = [c + (eps if i == (blob + 1) % 3 else 0.0) for i, c in enumerate(direction)]
            rows.append((blob * 10 + j, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kcenter_greedy(df, k=3)
    picks = [r.vec_id for r in out.orderBy("selection_rank").collect()]
    assert {p // 10 for p in picks} == {0, 1, 2}, f"each blob must be hit: {picks}"
    assert picks[0] == 0, "seed is the smallest id"
    rerun = [r.vec_id for r in kcenter_greedy(df, k=3).orderBy("selection_rank").collect()]
    assert rerun == picks


def test_kcenter_greedy_clamps_k_to_corpus_size(spark):
    from cdc_pipeline_spark.operators.clustering import kcenter_greedy

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = kcenter_greedy(df, k=8).collect()
    assert len(out) == 3
    assert sorted(r.vec_id for r in out) == [0, 1, 2], "no duplicate selections"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="seed_id 99"):
        kcenter_greedy(df, k=2, seed_id=99)


def test_weighted_priority_sample_biases_and_is_stable(spark):
    from cdc_pipeline_spark.operators.sampling import weighted_priority_sample

    # ids 0..999 with weight 0.1, ids 1000..1999 with weight 10: a
    # 100x weight ratio must make the heavy group dominate a k=200 draw.
    rows = [(i, 0.1 if i < 1000 else 10.0) for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    out = weighted_priority_sample(df, "doc_id", F.col("w"), k=200)
    got = out.collect()
    assert len(got) == 200
    heavy = sum(1 for r in got if r.doc_id >= 1000)
    assert heavy > 180, f"100x-weighted group should dominate, got {heavy}/200"
    # exact A-ES keys: priorities strictly ordered with id tie-break
    pri = [(r.priority_q, -r.doc_id) for r in got]
    assert pri == sorted(pri, reverse=True)
    # partitioning must not change the selection (TakeOrdered + pure
    # hash keys)
    again = weighted_priority_sample(df.repartition(17), "doc_id", F.col("w"), k=200).collect()
    assert [(r.doc_id, r.priority_q) for r in got] == [
        (r.doc_id, r.priority_q) for r in again
    ]
    # reseeding redraws: a different seed must select a different set
    reseeded = weighted_priority_sample(df, "doc_id", F.col("w"), k=200, seed=99).collect()
    assert {r.doc_id for r in reseeded} != {r.doc_id for r in got}


def test_weighted_priority_sample_clamps_weights(spark):
    from cdc_pipeline_spark.operators.sampling import weighted_priority_sample

    df = spark.createDataFrame([(1, 0.0), (2, 1e9)], ["doc_id", "w"])
    got = {r.doc_id: r.sample_weight for r in weighted_priority_sample(df, "doc_id", F.col("w"), k=2).collect()}
    assert got[1] == 0.05 and got[2] == 20.0


def test_histogram_percentiles_error_bound_and_merge_invariance(spark):
    from cdc_pipeline_spark.operators.sketches import histogram_percentiles

    rows = [(i % 3, float(i)) for i in range(3000)]
    df = spark.createDataFrame(rows, ["g", "x"])
    out = histogram_percentiles(
        df, "x", ["g"], {"p50_est": 0.5, "p90_est": 0.9}, lo=0.0, hi=3000.0, n_bins=300
    )
    got = {r.g: r for r in out.collect()}
    exact = {
        r.g: (r.p50, r.p90)
        for r in df.groupBy("g")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)").alias("p50"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY x)").alias("p90"),
        )
        .collect()
    }
    width = 3000.0 / 300
    for g, r in got.items():
        assert r.total == 1000
        p50, p90 = exact[g]
        # upper-edge estimate vs the discrete rank element: the element
        # lies in the selected bin, whose upper edge is the estimate
        assert 0 <= r.p50_est - p50 <= width + 1e-9, (g, r.p50_est, p50)
        assert 0 <= r.p90_est - p90 <= width + 1e-9, (g, r.p90_est, p90)
    # sketch state is mergeable: any partitioning yields the same result
    again = {
        r.g: r
        for r in histogram_percentiles(
            df.repartition(23), "x", ["g"], {"p50_est": 0.5, "p90_est": 0.9},
            lo=0.0, hi=3000.0, n_bins=300,
        ).collect()
    }
    assert {g: (r.p50_est, r.p90_est) for g, r in got.items()} == {
        g: (r.p50_est, r.p90_est) for g, r in again.items()
    }


def test_histogram_percentiles_clamps_out_of_range(spark):
    from cdc_pipeline_spark.operators.sketches import histogram_percentiles

    df = spark.createDataFrame([(0, -50.0), (0, 9e9)], ["g", "x"])
    r = histogram_percentiles(
        df, "x", ["g"], {"p50_est": 0.5, "p99_est": 0.99}, lo=0.0, hi=100.0, n_bins=10
    ).collect()[0]
    # -50 clamps to bin 0 (upper edge 10), 9e9 to the last bin (edge 100)
    assert r.p50_est == 10.0 and r.p99_est == 100.0 and r.total == 2


def test_length_bucketed_batches_bounds_and_beats_unbucketed(spark):
    from cdc_pipeline_spark.operators.packing import length_bucketed_batches

    # skewed lengths: many short docs + a few very long ones
    rows = [(i, 10 + (i % 7)) for i in range(400)] + [(1000 + i, 900) for i in range(8)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = length_bucketed_batches(df, "doc_id", "n_tokens", batch_size=16).collect()
    assert all(r.n_docs <= 16 for r in out)
    assert sum(r.n_docs for r in out) == len(rows), "every doc lands in a batch"
    # every batch respects its bucket's length cap (overflow bucket aside)
    for r in out:
        assert r.bucket_cap == -1 or r.max_tokens <= r.bucket_cap

    def weighted_overhead(batches):
        grid = sum(r.n_docs * r.max_tokens for r in batches)
        used = sum(r.sum_tokens for r in batches)
        return (grid - used) / grid

    bucketed = weighted_overhead(out)
    unbucketed = weighted_overhead(
        length_bucketed_batches(
            df, "doc_id", "n_tokens", batch_size=16, edges=[1 << 30]
        ).collect()
    )
    assert bucketed < unbucketed, (bucketed, unbucketed)
    # deterministic under repartitioning
    again = length_bucketed_batches(
        df.repartition(11), "doc_id", "n_tokens", batch_size=16
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_count_min_one_sided_error_and_merge_invariance(spark):
    from cdc_pipeline_spark.operators.sketches import cms_estimate, count_min_counters

    rows = [(i % 50,) for i in range(2000)] + [(999,)] * 7
    df = spark.createDataFrame(rows, ["th"])
    counters = count_min_counters(df, F.col("th"), depth=4, width=64)
    exact = df.groupBy("th").agg(F.count(F.lit(1)).alias("freq"))
    est = {
        r.th: (r.freq, r.n_cms)
        for r in cms_estimate(counters, exact, F.col("th"), depth=4, width=64).collect()
    }
    assert len(est) == 51
    for th, (freq, n_cms) in est.items():
        assert n_cms >= freq, f"CMS must never underestimate ({th})"
    # total counter mass per sketch row equals the input size
    per_row = {
        r.row_idx: r.m
        for r in counters.groupBy("row_idx").agg(F.sum("n").alias("m")).collect()
    }
    assert per_row == {j: len(rows) for j in range(4)}
    # additive state: partitioning must not change any counter
    again = {
        (r.row_idx, r.col): r.n
        for r in count_min_counters(df.repartition(13), F.col("th"), depth=4, width=64).collect()
    }
    assert again == {
        (r.row_idx, r.col): r.n for r in counters.collect()
    }


def test_weighted_priority_sample_id_zero_not_fixed_point(spark):
    from cdc_pipeline_spark.operators.sampling import weighted_priority_sample

    df = spark.createDataFrame([(i, 1.0) for i in range(100)], ["doc_id", "w"])
    # doc 0's priority must vary with the seed (an unshifted
    # multiplicative hash maps 0 -> 0 under every seed, pinning doc 0
    # to the minimum u forever)
    pri0 = {
        seed: {r.doc_id: r.priority_q for r in
               weighted_priority_sample(df, "doc_id", F.col("w"), k=100, seed=seed).collect()}[0]
        for seed in (7, 8, 99)
    }
    assert len(set(pri0.values())) > 1, pri0
    # and doc 0 is sampled by at least one of a handful of seeds at k=n/2
    hit = any(
        0 in {r.doc_id for r in
              weighted_priority_sample(df, "doc_id", F.col("w"), k=50, seed=s).collect()}
        for s in range(7, 15)
    )
    assert hit


def test_cms_estimate_absent_key_is_zero(spark):
    from cdc_pipeline_spark.operators.sketches import cms_estimate, count_min_counters

    data = spark.createDataFrame([(1,), (1,), (2,)], ["th"])
    counters = count_min_counters(data, F.col("th"), depth=4, width=4096)
    watch = spark.createDataFrame([(999_999,)], ["th"])
    rows = cms_estimate(counters, watch, F.col("th"), depth=4, width=4096).collect()
    assert len(rows) == 1, "a never-inserted key must not vanish from the output"
    assert rows[0].n_cms == 0, "empty cells count as zero, so the estimate is 0"


def test_histogram_percentiles_exact_integer_rank(spark):
    from cdc_pipeline_spark.operators.sketches import histogram_percentiles

    # 0.07 * 100 = 7.000000000000001 in doubles: a float rank would
    # ceil to 8, select bin 8 and report 9.0; the integer
    # cross-multiplication selects the bin holding rank element 7
    # (bin [7,8) -> upper edge 8.0)
    df = spark.createDataFrame([(0, float(i)) for i in range(1, 101)], ["g", "x"])
    r = histogram_percentiles(
        df, "x", ["g"], {"p07": 0.07}, lo=0.0, hi=100.0, n_bins=100
    ).collect()[0]
    assert r.p07 == 8.0, r


def test_histogram_percentiles_ignores_nulls(spark):
    from cdc_pipeline_spark.operators.sketches import histogram_percentiles

    rows = [(0, float(i)) for i in range(1, 11)] + [(0, None)] * 10
    df = spark.createDataFrame(rows, "g long, x double")
    r = histogram_percentiles(
        df, "x", ["g"], {"p50_est": 0.5}, lo=0.0, hi=10.0, n_bins=10
    ).collect()[0]
    assert r.total == 10, "NULLs are not measurements"
    # rank element 5 sits in bin [5,6) -> upper edge 6.0; counting the
    # 10 NULLs as lo-edge points would report total=20 and p50_est=1.0
    assert r.p50_est == 6.0


def test_connected_components_string_ids_converge(spark):
    from cdc_pipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("X", "Y")], ["src", "dst"]
    )
    stats = {}
    out = {
        r.node: r.component
        for r in connected_components(
            edges, src="src", dst="dst", id_col="node", stats=stats
        ).collect()
    }
    # a numeric-only convergence probe NULLs out on string ids and
    # stops after one round, splitting the A-B-C chain
    assert out == {"A": "A", "B": "A", "C": "A", "X": "X", "Y": "X"}
    assert stats["converged"] is True


def test_kcenter_k_zero_returns_empty(spark):
    from cdc_pipeline_spark.operators.clustering import kcenter_greedy

    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"])
    assert kcenter_greedy(df, k=0).count() == 0
    assert kcenter_greedy(df, k=-3).count() == 0


def test_kmeans_duplicate_seed_vectors(spark):
    from cdc_pipeline_spark.operators.clustering import kmeans

    # the two lowest-id vectors are identical: every point ties to the
    # lower cluster id; the empty cluster's centroid carries forward
    # instead of vanishing, and the run completes with valid assignments
    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0]), (4, [0.0, 0.9])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r.vec_id: r.cluster for r in kmeans(df, k=2, max_iters=3).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert all(c in (0, 1) for c in got.values())


def test_align_to_schema_nested_nullability_and_widening(spark):
    from pyspark.sql.types import (
        LongType,
        IntegerType,
        StructField,
        StructType,
    )

    from cdc_pipeline_spark.sources.evolution import align_to_schema

    df = spark.createDataFrame([((1,),)], StructType([
        StructField("s", StructType([StructField("a", IntegerType(), True)]), True)
    ]))
    # same shape, inner field nullable=False + widened int->long: aligns
    target = StructType([
        StructField("s", StructType([StructField("a", LongType(), False)]), True)
    ])
    out = align_to_schema(df, target)
    assert out.schema["s"].dataType.fields[0].dataType.typeName() == "long"
    assert out.collect()[0].s.a == 1
    # genuine nested narrowing still raises
    import pytest as _pytest

    narrow = StructType([
        StructField("s", StructType([StructField("a", StructType([]), True)]), True)
    ])
    with _pytest.raises(TypeError, match="narrow"):
        align_to_schema(df, narrow)


def test_ws_decode_frame_rejects_oversized_length():
    import socket
    import struct as _struct
    import threading

    from cdc_pipeline_spark.serving.ws import MAX_INBOUND_FRAME, decode_frame

    a, b = socket.socketpair()
    try:
        # text frame claiming 2^62 bytes (64-bit extended length)
        header = bytes([0x81, 127]) + _struct.pack(">Q", 1 << 62)
        threading.Thread(target=lambda: a.sendall(header), daemon=True).start()
        import pytest as _pytest

        with _pytest.raises(ConnectionError, match="exceeds cap"):
            decode_frame(b)
        assert MAX_INBOUND_FRAME < (1 << 62)
    finally:
        a.close()
        b.close()


def test_topk_ignores_zero_norm_vectors(spark):
    from cdc_pipeline_spark.operators.similarity import brute_force_topk

    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0]), (4, [0.5, 0.5])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = [r.vec_id for r in brute_force_topk(emb, queries, k=2).collect()]
    # the zero vector's NaN score sorts as the LARGEST double — without
    # the norm>0 guard it would displace a real neighbor at rank 1
    assert 3 not in got and got[0] == 2


def test_ivf_topk_honors_id_col(spark):
    from cdc_pipeline_spark.operators.similarity import ivf_topk

    rows = [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [0.0, 1.0], 1)]
    emb = spark.createDataFrame(rows, ["doc_id", "embedding", "label"])
    queries = emb.filter(F.col("doc_id") == 1).select(
        F.col("doc_id").alias("query_id"), "embedding"
    )
    got = ivf_topk(emb, queries, k=1, id_col="doc_id", n_probe=2).collect()
    assert [r.doc_id for r in got] == [2]


def test_rp_lsh_probe_bits_two_expands_candidates(spark):
    from cdc_pipeline_spark.operators.similarity import rp_lsh_topk

    rows = [(i, [float((i >> j) & 1) - 0.5 for j in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n1 = rp_lsh_topk(emb, queries, dim=8, k=10, n_planes=6, probe_bits=1).count()
    n2 = rp_lsh_topk(emb, queries, dim=8, k=10, n_planes=6, probe_bits=2).count()
    assert n2 >= n1, "probe_bits=2 must never shrink the candidate set"


def test_incremental_minhash_rejects_bad_bands(spark):
    import pytest as _pytest

    from cdc_pipeline_spark.operators.dedup import incremental_minhash_neardup

    df = spark.createDataFrame([(1, "a b c", False)], ["doc_id", "text", "is_new"])
    with _pytest.raises(ValueError, match="must divide"):
        incremental_minhash_neardup(df, F.col("is_new"), num_perm=64, bands=10)


def test_iqr_outliers_keeps_null_groups(spark):
    from cdc_pipeline_spark.operators.quality import iqr_outliers

    rows = [(i, "a", float(i)) for i in range(10)] + [(20, None, 5.0), (21, None, 500.0)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n double")
    out = iqr_outliers(df, "n", "source")
    assert out.count() == 12, "NULL-group rows must not vanish from a per-row profile"


def test_asof_join_null_keys_do_not_match(spark):
    from cdc_pipeline_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(None, 5, "x"), (1, 5, "y")], "k int, t long, tag string")
    right = spark.createDataFrame([(None, 3, 1.0), (1, 3, 2.0)], "k int, t long, v double")
    out = {r.tag: r.v for r in asof_join(
        left, right, key_cols=["k"], left_time="t", right_time="t"
    ).collect()}
    # SQL ASOF key equality is null-rejecting (the DuckDB oracle's
    # semantics): the NULL-key left row carries NULL, not the NULL-key
    # right row's value
    assert out == {"x": None, "y": 2.0}


def test_enrich_activity_explicit_empty_map(spark):
    from cdc_pipeline_spark.operators.activity import enrich_activity

    import datetime as _dt

    df = spark.createDataFrame(
        [(1, "Ann", "checkout_complete", 9.99, _dt.datetime(2024, 1, 1), "Paris", "FR")],
        "id long, user_display_name string, event_type string, amount double,"
        " created_at timestamp, city string, country_code string",
    )
    out = enrich_activity(df, action_map={}).collect()[0]
    assert out.action == "view", "an explicit empty map means every event falls through"


def test_source_unigram_kl_planted_divergence(spark):
    """Two sources with IDENTICAL token distributions must both score
    KL ≈ 0 (each equals the corpus mix); a third source with a disjoint
    vocabulary must score far higher; and the result must be invariant
    to input partitioning (the decimal-before-sum contract)."""
    from cdc_pipeline_spark.operators.quality import source_unigram_kl

    same = "alpha beta gamma alpha beta gamma"
    base = [
        (1, "s_a", same),
        (2, "s_a", same),
        (3, "s_b", same),
        (4, "s_b", same),
    ]
    clean = spark.createDataFrame(base, "doc_id long, source string, text string")
    out0 = {r["source"]: r for r in source_unigram_kl(clean).collect()}
    # each source's distribution IS the corpus distribution → KL = 0
    assert abs(out0["s_a"]["kl_nats"]) < 1e-6 and abs(out0["s_b"]["kl_nats"]) < 1e-6
    assert out0["s_a"]["n_tokens"] == 12 and out0["s_a"]["n_terms"] == 3

    df = spark.createDataFrame(
        base + [(5, "s_weird", "zork quux blip zork quux blip")],
        "doc_id long, source string, text string",
    )
    out = {r["source"]: r for r in source_unigram_kl(df).collect()}
    # the disjoint-vocabulary source diverges hardest; the near-corpus
    # sources shift only by the mixture dilution
    assert out["s_weird"]["kl_nats"] > out["s_a"]["kl_nats"] > 0
    assert out["s_weird"]["kl_nats"] > 1.0, out["s_weird"]
    # KL is non-negative source-wise (Gibbs); quantization can't flip it
    assert all(r["kl_nats"] >= 0 for r in out.values())
    repart = {
        r["source"]: r["kl_nats"]
        for r in source_unigram_kl(df.repartition(7)).collect()
    }
    assert repart == {s: r["kl_nats"] for s, r in out.items()}


def test_bigram_logprob_penalizes_word_order(spark):
    """The interpolated bigram score must separate fluent word ORDER
    from shuffled order even when the unigram vocabulary is identical —
    exactly the gap the unigram gate cannot see."""
    from cdc_pipeline_spark.operators.quality import (
        bigram_logprob_score,
        unigram_logprob_score,
    )

    fluent = "the quick brown fox jumps over the lazy dog " * 6
    shuffled = "dog the over quick lazy fox the brown jumps " * 6
    rows = [(i, fluent) for i in range(8)] + [(100, shuffled)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bi = {r.doc_id: r.mean_neg_logprob for r in bigram_logprob_score(df).collect()}
    uni = {r.doc_id: r.mean_neg_logprob for r in unigram_logprob_score(df).collect()}
    assert uni[100] == uni[0], "unigram is order-blind (same vocabulary)"
    assert bi[100] > bi[0] + 0.5, f"bigram must punish shuffled order: {bi}"
    # docs with < 2 tokens are omitted, not scored
    tiny = spark.createDataFrame([(1, "word"), (2, "two words")], "doc_id long, text string")
    out = bigram_logprob_score(tiny).collect()
    assert [r.doc_id for r in out] == [2] and out[0].n_bigrams == 1


def test_merge_pair_expr_greedy_left_to_right(spark):
    """The BPE apply fold must match the classic scan-skip-2 greedy:
    overlapping occurrences resolve left-first, merged tokens are not
    re-eligible as the LEFT side within the same round."""
    from cdc_pipeline_spark.operators.chunking import merge_pair_expr

    cases = [
        (["a", "a", "a"], ("a", "a"), ["aa", "a"]),
        (["a", "a", "a", "a"], ("a", "a"), ["aa", "aa"]),
        (["a", "b", "a", "b"], ("a", "b"), ["ab", "ab"]),
        (["a", "b", "b"], ("a", "b"), ["ab", "b"]),
        (["x"], ("a", "b"), ["x"]),
        (["b", "a", "b", "c"], ("a", "b"), ["b", "ab", "c"]),
    ]
    df = spark.createDataFrame(
        [(i, syms) for i, (syms, _, _) in enumerate(cases)], "id int, syms array<string>"
    )
    for i, (_, (a, b), want) in enumerate(cases):
        got = (
            df.filter(F.col("id") == i)
            .select(merge_pair_expr(F.col("syms"), a, b).alias("m"))
            .first()["m"]
        )
        assert got == want, f"case {i}: {got} != {want}"


def test_bpe_train_matches_classic_reference(spark):
    """8 Spark-trained merges equal a pure-Python classic BPE (Sennrich
    get_stats/merge loop) on the same corpus, including tie-breaks."""
    from collections import Counter

    from cdc_pipeline_spark.operators.chunking import bpe_train_merges

    corpus = [
        "low low low lower lowest",
        "new newer newest low",
        "wider wide new banana bandana",
    ]
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    got = bpe_train_merges(df, rounds=8)

    words = Counter(w for t in corpus for w in t.split())
    toks = {w: list(w) for w in words}
    want = []
    for _ in range(8):
        pc = Counter()
        for w, f in words.items():
            s = toks[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        if not pc:
            break
        mx = max(pc.values())
        a, b = sorted(p for p, c in pc.items() if c == mx)[0]
        want.append((a, b, mx))
        for w, s in toks.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            toks[w] = out
    assert got == want


# ---------------------------------------------------------------------------
# Bloom runtime pre-filter (operators/bloom.py)
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_bounded_false_positives(spark):
    from cdc_pipeline_spark.operators.bloom import (
        bloom_filter_words,
        bloom_might_contain,
    )
    from pyspark.sql import functions as F

    members = spark.range(0, 500).select((F.col("id") * 7 + 3).alias("k"))
    words = bloom_filter_words(members, "k", n_bits=1 << 14, n_hashes=5)
    assert len(words) == (1 << 14) // 64 and any(words)

    probe = spark.range(0, 20000).select(F.col("id").alias("k"))
    hits = set(
        r["k"] for r in probe.filter(bloom_might_contain(words, F.col("k"), 5)).collect()
    )
    true_members = {i * 7 + 3 for i in range(500)}
    # no false negatives: every member must probe true
    assert true_members <= hits
    # false positives bounded: ~ (1 - e^(-kn/m))^k ≈ 0.3% at these params
    fp = len(hits - true_members) / (20000 - len(true_members))
    assert fp < 0.05, fp


def test_bloom_semi_join_equals_plain_semi_join(spark):
    from cdc_pipeline_spark.operators.bloom import bloom_semi_join
    from pyspark.sql import functions as F

    facts = spark.range(0, 5000).select(
        F.col("id").alias("fid"), F.pmod(F.col("id"), F.lit(997)).alias("key")
    )
    build = spark.range(0, 120).select((F.col("id") * 13).alias("bkey"))
    got = bloom_semi_join(facts, build, fact_key="key", build_key="bkey", n_bits=1 << 12)
    expected = facts.join(
        build.select(F.col("bkey").alias("key")).distinct(), "key", "left_semi"
    )
    assert sorted(r["fid"] for r in got.collect()) == sorted(
        r["fid"] for r in expected.collect()
    )


def test_bloom_prefilter_sits_before_the_join_exchange(spark):
    """The point of the operator: the membership predicate must be a
    scan-side Filter (inside WholeStageCodegen, before any Exchange),
    not post-join."""
    from cdc_pipeline_spark.operators.bloom import bloom_semi_join
    from pyspark.sql import functions as F

    facts = spark.range(0, 1000).select(F.col("id").alias("key"), F.lit(1).alias("v"))
    build = spark.range(0, 10).select((F.col("id") * 3).alias("key"))
    out = bloom_semi_join(facts, build, fact_key="key", n_bits=1 << 10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    join_pos = plan.find("Join")
    filter_pos = plan.find("Filter")
    assert join_pos != -1 and filter_pos != -1
    # executed-plan tree prints top-down: the Filter must appear BELOW
    # the join node (larger offset = deeper in the printed tree)
    assert filter_pos > join_pos, plan


def test_bloom_rejects_bad_bit_count(spark):
    from cdc_pipeline_spark.operators.bloom import bloom_filter_words

    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_filter_words(spark.range(3).selectExpr("id as k"), "k", n_bits=100)


def test_bloom_null_keys_ignored_in_build_and_never_match(spark):
    from cdc_pipeline_spark.operators.bloom import bloom_semi_join
    from pyspark.sql import functions as F

    facts = spark.createDataFrame([(1, 5), (2, None), (3, 7)], "fid int, key int")
    build = spark.createDataFrame([(5,), (None,)], "bkey int")
    got = bloom_semi_join(facts, build, fact_key="key", build_key="bkey", n_bits=1 << 10)
    assert [r["fid"] for r in got.collect()] == [1]


def test_bloom_semi_join_rejects_mismatched_key_dtypes(spark):
    # xxhash64 is type-sensitive while the exact join coerces: an
    # int-vs-long key pair would prune every genuine member (round-5
    # review finding) — must refuse loudly instead
    from cdc_pipeline_spark.operators.bloom import bloom_semi_join
    from pyspark.sql import functions as F

    facts = spark.range(0, 100).select(F.col("id").cast("int").alias("key"))
    build = spark.range(0, 100, 7).select(F.col("id").alias("bkey"))  # long
    with pytest.raises(ValueError, match="dtypes must match"):
        bloom_semi_join(facts, build, fact_key="key", build_key="bkey")
    # and the explicit cast the error asks for works
    got = bloom_semi_join(
        facts,
        build.select(F.col("bkey").cast("int").alias("bkey")),
        fact_key="key",
        build_key="bkey",
        n_bits=1 << 10,
    )
    assert sorted(r["key"] for r in got.collect()) == list(range(0, 100, 7))


def test_bloom_anti_join_equals_plain_anti_join(spark):
    """The dual direction: bitmap built on the (small) fact side prunes
    the (huge) build side; result must be bit-identical to a plain
    left_anti — facts-only keys kept, overlap dropped, build-only keys
    irrelevant."""
    from cdc_pipeline_spark.operators.bloom import bloom_anti_join
    from pyspark.sql import functions as F

    facts = spark.range(0, 400).select(
        F.col("id").alias("fid"), F.pmod(F.col("id"), F.lit(211)).alias("key")
    )
    build = spark.range(0, 5000).select((F.col("id") * 7).alias("bkey"))
    got = bloom_anti_join(facts, build, fact_key="key", build_key="bkey", n_bits=1 << 12)
    expected = facts.join(
        build.select(F.col("bkey").alias("key")).distinct(), "key", "left_anti"
    )
    assert sorted(r["fid"] for r in got.collect()) == sorted(
        r["fid"] for r in expected.collect()
    )


def test_bloom_anti_join_keeps_null_fact_keys(spark):
    # left_anti keeps NULL-key fact rows (they match nothing); the bloom
    # path must agree on both branches of the prune
    from cdc_pipeline_spark.operators.bloom import bloom_anti_join

    facts = spark.createDataFrame([(1, 5), (2, None), (3, 7)], "fid int, key int")
    build = spark.createDataFrame([(5,), (None,)], "bkey int")
    got = bloom_anti_join(facts, build, fact_key="key", build_key="bkey", n_bits=1 << 10)
    assert sorted(r["fid"] for r in got.collect()) == [2, 3]


def test_bloom_anti_join_prunes_build_side_before_join(spark):
    """The operator's point: the membership Filter must sit on the
    BUILD-side scan (below the join in the printed tree), shrinking the
    join's right input before any exchange."""
    from cdc_pipeline_spark.operators.bloom import bloom_anti_join
    from pyspark.sql import functions as F

    facts = spark.range(0, 10).select(F.col("id").alias("key"))
    build = spark.range(0, 1000).select((F.col("id") * 3).alias("bkey"))
    out = bloom_anti_join(facts, build, fact_key="key", build_key="bkey", n_bits=1 << 10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    join_pos = plan.find("Join")
    filter_pos = plan.find("forall")
    assert join_pos != -1 and filter_pos != -1
    assert filter_pos > join_pos, plan


def test_bloom_anti_join_rejects_mismatched_key_dtypes(spark):
    # a dtype mismatch here fails OPEN (bloom prunes every genuine
    # match out of the build side → all facts returned as "new") — the
    # silent-wrong direction, so the loud refusal matters even more
    # than in the semi join
    from cdc_pipeline_spark.operators.bloom import bloom_anti_join
    from pyspark.sql import functions as F

    facts = spark.range(0, 100).select(F.col("id").cast("int").alias("key"))
    build = spark.range(0, 100, 7).select(F.col("id").alias("bkey"))  # long
    with pytest.raises(ValueError, match="dtypes must match"):
        bloom_anti_join(facts, build, fact_key="key", build_key="bkey")


def test_ngram_rank_langid_planted(spark):
    """Two synthetic 'languages' with disjoint character inventories
    must classify perfectly; a doc whose grams straddle both goes to
    the closer profile; ties break on class name ascending."""
    from cdc_pipeline_spark.operators.text import ngram_rank_langid

    alpha = "aba bab aab bba abb baa ab ba aa bb"
    omega = "xyz zyx xxz zzy xyy zxx xy zx xx zz"
    rows = [
        (1, "aa", alpha),
        (2, "aa", alpha + " aba bab"),
        (3, "zz", omega),
        (4, "zz", omega + " xyz zyx"),
        (5, "aa", alpha),  # reinforce class aa
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r.id: r for r in ngram_rank_langid(df, profile_k=10).collect()}
    assert all(got[i].predicted == "aa" for i in (1, 2, 5))
    assert all(got[i].predicted == "zz" for i in (3, 4))
    # distances are integers and bounded by profile_k * profile_k
    assert all(0 <= r.oop_distance <= 100 for r in got.values())


def test_ngram_rank_langid_oracle_parity_on_duplicate_ids_and_unicode(spark, tmp_path):
    """Engine ≡ oracle on the two inputs that USED to diverge: a
    duplicated doc_id with two labels (profile/pick windows must
    partition by (id, label) on both sides) and non-ASCII case edges
    ('İ', 'Σ' — full Unicode lower() folds differently in Java vs
    utf8proc, which is why folding is ASCII-translate only)."""
    import shutil

    import sys as _sys

    _sys.path.insert(0, "tests")
    from oracle import compare

    from cdc_pipeline_spark import workload

    src = "/root/testdata/sf0.001"
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        shutil.copy(f"{src}/{t}.parquet", tmp_path / f"{t}.parquet")
    planted = spark.createDataFrame(
        [
            (3, "aa", "ababab xx", "s", 9),
            (3, "bb", "xyxyxy ab", "s", 9),
            (4, "bb", "xyzxyz", "s", 6),
            (11, "tr", "İİİ abc", "s", 7),
            (12, "en", "iii abc", "s", 7),
            (13, "el", "ΣΣΣ abc", "s", 7),
        ],
        "doc_id long, lang string, text string, source string, n_chars long",
    )
    # single FILE (pyarrow), not a Spark directory — the oracle reads
    # '<dir>/documents.parquet' as one file like the real fixtures
    import pyarrow.parquet as pq
    import pyarrow as pa

    pq.write_table(
        pa.Table.from_pandas(planted.toPandas()), tmp_path / "documents.parquet"
    )
    problems = compare(
        spark,
        workload.QUERIES["doc_lang_ngram_rank"],
        workload.ORACLE_SQL["doc_lang_ngram_rank"],
        str(tmp_path),
    )
    assert not problems, problems


def test_prefix_filter_equals_naive_jaccard(spark):
    """The prefix-filter join is LOSSLESS: at τ = 3/5 its output must
    equal the naive full-posting-join pairs on the real corpus (the
    fixtures carry planted near-dups, so the comparison is non-vacuous).
    No rounding-boundary hazard: at sf0.001 union sizes are ≤ ~60, and
    |p/q − 3/5| ≥ 1/(5q) ≫ 1e-6 for every fraction with q ≤ 60, so the
    rounded-≥ and integer-≥ thresholds agree exactly."""
    from cdc_pipeline_spark.operators.dedup import prefix_filter_jaccard_pairs

    docs = load_table(spark, SF_DIR, "documents")
    naive = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    pruned = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_filter_jaccard_pairs(docs, tau_num=3, tau_den=5).collect()
    }
    assert pruned == naive
    assert pruned, "corpus should contain planted pairs at J >= 0.6"


def test_prefix_filter_planted_edges(spark):
    """Planted edge shapes: identical docs (J=1), a shingle-subset pair,
    docs shorter than the shingle width (no shingles → never paired),
    and a pair failing the symmetric length filter."""
    from cdc_pipeline_spark.operators.dedup import prefix_filter_jaccard_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, base),                      # 6 shingles
            (2, base),                      # identical → J = 1
            (3, base + " iota kappa"),      # superset: 8 shingles, inter 6 → J = 0.75
            (4, "tiny doc"),                # < 3 tokens → no shingles
            (5, base + " " + " ".join(f"w{i}" for i in range(30))),  # length filter prune
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b): (r.intersection, r.union_size, r.jaccard)
        for r in prefix_filter_jaccard_pairs(docs, tau_num=3, tau_den=5).collect()
    }
    assert got[(1, 2)] == (6, 6, 1.0)
    assert got[(1, 3)] == (6, 8, 0.75)
    assert got[(2, 3)] == (6, 8, 0.75)
    assert set(got) == {(1, 2), (1, 3), (2, 3)}


def test_bm25_matches_hand_computation(spark):
    """bm25_topk on a 3-doc corpus must reproduce a from-scratch Python
    BM25 (same Lucene idf, same quantization) — scores, tie-breaks and
    ranks."""
    import math

    from cdc_pipeline_spark.operators.retrieval import bm25_topk

    corpus = {1: "apple banana apple", 2: "apple cherry", 3: "banana banana banana banana"}
    queries = ((0, ("apple",)), (1, ("banana", "cherry")))
    docs = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")

    toks = {d: t.split() for d, t in corpus.items()}
    n_docs, total = len(corpus), sum(len(t) for t in toks.values())
    avgdl = float(total) / n_docs
    k1, b = 1.2, 0.75

    def wq(d: int, term: str) -> int:
        tf = toks[d].count(term)
        if tf == 0:
            return 0
        df = sum(term in t for t in toks.values())
        idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        tfn = (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + (b * len(toks[d])) / avgdl))
        return math.floor(idf * tfn * 1e6 + 0.5)

    expected = {}
    for qid, terms in queries:
        scores = {
            d: sum(wq(d, t) for t in terms)
            for d in corpus
            if any(t in toks[d] for t in terms)
        }
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        for rank, (d, s) in enumerate(ranked, start=1):
            expected[(qid, d)] = (round(s / 1e6, 6), rank)

    got = {
        (r.query_id, r.doc_id): (r.score, r.rank)
        for r in bm25_topk(docs, queries, k=10).collect()
    }
    assert got == expected
    # rare term outranks: cherry (df=1) gives doc 2 the top slot for query 1
    assert got[(1, 2)][1] == 1


def test_bm25_broad_path_equivalent_and_heap_shaped(spark):
    """Planted broad-term corpus: every doc shares the term 'common'
    (corpus-sized posting list), a few carry 'rare'. With a low
    broad_candidates threshold the broad queries take the per-query
    TakeOrderedAndProject heap path; results must be IDENTICAL to the
    salted-window path (same total order: exact score DESC, doc_id ASC),
    and the broad plan must not window over the full posting set."""
    from cdc_pipeline_spark import plans
    from cdc_pipeline_spark.operators.retrieval import bm25_topk

    rows = [(d, "common " + ("rare " if d % 17 == 0 else "") + f"w{d % 7} w{d % 5}") for d in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    queries = ((0, ("common",)), (1, ("rare",)), (2, ("common", "w3")))

    baseline = bm25_topk(docs, queries, k=8)  # all-narrow salted window
    broad = bm25_topk(docs, queries, k=8, broad_candidates=50)  # 0 and 2 go broad

    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    b_rows = sorted(baseline.collect(), key=key)
    h_rows = sorted(broad.collect(), key=key)
    assert [(r.query_id, r.doc_id, r.score, r.rank) for r in b_rows] == [
        (r.query_id, r.doc_id, r.score, r.rank) for r in h_rows
    ]
    assert sum(r.query_id == 0 for r in h_rows) == 8  # broad query fully ranked

    # plan shape: a single broad single-term query ranks via TakeOrdered
    # heaps; the only Window left is the trivial rank stamp over <= k rows
    single = bm25_topk(docs, ((0, ("common",)),), k=8, broad_candidates=50)
    plan = plans.plan_string(single)
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Window (") <= 1, plan


def test_bm25_broad_threshold_keeps_narrow_queries_narrow(spark):
    """With a huge threshold nothing goes broad: output and plan match
    the default salted path (regression pin for the df probe)."""
    from cdc_pipeline_spark.operators.retrieval import bm25_topk

    rows = [(d, f"alpha beta w{d % 3}") for d in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    queries = ((0, ("alpha", "w1")),)
    base = {(r.query_id, r.rank): (r.doc_id, r.score) for r in bm25_topk(docs, queries, k=5).collect()}
    same = {(r.query_id, r.rank): (r.doc_id, r.score) for r in bm25_topk(docs, queries, k=5, broad_candidates=10**9).collect()}
    assert base == same and len(base) == 5


def test_bm25_materialized_shape_equivalent(spark):
    """The size-adaptive single-pass shape (dl carried through the
    explode, stats observed during the checkpoint job, candidates
    localCheckpoint'ed) must be output-identical to the lazy plan on a
    mixed-routing batch — including token-less/null/whitespace docs
    (dl = 0 still shapes N and avgdl) and single- vs multi-term broad
    branches."""
    from cdc_pipeline_spark.operators.retrieval import bm25_topk

    rows = [
        (d, "common " + ("rare " if d % 17 == 0 else "") + f"w{d % 7} w{d % 5}")
        for d in range(300)
    ]
    rows += [(900, ""), (901, None), (902, "   ")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    queries = ((0, ("common",)), (1, ("rare",)), (2, ("common", "w3")))
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    for broad in (None, 50):
        lazy = sorted(
            bm25_topk(docs, queries, k=8, broad_candidates=broad,
                      materialize_candidates=False).collect(),
            key=key,
        )
        mat = sorted(
            bm25_topk(docs, queries, k=8, broad_candidates=broad,
                      materialize_candidates=True).collect(),
            key=key,
        )
        assert [(r.query_id, r.doc_id, r.score, r.rank) for r in lazy] == [
            (r.query_id, r.doc_id, r.score, r.rank) for r in mat
        ], f"broad_candidates={broad}"


def test_snm_multipass_catches_prefix_edit(spark):
    """Planted recall case for multi-pass sorted-neighborhood: two docs
    identical except for their FIRST word land in different sort blocks
    (pass 1 misses them) but share a long suffix, so the reversed-key
    pass sorts them adjacent — the union must contain the pair, and a
    pair visible to both passes must still verify exactly once."""
    from cdc_pipeline_spark.operators.dedup import (
        snm_default_key,
        snm_reversed_key,
        sorted_neighborhood_pairs,
    )

    tail = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "zzzzzz " + tail),          # prefix edit pair: blocks differ,
        (2, "aaaaaa " + tail),          # reversed keys share a long prefix
        (3, "shared head words here exactly match fine ok"),
        (4, "shared head words here exactly match fine okay"),  # pass-1 pair
        (5, "totally unrelated content about query engines and planners"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    single = {
        (r.id_a, r.id_b) for r in sorted_neighborhood_pairs(docs, window=3).collect()
    }
    assert (3, 4) in single and (1, 2) not in single, single

    multi_rows = sorted_neighborhood_pairs(
        docs, window=3, passes=[snm_default_key(), snm_reversed_key()]
    ).collect()
    multi = {(r.id_a, r.id_b) for r in multi_rows}
    assert multi >= {(1, 2), (3, 4)}, multi
    # (3, 4) is sort-adjacent under BOTH keys: the distinct union must
    # emit it once, not once per pass
    assert len(multi_rows) == len(multi)
    j12 = next(r.jaccard for r in multi_rows if (r.id_a, r.id_b) == (1, 2))
    assert j12 >= 0.5


def test_entropy_profile_planted_values(spark):
    """Hand-computable entropies: uniform multisets hit exactly log2(d)
    bits; single-symbol docs hit exactly 0."""
    from cdc_pipeline_spark.operators.text import entropy_profile

    docs = spark.createDataFrame(
        [
            (1, "aaaa"),            # char H = 0 (one symbol); 1 token
            (2, "ab ab"),           # chars {a:2, b:2, ' ':1}; tokens {ab:2} → token H = 0
            (3, "abcd"),            # 4 uniform chars → H = 2.0
            (4, "x y x y"),         # tokens {x:2, y:2} → token H = 1.0
            (5, ""),                # empty → excluded
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.char_entropy, r.token_entropy, r.distinct_chars, r.distinct_tokens)
        for r in entropy_profile(docs).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    assert got[1] == (0.0, 0.0, 1, 1)
    assert got[3][0] == 2.0 and got[3][2] == 4
    assert got[2][1] == 0.0 and got[2][3] == 1
    assert got[4][1] == 1.0 and got[4][3] == 2
    # 5-char "ab ab": H = log2(5) - (2·log2(2) + 2·log2(2))/5... computed:
    import math
    expected = (math.log(5) - (2 * math.log(2) + 2 * math.log(2) + 1 * math.log(1)) / 5) / math.log(2)
    assert abs(got[2][0] - round(expected, 6)) < 2e-6


def test_entropy_profile_gated_paths_identical(spark):
    """The linear explode→groupBy token-entropy path must be
    bit-identical to the per-row expression: forcing every doc through
    the long path (token_gate=0) reproduces the default output exactly,
    including on a long high-diversity planted doc that actually
    exceeds the default gate."""
    from cdc_pipeline_spark.operators.text import TOKEN_ENTROPY_GATE, entropy_profile

    long_doc = " ".join(
        f"w{i % 700}" for i in range(TOKEN_ENTROPY_GATE * 3)
    )  # 1536 tokens, 700 distinct — routes to the explode path by default
    docs = spark.createDataFrame(
        [
            (1, "aaaa"),
            (2, "ab ab"),
            (3, "the quick brown fox the quick"),
            (4, long_doc),
        ],
        "doc_id long, text string",
    )
    default = {r.doc_id: r.asDict() for r in entropy_profile(docs).collect()}
    forced_long = {
        r.doc_id: r.asDict() for r in entropy_profile(docs, token_gate=0).collect()
    }
    forced_short = {
        r.doc_id: r.asDict()
        for r in entropy_profile(docs, token_gate=10**9).collect()
    }
    assert default == forced_long == forced_short
    import math

    # sanity on the planted long doc: 136 tokens appear 3x, 564 appear 2x
    n3, n2 = 700 - (700 * 3 - TOKEN_ENTROPY_GATE * 3), 700 * 3 - TOKEN_ENTROPY_GATE * 3
    total = TOKEN_ENTROPY_GATE * 3
    expected = (
        math.log(total) - (n3 * 3 * math.log(3) + n2 * 2 * math.log(2)) / total
    ) / math.log(2)
    assert abs(default[4]["token_entropy"] - expected) < 2e-6
    assert default[4]["distinct_tokens"] == 700


def test_entropy_profile_duplicate_ids_stay_row_independent(spark):
    """A duplicated doc_id with DIFFERENT texts must not pool tokens in
    the long (explode→groupBy) path: each row keeps its own entropy,
    matching the per-row path exactly (review r9 finding)."""
    from cdc_pipeline_spark.operators.text import entropy_profile

    a = " ".join(f"a{i}" for i in range(600))
    b = " ".join(f"b{i}" for i in range(600))
    docs = spark.createDataFrame([(7, a), (7, b)], "doc_id long, text string")
    long_path = sorted(
        (r.token_entropy, r.distinct_tokens)
        for r in entropy_profile(docs, token_gate=0).collect()
    )
    row_path = sorted(
        (r.token_entropy, r.distinct_tokens)
        for r in entropy_profile(docs, token_gate=10**9).collect()
    )
    assert long_path == row_path
    assert all(d == 600 for _, d in long_path)


def test_grouped_top_k_salted_equals_plain(spark):
    """The two-phase salted grouped top-k must be output-identical to
    the single-window form on a total order — checked over a skewed
    synthetic frame at several k."""
    from cdc_pipeline_spark.operators.topk import grouped_top_k, grouped_top_k_salted

    rows = [(g, i, (i * 37) % 101) for g in range(3) for i in range(g * 40 + 5)]
    df = spark.createDataFrame(rows, "grp int, item long, score long")
    order = [F.col("score").desc(), F.col("item")]
    for k in (1, 7, 50):
        plain = {
            (r.grp, r.item, r.rank)
            for r in grouped_top_k(df, ["grp"], order, k).collect()
        }
        salted = {
            (r.grp, r.item, r.rank)
            for r in grouped_top_k_salted(df, ["grp"], order, k, salt_col="item", n_salts=8).collect()
        }
        assert salted == plain, k


def test_retention_hll_tracks_exact_overlap(spark):
    """Inclusion–exclusion over HLL sketches must approximate the exact
    day-over-day retained-user counts (p=8 ⇒ ~6.5% relative error; the
    sf0.001 days sit in the linear-counting regime where the estimate is
    near-exact — allow a loose absolute band)."""
    ev = load_table(spark, SF_DIR, "events")
    exact = {
        (str(r.day), str(r.next_day)): r.retained
        for r in spark.sql("""
            WITH d AS (SELECT DISTINCT to_date(ts) AS day, user_id FROM {ev}),
            days AS (SELECT DISTINCT day FROM d),
            pairs AS (SELECT a.day AS day, b.day AS next_day
                      FROM days a JOIN days b ON b.day = date_add(a.day, 1))
            SELECT p.day, p.next_day, count(*) AS retained
            FROM pairs p
            JOIN d x ON x.day = p.day
            JOIN d y ON y.day = p.next_day AND y.user_id = x.user_id
            GROUP BY p.day, p.next_day
        """, ev=ev).collect()
    }
    got = {
        (r.day, r.next_day): r.retained_est
        for r in workload.QUERIES["events_retention_hll"](spark, SF_DIR).collect()
    }
    assert set(got) == set(exact)
    for pair, est in got.items():
        assert abs(est - exact[pair]) <= max(4, 0.35 * exact[pair]), (pair, est, exact[pair])


def test_top_tfidf_terms_planted(spark):
    """Hand-checkable keyword extraction: a token unique to one doc must
    outrank corpus-wide tokens; ubiquitous tokens carry weight 0; ranks
    are dense 1..k with the (weight DESC, token ASC) tie order."""
    from cdc_pipeline_spark.operators.retrieval import top_tfidf_terms

    docs = spark.createDataFrame(
        [
            (1, "common common zebra"),   # zebra df=1 → top keyword
            (2, "common apple apple"),    # apple df=1, tf=2
            (3, "common plain"),
        ],
        "doc_id long, text string",
    )
    rows = top_tfidf_terms(docs, k=2).collect()
    got = {(r.doc_id, r.rank): (r.token, r.weight) for r in rows}
    import math
    assert got[(1, 1)][0] == "zebra"
    assert got[(1, 1)][1] == round(math.floor(1 * math.log(3 / 1) * 1e6 + 0.5) / 1e6, 6)
    assert got[(2, 1)][0] == "apple"
    assert got[(2, 1)][1] == round(math.floor(2 * math.log(3 / 1) * 1e6 + 0.5) / 1e6, 6)
    # 'common' has df = N → weight exactly 0; still ranked (tie by token)
    assert got[(1, 2)] == ("common", 0.0)
    assert got[(3, 1)][0] == "plain" and got[(3, 2)] == ("common", 0.0)


def test_sorted_neighborhood_planted(spark):
    """SNM semantics: same-prefix near-dups are found; a near-dup whose
    sort key diverges in the first words is MISSED by design (the
    documented recall trade); docs beyond the window distance within a
    block are not compared."""
    from cdc_pipeline_spark.operators.dedup import sorted_neighborhood_pairs

    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, body),
            (2, body + " extra"),            # same prefix, J ≈ 8/9
            (3, "zzz " + body),              # same content, different prefix → missed
            (4, "unrelated words entirely different text here now"),
        ],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b) for r in sorted_neighborhood_pairs(docs).collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got), got  # prefix divergence → missed

    # window bound: 6 near-identical docs, doc x pairs only with ≤ 3 successors
    many = spark.createDataFrame(
        [(i, body + f" v{i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = {(r.id_a, r.id_b) for r in sorted_neighborhood_pairs(many).collect()}
    assert all(b - a <= 3 for a, b in pairs), pairs
    assert (0, 1) in pairs and (0, 4) not in pairs


def test_ivf_index_matches_ivf_topk_and_prunes_partitions(spark, tmp_path):
    """Persisted IVF index (`operators/ann_index.py`): search results
    must be identical to the in-plan `similarity.ivf_topk` (same cells,
    same routing order, same 6dp cosine, same total order), and the
    probe scan must carry a PartitionFilters predicate on cell — the
    partition pruning is the reason the index exists."""
    from cdc_pipeline_spark import plans
    from cdc_pipeline_spark.operators.ann_index import build_ivf_index, ivf_index_topk
    from cdc_pipeline_spark.operators.similarity import ivf_topk

    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivfidx")
    n_cells = build_ivf_index(vecs, path, cell_col="label")
    assert n_cells >= 2

    queries = vecs.orderBy("vec_id").limit(4).select("vec_id", "embedding")
    qrows = [(r.vec_id, list(r.embedding)) for r in queries.collect()]

    got = ivf_index_topk(spark, path, qrows, k=5, n_probe=2)
    expected = ivf_topk(vecs, queries.withColumnRenamed("vec_id", "query_id"), k=5, n_probe=2)
    g = sorted((r.query_id, r.vec_id, r.score, r.rank) for r in got.collect())
    e = sorted((r.query_id, r.vec_id, r.score, r.rank) for r in expected.collect())
    assert g == e and g, "index search must equal the in-plan IVF query"

    plan = plans.plan_string(got)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and any("cell" in l and "IN" in l.upper() for l in pf), plan
    # and the pruned scan reads fewer cells than the index holds
    assert got.count() == len(g)


def test_ivf_index_build_with_kmeans_and_empty_query_contracts(spark, tmp_path):
    from cdc_pipeline_spark.operators.ann_index import (
        build_ivf_index,
        ivf_index_topk,
        read_ivf_index,
    )

    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(60)
    path = str(tmp_path / "ivfkm")
    n_cells = build_ivf_index(vecs, path, n_cells=4, max_iters=3)
    assert n_cells == 4
    vectors, centroids = read_ivf_index(spark, path)
    assert vectors.count() == 60 and centroids.count() == 4
    # every vector's cell is a real centroid id
    cells = {r.cell for r in centroids.collect()}
    assert {r.cell for r in vectors.select("cell").distinct().collect()} <= cells

    assert ivf_index_topk(spark, path, [], k=3).count() == 0
    dim = len(vectors.select("embedding").head(1)[0].embedding)
    assert ivf_index_topk(spark, path, [(999, [0.0] * dim)], k=3).count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no IVF index"):
        read_ivf_index(spark, str(tmp_path / "missing"))


def test_ivf_index_build_validates_poisoned_input(spark, tmp_path):
    """A rebuild fed bad upstream data must fail BEFORE overwriting the
    serving index: empty corpus, null labels/embeddings/elements,
    NaN elements, duplicate ids each raise; the previously built index
    stays readable afterwards."""
    import pytest as _pytest

    from cdc_pipeline_spark.operators.ann_index import (
        build_ivf_index,
        ivf_index_topk,
        read_ivf_index,
    )

    good = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    path = str(tmp_path / "ivfguard")
    build_ivf_index(good, path, cell_col="label")

    cases = [
        ("empty corpus", good.limit(0)),
        ("null label", spark.createDataFrame([(9, [1.0, 0.0], None)], good.schema)),
        ("null embedding", spark.createDataFrame(
            [(9, None, 0)], "vec_id long, embedding array<double>, label int")),
        ("null element", spark.createDataFrame(
            [(9, [1.0, None], 0)], "vec_id long, embedding array<double>, label int")),
        ("nan element", spark.createDataFrame(
            [(9, [1.0, float("nan")], 0)], "vec_id long, embedding array<double>, label int")),
        ("duplicate ids", good.unionByName(good.limit(1))),
    ]
    for label, frame in cases:
        with _pytest.raises(ValueError):
            build_ivf_index(frame, path, cell_col="label")

    # every failed rebuild left the good index intact and queryable
    vectors, centroids = read_ivf_index(spark, path)
    assert vectors.count() == 4 and centroids.count() == 2
    out = ivf_index_topk(spark, path, [(1, [1.0, 0.0])], k=2, n_probe=2)
    assert [r.vec_id for r in sorted(out.collect(), key=lambda r: r.rank)] == [2, 4]

    # the k-means branch must ALSO validate before computing: kmeans'
    # seed collect would TypeError on a null embedding if the checks
    # ran after it (review finding)
    with _pytest.raises(ValueError, match="poisoned"):
        build_ivf_index(
            spark.createDataFrame(
                [(1, [1.0, 0.0]), (2, None)], "vec_id long, embedding array<double>"
            ),
            path,
            n_cells=2,
        )


def test_ivf_index_rebuild_swaps_atomically(spark, tmp_path):
    """A successful rebuild must replace vectors+centroids AS A UNIT
    (no stale staging/old dirs left), and the rebuilt index serves the
    NEW corpus — the staged-swap contract that keeps a mid-build crash
    from wiping the live index."""
    import os

    from cdc_pipeline_spark.operators.ann_index import (
        build_ivf_index,
        ivf_index_topk,
        read_ivf_index,
    )

    v1 = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    path = str(tmp_path / "ivfswap")
    build_ivf_index(v1, path, cell_col="label")
    v2 = spark.createDataFrame(
        [(10, [1.0, 0.0], 0), (11, [0.9, 0.1], 0), (12, [0.0, 1.0], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    build_ivf_index(v2, path, cell_col="label")
    vectors, centroids = read_ivf_index(spark, path)
    assert {r.vec_id for r in vectors.collect()} == {10, 11, 12}
    assert not os.path.exists(os.path.join(path, ".build-staging"))
    assert not os.path.exists(os.path.join(path, ".build-old"))
    out = ivf_index_topk(spark, path, [(10, [1.0, 0.0])], k=1)
    assert [r.vec_id for r in out.collect()] == [11]


def test_count_anomaly_minutes_planted_spike(spark):
    """A spike minute among quiet uniform minutes must flag (and only
    it); a zero-variance group flags nothing; the decision is exact
    integers so repartitioning changes nothing."""
    import datetime as _dt

    from cdc_pipeline_spark.operators.trends import count_anomaly_minutes

    base = _dt.datetime(2024, 5, 1, 12, 0)
    rows = []
    eid = 0
    # 'spiky': 10 minutes at 5 events, one minute at 100
    for m in range(10):
        for _ in range(5):
            rows.append((eid, "spiky", base + _dt.timedelta(minutes=m))); eid += 1
    for _ in range(100):
        rows.append((eid, "spiky", base + _dt.timedelta(minutes=30))); eid += 1
    # 'flat': constant rate — zero variance, nothing may flag
    for m in range(8):
        for _ in range(7):
            rows.append((eid, "flat", base + _dt.timedelta(minutes=m))); eid += 1
    df = spark.createDataFrame(rows, "event_id long, event_type string, ts timestamp")
    got = count_anomaly_minutes(df, k_sigma=3).collect()
    assert len(got) == 1 and got[0]["event_type"] == "spiky"
    assert got[0]["n_events"] == 100
    assert got[0]["dev2"] > got[0]["bound"] >= 0
    again = count_anomaly_minutes(df.repartition(7), k_sigma=3).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in got]


def test_canonicalize_url_edges(spark):
    """Fragment/default-port/www/tracking-param/sort rules, and the
    things canonicalization must NOT touch: path case, non-default
    ports, hosts without www."""
    from cdc_pipeline_spark.operators.urls import canonicalize_url

    cases = [
        ("HTTP://WWW.Ex.COM:80/A/B?z=1&utm_source=x&a=2#f", "http://ex.com/A/B?a=2&z=1"),
        ("https://ex.com/", "https://ex.com/"),
        ("https://ex.com", "https://ex.com/"),  # no path -> root (r10: one key per page)
        ("https://Ex.com:8443/p", "https://ex.com:8443/p"),  # non-default port kept
        # default-port strip is SCHEME-AWARE (review r10): 443 on http
        # and 80 on https are real non-default origins
        ("http://ex.com:443/p", "http://ex.com:443/p"),
        ("https://ex.com:80/p", "https://ex.com:80/p"),
        ("https://ex.com/p?utm_campaign=c&fbclid=1&ref=r", "https://ex.com/p"),
        ("https://ex.com/CaseSensitive/Path", "https://ex.com/CaseSensitive/Path"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(canonicalize_url("url")).collect()]
    assert got == [want for _, want in cases]


def test_canonicalize_url_embedded_absolute_url(spark):
    """A query param embedding another absolute URL (redirect/next
    params, legal unencoded per RFC 3986) must NOT hijack the split:
    scheme/host come from the FIRST '://', the query from the FIRST
    '?', and a second '?' inside the query is kept as data."""
    from cdc_pipeline_spark.operators.urls import canonicalize_url, url_host

    cases = [
        (
            "https://a.com/redirect?next=https://b.com/x",
            "https://a.com/redirect?next=https://b.com/x",
        ),
        (
            "HTTPS://WWW.A.com/r?utm_source=s&next=https://b.com/x#f",
            "https://a.com/r?next=https://b.com/x",
        ),
        # second '?' is ordinary query data — nothing between them drops
        ("https://a.com/p?x=1?y=2&a=0", "https://a.com/p?a=0&x=1?y=2"),
        # query with NO path: the '?' must terminate the authority, and
        # the canonical key gets the root path (r10: aliases of the
        # same page — with/without '/' — must collapse to one key)
        ("https://a.com?utm_source=x&b=1", "https://a.com/?b=1"),
        ("HTTPS://WWW.A.com:443?b=1&a=2#f", "https://a.com/?a=2&b=1"),
        ("https://a.com?next=https://b.com/x", "https://a.com/?next=https://b.com/x"),
        ("https://a.com/?b=1", "https://a.com/?b=1"),  # the alias it must equal
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(canonicalize_url("url")).collect()]
    assert got == [want for _, want in cases]
    hosts = [r[0] for r in df.select(url_host("url")).collect()]
    assert hosts == ["a.com"] * len(cases)


def test_domain_cap_true_per_domain_bound(spark):
    """domain_cap must BOUND each domain's contribution (unlike the
    uniform domain_cap_sample): a mega-domain emits exactly the cap,
    small domains keep everything, and the kept set is the portable
    hash order of ids — rerun- and partitioning-stable."""
    from cdc_pipeline_spark.operators.sampling import KNUTH
    from cdc_pipeline_spark.operators.urls import domain_cap

    rows = [(i, "https://big.com/p/%d" % i) for i in range(200)]
    rows += [(1000 + i, "https://small.org/p/%d" % i) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = domain_cap(df, max_per_domain=10).collect()
    by_dom = {}
    for r in got:
        by_dom.setdefault(r.domain, []).append(r.doc_id)
    assert len(by_dom["big.com"]) == 10
    assert sorted(by_dom["small.org"]) == [1000, 1001, 1002, 1003, 1004]
    expect_big = sorted(range(200), key=lambda i: ((i * KNUTH) % (1 << 31), i))[:10]
    assert sorted(by_dom["big.com"]) == sorted(expect_big)
    again = domain_cap(df.repartition(7), max_per_domain=10).collect()
    assert sorted((r.domain, r.doc_id) for r in again) == sorted(
        (r.domain, r.doc_id) for r in got
    )


def test_registered_domain_multi_label_tlds(spark):
    from cdc_pipeline_spark.operators.urls import registered_domain

    cases = [
        ("a.b.example.co.uk", "example.co.uk"),
        ("docs.example.com", "example.com"),
        ("example.com", "example.com"),
        ("co.uk", "co.uk"),  # bare suffix: nothing above it to keep
        ("localhost", "localhost"),
        ("x.example.com.au", "example.com.au"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "host string")
    got = [r[0] for r in df.select(registered_domain("host")).collect()]
    assert got == [want for _, want in cases]


def test_domain_cap_sample_deterministic_and_portable(spark):
    """The keep decision must be a pure function of the id (rerun- and
    partitioning-stable) and match the documented portable bucket."""
    from cdc_pipeline_spark.operators.sampling import KNUTH
    from cdc_pipeline_spark.operators.urls import domain_cap_sample

    df = spark.createDataFrame(
        [(i, f"https://ex{i % 3}.com/p/{i}") for i in range(500)], "doc_id long, url string"
    )
    a = {r.doc_id: r.keep for r in domain_cap_sample(df).collect()}
    b = {r.doc_id: r.keep for r in domain_cap_sample(df.repartition(7)).collect()}
    assert a == b
    assert all(a[i] == ((i * KNUTH) % 100 < 40) for i in a)
    kept = sum(a.values())
    assert 0.3 * 500 < kept < 0.5 * 500  # ~40% with hash wobble


def test_simhash_64bit_signatures_and_banding(spark):
    """bits=64 must pack bit 63 (two's-complement MIN_VALUE add — the
    1<<63 literal overflows a jlong) and band with UNSIGNED shifts so a
    negative signature can't smear sign bits across chunk buckets."""
    import pytest

    from cdc_pipeline_spark.operators.dedup import simhash_pairs, simhash_signatures

    docs = spark.createDataFrame(
        [(i, f"tok{i} " * 5 + "shared common words here") for i in range(40)]
        + [(100, "a near duplicate body of text"), (101, "a near duplicate body of text")],
        "doc_id long, text string",
    )
    sig = {r.doc_id: r.simhash for r in simhash_signatures(docs, bits=64).collect()}
    assert any(v < 0 for v in sig.values()), "bit 63 never set — packing broken"
    assert sig[100] == sig[101]
    # identical docs must pair at hamming 0 through the banded join
    pairs = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, bits=64, bands=8, max_hamming=0).collect()
    }
    assert (100, 101) in pairs
    # chunk-width guard: 64-bit signatures cannot be banded as one chunk
    with pytest.raises(ValueError, match="62"):
        simhash_pairs(docs, bits=64, bands=1)


def test_nfc_normalization_and_invisible_strip(spark):
    """with_nfc_normalized must compose combining sequences (NFC),
    strip zero-width/soft-hyphen characters first, pass nulls through,
    and preserve every input column (map-only)."""
    import unicodedata

    from cdc_pipeline_spark.operators.text import (
        INVISIBLE_CHARS,
        with_nfc_normalized,
    )

    rows = [
        (1, "cafe\u0301"),                  # e + combining acute -> e-acute
        (2, "a\u200bb\u00adc"),            # zero-width + soft hyphen stripped
        (3, "plain ascii"),
        (4, None),
        (5, "\ufeffbom lead e\u0301\u0301"),  # BOM + double combining
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text_nfc for r in with_nfc_normalized(df).collect()}
    assert got[1] == "caf\u00e9" and len(got[1]) == 4
    assert got[2] == "abc"
    assert got[3] == "plain ascii"
    assert got[4] is None
    assert got[5] == unicodedata.normalize("NFC", "bom lead e\u0301\u0301")
    assert got[5].startswith("bom lead \u00e9")
    # idempotent: normalizing the normalized column changes nothing
    again = with_nfc_normalized(
        with_nfc_normalized(df), "text_nfc", "text_nfc2"
    )
    assert all(
        r.text_nfc == r.text_nfc2 for r in again.collect() if r.text_nfc is not None
    )
    # the class is exactly the curated default-ignorable/Cf set: every
    # member is category Cf, the original five are still present, and
    # variation selectors stay excluded (they carry emoji presentation)
    import unicodedata as _ud

    assert set("\u200b\u200c\u200d\ufeff\u00ad") <= set(INVISIBLE_CHARS)
    assert all(_ud.category(c) == "Cf" for c in INVISIBLE_CHARS)
    assert "\ufe0f" not in INVISIBLE_CHARS and "\ufe00" not in INVISIBLE_CHARS


def test_invisible_strip_bidi_and_rtl_marks(spark):
    """Widened class (VERDICT r8 #7): RTL/LTR marks, bidi embeddings /
    overrides / isolates, word joiner and Arabic letter mark all strip \u2014
    two visually identical RTL strings become byte-equal dedup keys."""
    from pyspark.sql import functions as F

    from cdc_pipeline_spark.operators.text import strip_invisible

    rows = [
        (1, "\u200eabc\u200f"),                    # LRM ... RLM
        (2, "\u202b\u0634\u0633\u064a\u0621\u202c"),                   # RLE ... PDF around Arabic
        (3, "\u2066x\u2067y\u2068z\u2069"),        # bidi isolates
        (4, "a\u2060b\u061cc\u180ed"),             # word joiner, ALM, MVS
        (5, "price\u2062qty"),                     # invisible times
        (6, "\ufff9ruby\ufffatext\ufffb"),         # interlinear annotation
        (7, "emoji \U0001f469\u200d\U0001f4bb ok"),  # ZWJ sequence: ZWJ strips (documented)
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {r.i: r.s for r in df.select("i", strip_invisible("t").alias("s")).collect()}
    assert got[1] == "abc"
    assert got[2] == "\u0634\u0633\u064a\u0621"
    assert got[3] == "xyz"
    assert got[4] == "abcd"
    assert got[5] == "priceqty"
    assert got[6] == "rubytext"
    assert got[7] == "emoji \U0001f469\U0001f4bb ok"


def test_registered_domain_psl_rule_classes(spark):
    """Full-PSL semantics on explicit hosts: wildcard (*.ck), exception
    (!www.ck, !city.kawasaki.jp), private-section suffixes
    (blogspot.com, github.io), multi-label ccTLDs, IPv4 passthrough,
    single-label passthrough, and the implicit default rule."""
    from cdc_pipeline_spark.operators.urls import registered_domain_psl

    cases = [
        # (host, expected registered domain)
        ("foo.blogspot.com", "foo.blogspot.com"),   # private suffix
        ("a.foo.blogspot.com", "foo.blogspot.com"),
        ("blogspot.com", "blogspot.com"),           # host IS the suffix -> passthrough
        ("x.y.user.github.io", "user.github.io"),
        ("shop.example.co.uk", "example.co.uk"),
        ("example.com", "example.com"),
        ("deep.sub.example.com", "example.com"),
        ("foo.ck", "foo.ck"),                       # *.ck: host is a public suffix
        ("bar.foo.ck", "bar.foo.ck"),               # registrable under foo.ck
        ("deep.bar.foo.ck", "bar.foo.ck"),
        ("www.ck", "www.ck"),                       # !www.ck exception
        ("sub.www.ck", "www.ck"),
        ("city.kawasaki.jp", "city.kawasaki.jp"),   # exception under *.kawasaki.jp
        ("x.city.kawasaki.jp", "city.kawasaki.jp"),
        ("other.kawasaki.jp", "other.kawasaki.jp"), # wildcard: host is a public suffix
        ("a.other.kawasaki.jp", "a.other.kawasaki.jp"),
        ("192.168.0.1", "192.168.0.1"),             # IPv4 literal passthrough
        ("localhost", "localhost"),                 # single label passthrough
        ("intranet.localnet", "intranet.localnet"), # implicit default rule
        ("MiXeD.ExAmPlE.CoM", "example.com"),       # host lowercased
    ]
    df = spark.createDataFrame([(i, h) for i, (h, _) in enumerate(cases)], "i long, host string")
    got = {r.i: r.domain for r in registered_domain_psl(df, "host", "domain").collect()}
    for i, (h, want) in enumerate(cases):
        assert got[i] == want, f"{h}: got {got[i]!r}, want {want!r}"


def test_psl_snapshot_loads_and_agrees_with_curated_subset(spark):
    """Directive r9 #7: the vendored full PSL snapshot is the default
    rule set; on every curated-subset suffix the two rule sets must
    give the same registrable domain (the curated set is a subset of
    the published list, so disagreement would mean the snapshot or the
    resolver regressed). Also pins snapshot shape and broadcast size."""
    from cdc_pipeline_spark.operators.urls import (
        PSL_RULES,
        load_psl_snapshot,
        parse_psl_rules,
        psl_rules_df,
        registered_domain_psl,
    )

    snap = load_psl_snapshot()
    parsed = parse_psl_rules(snap)
    assert len(parsed) > 9000, "full snapshot should carry ~9.5k rules"
    assert snap[0].startswith("// This Source Code Form"), "keep the MPL header"
    # NOTE: literal membership is NOT the invariant — the snapshot
    # covers some curated 2-label ccTLD entries via wildcards (*.bd
    # subsumes com.bd). The real property is resolution agreement on
    # every curated suffix, probed below.
    # one probe host per curated suffix (plus the exception hosts):
    # resolution must agree between rules=PSL_RULES and the default
    hosts = []
    for s, _n, wildcard, exception in parse_psl_rules(PSL_RULES):
        if exception:
            hosts += [s, "probe." + s]
        elif wildcard:
            hosts += ["lbl." + s, "probe.lbl." + s]
        else:
            hosts += [s, "probe." + s, "deep.probe." + s]
    df = spark.createDataFrame([(i, h) for i, h in enumerate(hosts)], "i long, host string")
    got_full = {r.i: r.domain for r in registered_domain_psl(df, "host", "d").withColumnRenamed("d", "domain").collect()}
    got_cur = {r.i: r.domain for r in registered_domain_psl(df, "host", "d", rules=PSL_RULES).withColumnRenamed("d", "domain").collect()}
    bad = {hosts[i]: (got_cur[i], got_full[i]) for i in got_cur if got_cur[i] != got_full[i]}
    assert not bad, f"curated vs full-snapshot disagreement: {bad}"
    # broadcast side stays tiny: ~1.5k grouped rows
    n_rows = psl_rules_df(spark).count()
    assert 1000 < n_rows < 3000, n_rows


def test_parse_psl_rules_format(spark):
    from cdc_pipeline_spark.operators.urls import parse_psl_rules

    lines = [
        "// comment",
        "",
        "com",
        "*.ck",
        "!www.ck",
        "  CO.UK  ",
    ]
    got = parse_psl_rules(lines)
    assert ("com", 1, False, False) in got
    assert ("ck", 1, True, False) in got
    assert ("www.ck", 2, False, True) in got
    assert ("co.uk", 2, False, False) in got
    assert len(got) == 4


def test_robots_policy_rfc9309_semantics(spark):
    """robots.txt parse + longest-match decision: non-* groups ignored,
    comments stripped, Allow overrides a shorter Disallow, empty
    Disallow is a no-op, missing robots row => allowed, empty path =>
    '/', root Disallow blocks everything. The `/wild*card` rule now
    COMPILES (r11 wildcard support) but no fixture path can match
    `^/wild.*card`, so it exercises the compile path verdict-inertly
    (verdict-moving wildcards: test_robots_wildcard_rules_rfc9309)."""
    from cdc_pipeline_spark.operators.robots import robots_policy

    robots_txt = (
        "# policy\n"
        "User-agent: googlebot\nDisallow: /gbot-only/\n\n"
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/press/\n"
        "Disallow: /tmp\n"
        "Disallow:\n"
        "Allow: /wild*card\n\n"
        "User-agent: archiver\nDisallow: /\n"
    )
    rdf = spark.createDataFrame(
        [("example.com", robots_txt), ("open.com", ""), ("locked.com", "User-agent: *\nDisallow: /")],
        "domain string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [
            (1, "https://www.example.com/private/doc.html", False),
            (2, "https://example.com/private/press/x", True),
            (3, "https://example.com/public/ok", True),
            (4, "https://example.com/tmpfile", False),   # /tmp prefix matches mid-segment
            (5, "https://example.com/gbot-only/x", True),  # non-* group ignored
            (6, "https://open.com/anything", True),
            (7, "https://locked.com/anything", False),
            (8, "https://norobots.com/x", True),
            (9, "https://example.com", True),             # empty path -> '/'
        ],
        "doc_id long, url string, want boolean",
    )
    out = {r.doc_id: (r.robots_allowed, r.want, r.path) for r in robots_policy(urls, rdf).collect()}
    for i, (got, want, path) in out.items():
        assert got == want, f"doc {i} path {path}: got {got}, want {want}"
    assert out[9][2] == "/"


def test_robots_group_selection_rfc9309(spark):
    """RFC 9309 §2.2.1: longest case-insensitive agent-token prefix
    match wins; stacked user-agent lines share one rule block;
    same-agent groups merge; no match falls back to the merged '*'
    groups; Crawl-delay is typed per selected group; Sitemap lines are
    document-global."""
    from cdc_pipeline_spark.operators.robots import parse_robots_group

    txt = (
        "Sitemap: https://e.com/sitemap.xml\n"
        "User-agent: DataCrawler-News\n"
        "User-agent: NewsBot\n"
        "Disallow: /news/\n"
        "Crawl-delay: 7\n"
        "\n"
        "User-agent: datacrawler\n"
        "Disallow: /private/\n"
        "Crawl-delay: 2.5\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /\n"
        "Sitemap: https://e.com/sitemap2.xml\n"
        "\n"
        "User-agent: DataCrawler\n"
        "Allow: /private/press/\n"
        "Crawl-delay: bogus\n"
    )
    df = spark.createDataFrame([(txt,)], "t string")

    def grp(agent):
        return df.select(parse_robots_group("t", agent).alias("g")).collect()[0].g

    # longest prefix of the product token wins: the News group
    g = grp("DataCrawler-News/2.1".lower())
    assert [(r.allow, r.prefix) for r in g.rules] == [(False, "/news/")]
    assert g.crawl_delay == 7.0
    # shorter token: both 'datacrawler' groups MERGE (case-insensitive)
    g = grp("datacrawler")
    assert [(r.allow, r.prefix) for r in g.rules] == [
        (False, "/private/"),
        (True, "/private/press/"),
    ]
    assert g.crawl_delay == 2.5  # 'bogus' in the merged group is skipped
    # unknown token falls back to '*'
    g = grp("otherbot-x")
    assert [(r.allow, r.prefix) for r in g.rules] == [(False, "/")]
    assert g.crawl_delay is None
    # stacked agent: NewsBot shares the News block
    g = grp("newsbot")
    assert [(r.allow, r.prefix) for r in g.rules] == [(False, "/news/")]
    # sitemaps are global regardless of agent, in file order
    assert list(g.sitemaps) == [
        "https://e.com/sitemap.xml",
        "https://e.com/sitemap2.xml",
    ]
    # agent=None is the agent-less '*' form
    g = grp(None)
    assert [(r.allow, r.prefix) for r in g.rules] == [(False, "/")]


def test_robots_blank_lines_do_not_split_stacked_agents(spark):
    """Review r10: RFC 9309's ABNF allows emptyline between stacked
    user-agent lines — a blank line must not split the group, or the
    named crawler silently loses the rules."""
    from cdc_pipeline_spark.operators.robots import parse_robots_group

    txt = "User-agent: aaa\n\nUser-agent: *\nDisallow: /\n"
    df = spark.createDataFrame([(txt,)], "t string")
    g = df.select(parse_robots_group("t", "aaa").alias("g")).collect()[0].g
    assert [(r.allow, r.prefix) for r in g.rules] == [(False, "/")]
    # and an all-blank / empty file parses to allow-all, not an error
    for empty in ("", "\n\n  \n", None):
        dfe = spark.createDataFrame([(empty,)], "t string")
        ge = dfe.select(parse_robots_group("t", "aaa").alias("g")).collect()[0].g
        assert list(ge.rules) == [] and ge.crawl_delay is None


def test_simhash_empty_docs_emit_no_signature(spark):
    """Review r10: split of trimmed empty text yields [''] — empty and
    whitespace-only docs must not hash the phantom '' token into a
    shared hamming-0 signature."""
    from cdc_pipeline_spark.operators.dedup import simhash_pairs, simhash_signatures

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real tokens here")], "doc_id long, text string"
    )
    sigs = simhash_signatures(df)
    assert [r.doc_id for r in sigs.collect()] == [3]
    assert simhash_pairs(df).count() == 0


def test_robots_wildcard_rules_rfc9309(spark):
    """RFC 9309 §2.2.2/§2.2.3 wildcard matching (VERDICT r10 #2):
    `*` matches any sequence, a TRAILING `$` anchors the end, a `$`
    anywhere else is a literal, regex metacharacters in rule values
    stay literal, and precedence counts LITERAL octets — so a longer
    wildcard Allow out-specifies a shorter Disallow and vice versa."""
    from cdc_pipeline_spark.operators.robots import robots_policy

    txt = (
        "User-agent: *\n"
        "Disallow: /*.pdf$\n"
        "Allow: /docs/*.pdf$\n"
        "Disallow: /tmp*\n"
        "Allow: /tmp/keep$\n"
        "Disallow: /a$\n"
        "Disallow: /cgi$bin/\n"
        "Disallow: /private/*/drafts\n"
        "Allow: /private/\n"
        "Disallow: /eq.x+y[z]\n"
    )
    rdf = spark.createDataFrame([("d.com", txt)], "domain string, robots_txt string")
    urls = spark.createDataFrame(
        [
            (1, "https://d.com/file9.pdf", False),    # /*.pdf$ hits
            (2, "https://d.com/file9.pdfx", True),    # end anchor misses
            (3, "https://d.com/docs/guide.pdf", True),  # allow spec 10 > 5
            (4, "https://d.com/tmp123", False),       # open-ended /tmp*
            (5, "https://d.com/tmp/keep", True),      # anchored allow 9 > 4
            (6, "https://d.com/tmp/keep2", False),    # anchor blocks the allow
            (7, "https://d.com/a", False),            # anchored exact
            (8, "https://d.com/ab", True),            # /a$ does not prefix-match
            (9, "https://d.com/cgi$bin/x", False),    # mid-pattern $ is literal
            (10, "https://d.com/private/p/drafts/d", False),  # wild 16 > allow 9
            (11, "https://d.com/private/p", True),
            (12, "https://d.com/eq.x+y[z]q", False),  # metas match literally
            (13, "https://d.com/eqAx+y[z]q", True),   # '.' must NOT be regex-dot
        ],
        "doc_id long, url string, want boolean",
    )
    out = {r.doc_id: (r.robots_allowed, r.want, r.path) for r in robots_policy(urls, rdf).collect()}
    for i, (got, want, path) in out.items():
        assert got == want, f"doc {i} path {path}: got {got}, want {want}"


def test_robots_unknown_lines_do_not_split_stacked_agents(spark):
    """ADVICE r10: an unrecognized non-blank line (unknown key or
    colon-free junk) between stacked User-agent lines drops at keying
    like a blank line — the named crawler must not silently lose the
    shared rule block."""
    from cdc_pipeline_spark.operators.robots import parse_robots_group

    txt = (
        "User-agent: aaa\n"
        "Host: example.com\n"
        "junk line without a colon\n"
        "User-agent: *\n"
        "Disallow: /x\n"
    )
    df = spark.createDataFrame([(txt,)], "t string")
    g = df.select(parse_robots_group("t", "aaa").alias("g")).collect()[0].g
    assert [(r.allow, r.prefix) for r in g.rules] == [(False, "/x")]
    # and the '*' side of the stack sees the same block
    g2 = df.select(parse_robots_group("t", None).alias("g")).collect()[0].g
    assert [(r.allow, r.prefix) for r in g2.rules] == [(False, "/x")]


def test_robots_policy_agent_and_group_cols(spark):
    """robots_policy(agent=..., group_cols=True): verdicts follow the
    selected group (disagreeing with '*'), and crawl_delay/sitemaps
    ride along on every corpus row."""
    from cdc_pipeline_spark.operators.robots import robots_policy

    txt = (
        "User-agent: bot\nDisallow: /only-bot/\nCrawl-delay: 3\n"
        "\nUser-agent: *\nDisallow: /\nSitemap: https://d.com/s.xml\n"
    )
    rdf = spark.createDataFrame([("d.com", txt)], "domain string, robots_txt string")
    urls = spark.createDataFrame(
        [(1, "https://d.com/only-bot/x"), (2, "https://d.com/open")],
        "doc_id long, url string",
    )
    out = {
        r.doc_id: r
        for r in robots_policy(urls, rdf, agent="bot/1.0", group_cols=True).collect()
    }
    assert out[1].robots_allowed is False
    assert out[2].robots_allowed is True  # '*' Disallow: / must NOT apply
    assert out[1].crawl_delay == 3.0
    assert list(out[2].sitemaps) == ["https://d.com/s.xml"]
    # default (no agent) keeps the '*' verdict: everything denied
    star = {r.doc_id: r.robots_allowed for r in robots_policy(urls, rdf).collect()}
    assert star == {1: False, 2: False}


def test_robots_policy_query_only_and_fragment_urls(spark):
    """ADVICE r9: a query-only URL (https://h?x=1) has RFC 9309 path
    '/' + query, so 'Disallow: /' must deny it; a fragment before the
    first '/' must not leak into hostport or path."""
    from cdc_pipeline_spark.operators.robots import robots_policy

    rdf = spark.createDataFrame(
        [
            ("locked.com", "User-agent: *\nDisallow: /"),
            ("q.com", "User-agent: *\nDisallow: /?utm"),
        ],
        "domain string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [
            (1, "https://locked.com?x=1", False, "/?x=1"),   # query-only: denied
            (2, "https://q.com?utm_src=a", False, "/?utm_src=a"),
            (3, "https://q.com?other=1", True, "/?other=1"),  # query rule prefix miss
            (4, "https://q.com/page?utm_x=1", True, "/page?utm_x=1"),
            (5, "https://locked.com#frag", False, "/"),       # fragment-only: host clean
            (6, "https://locked.com#frag/with/slash", False, "/"),
            (7, "https://q.com#f?utm", True, "/"),            # fragment strips its '?'
        ],
        "doc_id long, url string, want boolean, want_path string",
    )
    rows = robots_policy(urls, rdf).collect()
    for r in rows:
        assert r.robots_allowed == r.want, f"doc {r.doc_id}: got {r.robots_allowed}"
        assert r.path == r.want_path, f"doc {r.doc_id}: path {r.path}"
        assert r.domain in ("locked.com", "q.com"), r.domain


def test_robots_policy_tabs_and_percent_rules(spark):
    """RFC 9309 details (review r9): tabs count as whitespace (after
    the directive colon AND as indentation), and rule prefixes are
    percent-normalized with the same pass URL paths get, so an encoded
    rule matches its decoded path."""
    from cdc_pipeline_spark.operators.robots import robots_policy

    rdf = spark.createDataFrame(
        [("t.com", "User-agent: *\nDisallow:\t/admin/\n\tAllow:\t/admin/pub/"),
         ("e.com", "User-agent: *\nDisallow: /priv%61te/")],
        "domain string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [
            (1, "https://t.com/admin/x", False),     # tab after colon still parses
            (2, "https://t.com/admin/pub/y", True),  # indented tabbed Allow overrides
            (3, "https://e.com/private/a", False),   # %61 rule matches decoded path
            (4, "https://e.com/priv%61te/b", False), # and the encoded path form
            (5, "https://e.com/pub", True),
        ],
        "doc_id long, url string, want boolean",
    )
    out = {r.doc_id: (r.robots_allowed, r.want) for r in robots_policy(urls, rdf).collect()}
    for i, (got, want) in out.items():
        assert got == want, f"doc {i}: got {got}, want {want}"


def test_robots_policy_plan_broadcasts_rules(spark):
    """The policy join must broadcast the (tiny) parsed-rules side —
    no shuffle on the URL corpus."""
    import re

    from cdc_pipeline_spark import plans
    from cdc_pipeline_spark.operators.robots import robots_policy

    rdf = spark.createDataFrame([("a.com", "User-agent: *\nDisallow: /x")], "domain string, robots_txt string")
    urls = spark.createDataFrame([(1, "https://a.com/x/1")], "doc_id long, url string")
    for kwargs in ({}, {"agent": "bot/1.0", "group_cols": True}):
        plan = plans.plan_string(robots_policy(urls, rdf, **kwargs))
        assert "BroadcastHashJoin" in plan
        assert len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE)) == 0, plan
