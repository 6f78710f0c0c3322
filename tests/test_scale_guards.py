"""Round-4 scale guards: hot-bucket caps on every LSH band self-join,
the size-guarded broadcast hint, and the ADVICE fixes (kcenter
no-replacement, capped-list None keys, alert-state padding, negative-id
sampling, small-file consolidation). These pin the behaviors that keep
the declared 100 TB dedup/enrichment paths linear."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Hot-bucket caps
# ---------------------------------------------------------------------------


def _hot_corpus(spark):
    """A planted hot cluster (40 identical boilerplate docs — every band
    bucket they occupy has 40 members) plus one genuine near-dup pair of
    distinct docs whose buckets stay small."""
    boiler = "terms of service apply to all users of this site always " * 3
    rows = [(i, boiler) for i in range(40)]
    rows.append((100, "quick brown fox jumps over the lazy dog near the river bank today"))
    rows.append((101, "quick brown fox jumps over the lazy dog near the river bank again"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_hot_bucket_cap_bounds_candidates(spark):
    from cdc_pipeline_spark.operators.dedup import minhash_lsh_pairs

    docs = _hot_corpus(spark)
    uncapped = minhash_lsh_pairs(docs, threshold=0.5, verify=False)
    capped = minhash_lsh_pairs(docs, threshold=0.5, verify=False, max_bucket=10)
    n_un, n_cap = uncapped.count(), capped.count()
    assert n_un >= 40 * 39 / 2, "hot cluster must be quadratic uncapped"
    assert n_cap < n_un, "cap must drop hot-bucket candidates"
    survivors = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in survivors, "pairs in small buckets must survive the cap"
    # verified path still works with the cap on
    verified = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, threshold=0.5, max_bucket=10).collect()}
    assert (100, 101) in verified


def test_simhash_hot_bucket_cap(spark):
    from cdc_pipeline_spark.operators.dedup import simhash_pairs

    docs = _hot_corpus(spark)
    uncapped = simhash_pairs(docs, max_bucket=None).count()
    capped = simhash_pairs(docs, max_bucket=10).count()
    assert uncapped >= 40 * 39 / 2
    assert capped < uncapped


def test_simhash_default_is_capped(spark):
    """The production entry point's DEFAULT must be the linear rail
    (max_bucket on): a planted cluster larger than the default cap gets
    pruned with no explicit argument, while a naive call on a small
    corpus is unaffected."""
    from cdc_pipeline_spark.operators.dedup import (
        SIMHASH_DEFAULT_MAX_BUCKET,
        simhash_pairs,
    )

    k = SIMHASH_DEFAULT_MAX_BUCKET + 20
    boiler = "terms of service apply to all users of this site always " * 3
    rows = [(i, boiler) for i in range(k)]
    rows.append((500, "quick brown fox jumps over the lazy dog near the river bank today"))
    rows.append((501, "quick brown fox jumps over the lazy dog near the river bank again"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    default_pairs = simhash_pairs(docs)  # no max_bucket argument: the naive call
    got = {(r.id_a, r.id_b) for r in default_pairs.collect()}
    assert not any(a < k and b < k for a, b in got), "over-cap cluster must be pruned by default"
    assert (500, 501) in got, "small-bucket pairs must survive the default cap"
    exact = simhash_pairs(docs, max_bucket=None).count()
    assert exact >= k * (k - 1) / 2, "explicit None restores exact enumeration"


def test_rp_lsh_hot_bucket_cap(spark):
    from cdc_pipeline_spark.operators.similarity import rp_lsh_neardup_pairs

    # 30 identical vectors = one hot bucket per band; 2 distinct near-dups
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(30)]
    rows += [(100, [0.0, 1.0, 0.05, 0.0]), (101, [0.0, 1.0, 0.06, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    uncapped = rp_lsh_neardup_pairs(emb, dim=4, threshold=0.9)
    capped = rp_lsh_neardup_pairs(emb, dim=4, threshold=0.9, max_bucket=10)
    assert uncapped.count() >= 30 * 29 / 2
    survivors = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in survivors
    assert len(survivors) < uncapped.count()


def test_incremental_minhash_cap_keeps_small_bucket_matches(spark):
    from cdc_pipeline_spark.operators.dedup import incremental_minhash_neardup

    boiler = "terms of service apply to all users of this site always " * 3
    rows = [(i, boiler, False) for i in range(30)]
    rows += [
        (100, "quick brown fox jumps over the lazy dog near the river bank today", False),
        (200, boiler, True),
        (201, "quick brown fox jumps over the lazy dog near the river bank again", True),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_new boolean")
    out = incremental_minhash_neardup(df, F.col("is_new"), threshold=0.5, max_bucket=10)
    got = {(r.doc_id, r.match_id) for r in out.collect()}
    assert (201, 100) in got, "small-bucket probe must survive the cap"
    assert not any(d == 200 for d, _ in got), "hot-bucket probes are pruned"


def test_prune_hot_buckets_rejects_bad_cap(spark):
    from cdc_pipeline_spark.operators.dedup import prune_hot_buckets

    posting = spark.createDataFrame([(1, 0, 0)], "doc_id long, band int, bucket long")
    with pytest.raises(ValueError, match="max_bucket"):
        prune_hot_buckets(posting, ["band", "bucket"], 0)


# ---------------------------------------------------------------------------
# Size-guarded broadcast enrichment
# ---------------------------------------------------------------------------


def _join_hints(df) -> str:
    """Optimized logical plan text — carries `strategy=broadcast` join
    hints; the physical plan can't distinguish a pinned hint from an
    auto-broadcast chosen by size stats at toy scale."""
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_broadcast_enrich_small_dim_keeps_hint(spark):
    from cdc_pipeline_spark.operators.enrich import broadcast_enrich

    fact = spark.range(1000).withColumnRenamed("id", "k")
    dim = spark.range(50).withColumnRenamed("id", "k").withColumn("v", F.col("k") * 2)
    out = broadcast_enrich(fact, dim, on=["k"], max_broadcast_rows=1000)
    assert "strategy=broadcast" in _join_hints(out)
    assert out.count() == 1000


def test_broadcast_enrich_oversized_dim_drops_hint(spark):
    from cdc_pipeline_spark.operators.enrich import broadcast_enrich

    fact = spark.range(1000).withColumnRenamed("id", "k")
    dim = spark.range(500).withColumnRenamed("id", "k").withColumn("v", F.col("k") * 2)
    out = broadcast_enrich(fact, dim, on=["k"], max_broadcast_rows=100)
    assert "strategy=broadcast" not in _join_hints(out), "over-budget dim must not pin the hint"
    assert out.count() == 1000  # semantics unchanged, AQE free to choose


def test_broadcast_enrich_default_still_unconditional(spark):
    from cdc_pipeline_spark.operators.enrich import broadcast_enrich

    fact = spark.range(100).withColumnRenamed("id", "k")
    dim = spark.range(10).withColumnRenamed("id", "k")
    assert "strategy=broadcast" in _join_hints(broadcast_enrich(fact, dim, on=["k"]))


# ---------------------------------------------------------------------------
# ADVICE fixes
# ---------------------------------------------------------------------------


def test_kcenter_never_reselects_duplicate_vectors(spark):
    from cdc_pipeline_spark.operators.clustering import kcenter_greedy

    # 2 distinct directions, 4 rows: ids 1..3 duplicate each other.
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 1.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = kcenter_greedy(df, k=4).collect()
    ids = [r.vec_id for r in out]
    assert len(ids) == len(set(ids)), f"selection must be without replacement: {ids}"
    # only 2 distinct vectors exist -> early stop after 2 picks
    assert sorted(ids) == [0, 1]


def test_capped_list_upsert_skips_unkeyed_entries(spark):
    from cdc_pipeline_spark.streaming.sinks import InMemoryKV, capped_list_writer, self_read

    kv = InMemoryKV()
    # a legacy entry without the dedupe key is already in the list
    kv.push_to_list("feed", {"other": 1}, max_len=5)
    writer = capped_list_writer(kv, "feed", max_len=5, order_cols=["w"], dedupe_key="w")
    batch = spark.createDataFrame([(3, "a"), (1, "b"), (None, "c")], "w int, v string")
    writer(batch, 0)  # must not raise on the None / missing keys
    items = self_read(kv, "feed")
    assert [i["w"] for i in items] == [3, 1], "keyed entries newest-first, unkeyed skipped"


def test_alert_state_pads_legacy_two_field_state():
    from cdc_pipeline_spark.streaming.stateful import _unpack_alert_state

    assert _unpack_alert_state((2, "pending")) == (2, "pending", 0)
    assert _unpack_alert_state((2, "pending", None)) == (2, "pending", 0)
    assert _unpack_alert_state((3, "firing", 1700000000)) == (3, "firing", 1700000000)


def test_weighted_priority_sample_handles_negative_ids(spark):
    from cdc_pipeline_spark.operators.sampling import weighted_priority_sample

    df = spark.createDataFrame(
        [(i, 1.0) for i in range(-5, 6)], "doc_id long, weight double"
    )
    out = weighted_priority_sample(df, "doc_id", F.col("weight"), k=11).collect()
    assert len(out) == 11, "negative ids must draw a valid priority, not vanish"
    assert all(r.priority_q is not None for r in out)


def test_write_parquet_consolidates_without_partition_cols(spark, tmp_path):
    from cdc_pipeline_spark.streaming.batch_sink import write_partitioned_parquet

    df = spark.range(1000).repartition(8)
    path = str(tmp_path / "consolidated")
    write_partitioned_parquet(df, path, num_output_files=1)
    files = [f for f in __import__("os").listdir(path) if f.endswith(".parquet")]
    assert len(files) == 1, f"expected one consolidated file, got {files}"
    assert spark.read.parquet(path).count() == 1000


# ---------------------------------------------------------------------------
# Round-4 second review batch regressions
# ---------------------------------------------------------------------------


def test_keep_best_canonical_keeps_quality_less_docs(spark):
    """A doc missing from the quality frame must survive as a cluster
    member (LEFT join) — an inner join silently deleted it (and whole
    singleton clusters) from the keep-list."""
    from cdc_pipeline_spark.operators.dedup import keep_best_canonical

    comps = spark.createDataFrame(
        [(1, 10), (2, 10), (5, 50)], "doc_id long, component long"
    )
    quality = spark.createDataFrame([(1, 0.3), (2, 0.9)], "doc_id long, quality double")
    out = {r.component: r for r in keep_best_canonical(comps, quality).collect()}
    assert out[10].canonical_id == 2 and out[10].members == 2
    assert 50 in out, "singleton without a quality row must not vanish"
    assert out[50].canonical_id == 5 and out[50].best_quality is None


def test_capped_list_dedupe_with_timestamp_key(spark):
    """Stored entries come back as ISO strings (json default=str); fresh
    rows carry datetimes — merging both must not TypeError on sort and
    must collapse the SAME window's revisions."""
    import datetime as dt

    from cdc_pipeline_spark.streaming.sinks import InMemoryKV, capped_list_writer, self_read

    kv = InMemoryKV()
    writer = capped_list_writer(kv, "feed", max_len=5, order_cols=["w"], dedupe_key="w")
    t1, t2 = dt.datetime(2024, 1, 1, 0, 0, 10), dt.datetime(2024, 1, 1, 0, 0, 20)
    writer(spark.createDataFrame([(t1, 1)], "w timestamp, v int"), 0)
    writer(spark.createDataFrame([(t1, 2), (t2, 3)], "w timestamp, v int"), 1)
    items = self_read(kv, "feed")
    assert [i["v"] for i in items] == [3, 2], f"latest revision per window, newest first: {items}"


def test_inmemory_kv_enforces_ttl(monkeypatch):
    import time as _time

    from cdc_pipeline_spark.streaming.sinks import InMemoryKV

    kv = InMemoryKV()
    kv.write_hash("h", {"a": 1}, ttl=100)
    kv.write_json("j", {"b": 2}, ttl=100)
    kv.push_to_list("l", {"c": 3}, max_len=5)
    kv.expiries["l"] = _time.time() + 100
    assert kv.read_hash("h") == {"a": "1"}
    real = _time.time
    monkeypatch.setattr("time.time", lambda: real() + 101)
    assert kv.read_hash("h") == {}, "expired hash must read as empty like Redis"
    assert kv.read_json("j") is None
    assert kv.read_list("l") == []
    # a TTL-less overwrite clears the expiry (Redis SET/DEL+HSET semantics)
    kv.write_hash("h2", {"x": 1}, ttl=100)
    kv.write_hash("h2", {"x": 2})
    monkeypatch.setattr("time.time", lambda: real() + 500)
    assert kv.read_hash("h2") == {"x": "2"}


def test_trend_writer_skips_null_order_value(spark):
    from cdc_pipeline_spark.streaming.sinks import InMemoryKV, trend_hash_writer

    kv = InMemoryKV()
    writer = trend_hash_writer(
        kv, "kpi", order_cols=["window_end"], trend_cols=["revenue"],
        state_key_prefix="kpi:snap",
    )
    batch = spark.createDataFrame([(None, 5.0)], "window_end long, revenue double")
    writer(batch, 0)  # must not KeyError the streaming query
    assert kv.read_hash("kpi") == {}
    # a real timestamp order column buckets via .timestamp()
    import datetime as dt

    ts_batch = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 1, 0, 0), 5.0)], "window_end timestamp, revenue double"
    )
    writer(ts_batch, 1)
    snap = kv.read_hash("kpi")
    assert snap["revenue"] == "5.0" and snap["revenue_trend"] == "0.0"


def test_tfidf_ignores_empty_documents(spark):
    """Empty/whitespace docs must not pair at cosine 1.0 via a phantom
    '' token — the n-gram paths emit nothing for them and the dedup
    families must agree."""
    from cdc_pipeline_spark.operators.dedup import tfidf_cosine_pairs

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real words here"), (4, "real words here")],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b) for r in tfidf_cosine_pairs(df, threshold=0.5, max_df_ratio=1.0).collect()}
    assert (1, 2) not in pairs, "empty docs must not pair"
    assert (3, 4) in pairs


def test_splitmix_helper_streams_are_frozen():
    """The shared splitmix64 primitive must keep producing the exact
    parameter streams the persisted MinHash/RP-LSH signatures derive
    from (values frozen from the original inline implementations)."""
    from cdc_pipeline_spark.operators.dedup import _perm_params
    from cdc_pipeline_spark.operators.similarity import _hyperplanes

    a0, b0 = _perm_params(1, seed=7)[0]
    assert (a0, b0) == (1751225710, 2004016919), "MinHash param stream drifted"
    h = _hyperplanes(2, 1, seed=11)[0]
    assert h[0] == pytest.approx(-0.36751121415818355, abs=0)
    assert h[1] == pytest.approx(-0.47526969645256345, abs=0)


def test_quality_gate_keeps_non_latin_scripts(spark):
    """A fluent non-Latin document must not fail the symbol-ratio rule:
    the class is Unicode-aware (\\p{L}\\p{N}), not ASCII-only."""
    from cdc_pipeline_spark.operators.quality import quality_rule_columns

    ru = "очень хорошая статья про науку и технологии сегодня " * 6
    zh = "这 是 一 篇 关 于 科 学 的 好 文 章 非 常 值 得 阅 读 " * 6
    junk = "@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( )))) ____ " * 6
    df = spark.createDataFrame(
        [(1, ru), (2, zh), (3, junk)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in df.select("doc_id", *quality_rule_columns()).collect()}
    assert out[1].r_symbol_ratio and out[2].r_symbol_ratio, "scripts are letters, not symbols"
    assert not out[3].r_symbol_ratio, "actual symbol soup must still fail"


def test_perplexity_buckets_keeps_null_group_docs(spark):
    from cdc_pipeline_spark.operators.quality import perplexity_buckets

    rows = [(i, "en", f"common words {i} appear here") for i in range(6)]
    rows += [(100, None, "null language document text one"), (101, None, "null language document text two")]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = perplexity_buckets(df)
    got = {r.doc_id for r in out.collect()}
    assert {100, 101} <= got, "NULL-lang docs must bucket, not vanish"
    assert len(got) == 8


# ---------------------------------------------------------------------------
# bench.py --check: the per-query regression gate against the frozen
# baseline (BASELINE_QUERIES.json), and the harness's output contract
# ---------------------------------------------------------------------------


def test_find_regressions_ratio_and_noise_floor():
    import bench

    ratio, floor = bench.REGRESSION_RATIO, bench.NOISE_FLOOR_SEC
    baseline = {"fast": floor / 10, "slow": 2 * floor, "mid": floor}
    baseline.update({f"s{i}": floor for i in range(4)})
    timings = {
        "fast": 0.9 * floor,  # 9x frozen but under the noise floor -> exempt
        "slow": 2 * floor * (ratio + 0.25),  # over the ratio and the floor -> regression
        "mid": floor * (ratio - 0.1),  # under the ratio -> fine
        **{f"s{i}": floor for i in range(4)},  # steady majority → drift 1.0
        "brand_new": 9.9 * floor,  # not frozen -> informational, never failed
    }
    regressions, new, drift = bench.find_regressions(timings, baseline)
    assert regressions == {"slow": (timings["slow"], baseline["slow"])}
    assert new == ["brand_new"]
    assert drift == 1.0  # the steady majority pins the median


def test_find_regressions_cancels_uniform_host_drift():
    """A host uniformly 1.4x slower than at freeze time must produce
    ZERO regressions (median-ratio calibration), while a genuine
    single-query blowup on the same slow host still flags."""
    import bench

    baseline = {f"q{i}": 1.0 + i / 10 for i in range(10)}
    uniform = {k: v * 1.4 for k, v in baseline.items()}
    regressions, _, drift = bench.find_regressions(uniform, baseline)
    assert regressions == {}
    assert abs(drift - 1.4) < 1e-9

    blown = dict(uniform)
    blown["q5"] = baseline["q5"] * 4.0  # real regression on the slow host
    regressions, _, drift2 = bench.find_regressions(blown, baseline)
    assert set(regressions) == {"q5"}
    assert abs(drift2 - 1.4) < 1e-9  # one outlier doesn't move the median

    # a FASTER host must not loosen the gate below the frozen meaning
    faster = {k: v * 0.5 for k, v in baseline.items()}
    faster["q5"] = baseline["q5"] * (bench.REGRESSION_RATIO + 0.4)  # > noise floor
    assert faster["q5"] > bench.NOISE_FLOOR_SEC
    regressions, _, drift3 = bench.find_regressions(faster, baseline)
    assert drift3 == 1.0
    assert set(regressions) == {"q5"}


def test_bench_prints_one_record_for_named_queries_and_writes_plans(tmp_path):
    """The harness contract: named queries restrict the suite but keep
    suite (HEADLINE) order, stdout is exactly one JSON record whose
    value is the sum of its rows, with a CPU time per row, the run's
    steal and the ``--check`` gate block, ``--check`` refuses a freeze
    without CPU times, ``--plans`` dumps formatted plans outside the
    checkout, and the run leaves the checkout untouched."""
    import json
    import os
    import subprocess
    import sys as _sys

    import bench
    from conftest import SF_SMOKE

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def porcelain():
        return subprocess.run(
            ["git", "status", "--porcelain"], cwd=repo, capture_output=True, text=True,
            check=True,
        ).stdout

    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_SMOKE, SPARK_GRAFT_CPUS="2")
    bad = subprocess.run(
        [_sys.executable, "bench.py", "no_such_query"],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert bad.returncode == 2 and "no_such_query" in bad.stderr
    # the committed freeze is sf0.1: gating a smoke-SF run against it
    # would judge sf0.001 timings by sf0.1 numbers
    other_sf = subprocess.run(
        [_sys.executable, "bench.py", "q1_pricing_summary", "--check"],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert other_sf.returncode == 2
    assert "sf 0.001" in other_sf.stderr and "sf 0.1" in other_sf.stderr

    before = porcelain()
    plans = tmp_path / "plans"
    freeze = tmp_path / "freeze.json"
    queries = {"q1_pricing_summary": 1.0, "kpi_sliding_window": 1.0}
    # a freeze taken on another core count gates nothing either
    foreign = tmp_path / "foreign.json"
    foreign.write_text(json.dumps({"sf": 0.001, "cpus": 32, "queries": queries}))
    other_cpus = subprocess.run(
        [_sys.executable, "bench.py", "q1_pricing_summary", "--check", str(foreign)],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert other_cpus.returncode == 2
    assert "2 cpus" in other_cpus.stderr and "32 cpus" in other_cpus.stderr
    # a wall-only freeze (no "cpu" map) has nothing the gate can read
    freeze.write_text(json.dumps({"sf": 0.001, "cpus": 2, "queries": queries}))
    wall_only = subprocess.run(
        [_sys.executable, "bench.py", "q1_pricing_summary", "--check", str(freeze)],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert wall_only.returncode == 2 and '"cpu"' in wall_only.stderr
    freeze.write_text(json.dumps({"sf": 0.001, "cpus": 2, "queries": queries, "cpu": queries}))
    # command-line order is the reverse of suite order on purpose
    proc = subprocess.run(
        [_sys.executable, "bench.py", "--check", str(freeze), "--plans", str(plans),
         "kpi_sliding_window", "q1_pricing_summary"],
        cwd=repo, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    records = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert len(records) == 1, proc.stdout
    doc = json.loads(records[0])
    expected = [n for n in bench.HEADLINE if n in ("q1_pricing_summary", "kpi_sliding_window")]
    assert list(doc["queries"]) == expected == ["q1_pricing_summary", "kpi_sliding_window"]
    assert doc["value"] == round(sum(doc["queries"].values()), 3)
    assert list(doc["cpu"]) == expected and all(v > 0 for v in doc["cpu"].values())
    assert doc["calibration"]["steal_s"] >= 0
    # the stable schema: no key beyond these (a retry list among them)
    assert sorted(doc) == ["calibration", "cpu", "gate", "metric", "queries", "sf", "unit", "value"]
    assert sorted(doc["gate"]) == ["drift", "gated", "new", "regressions"]
    assert doc["gate"]["gated"] == 2
    assert "== Physical Plan ==" in (plans / "q1_pricing_summary.txt").read_text()
    assert sorted(p.name for p in plans.iterdir()) == [
        "kpi_sliding_window.txt", "q1_pricing_summary.txt",
    ]
    assert porcelain() == before


@pytest.mark.skipif(
    not __import__("os").environ.get("SPARK_GRAFT_BENCH_GATE"),
    reason="full sf0.1 bench gate is opt-in: set SPARK_GRAFT_BENCH_GATE=1",
)
def test_bench_regression_gate_full_run():
    """Opt-in end-to-end gate: run the whole bench at $SPARK_GRAFT_SF_DIR
    and fail on any per-query CPU regression vs the frozen baseline. The
    failure message carries the run's steal and gate block, so a failed
    run tells a contended host from a regression without a rerun."""
    import json
    import os
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [_sys.executable, "bench.py", "--check"],
        capture_output=True,
        text=True,
        cwd=repo,
        timeout=3600,
    )
    records = [json.loads(l) for l in proc.stdout.splitlines() if l.startswith("{")]
    summary = (
        {"steal_s": records[-1]["calibration"]["steal_s"], "gate": records[-1]["gate"]}
        if records else "no record"
    )
    assert proc.returncode == 0, f"{summary}\n{proc.stderr[-4000:]}"


def test_domain_cap_psl_keys_on_registrable_suffix(spark):
    """domain_cap(psl=True) must cap per AUTHOR under a private-section
    suffix: two blogspot authors each keep their cap, while the default
    TLD-table path lumps them into one blogspot.com bucket."""
    from cdc_pipeline_spark.operators.urls import domain_cap

    rows = [
        (i, f"https://{'alice' if i % 2 else 'bob'}.blogspot.com/p/{i}")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    flat = domain_cap(df, max_per_domain=5)
    assert {r.domain for r in flat.collect()} == {"blogspot.com"}
    assert flat.count() == 5  # one shared bucket
    per_author = domain_cap(df, max_per_domain=5, psl=True)
    got = {(r.domain, r.doc_id) for r in per_author.collect()}
    domains = {d for d, _ in got}
    assert domains == {"alice.blogspot.com", "bob.blogspot.com"}
    assert len(got) == 10  # each author keeps its own cap of 5


def test_domain_cap_psl_keeps_www_registrable_label(spark):
    """The PSL path must see the UNSTRIPPED host: www can be the
    registrable label (!www.ck exception; www.<private-suffix> user
    sites), and ordinary www.<domain> hosts still key on the domain."""
    from cdc_pipeline_spark.operators.urls import domain_cap

    rows = [
        (1, "https://www.ck/a"),              # !www.ck: registrable IS www.ck
        (2, "https://www.foo.ck/b"),           # *.ck: foo.ck public; www.foo.ck registrable
        (3, "https://www.example.com/c"),      # ordinary: www strips out of the key anyway
        (4, "https://www.alice.blogspot.com/d"),  # private suffix: alice's site
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.doc_id: r.domain for r in domain_cap(df, max_per_domain=10, psl=True).collect()}
    assert got[1] == "www.ck"
    assert got[2] == "www.foo.ck"
    assert got[3] == "example.com"
    assert got[4] == "alice.blogspot.com"
