"""Partitioned parquet sink round-trip + approximate-sketch tolerance
(the production sketch path vs the exact oracle path)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators import aggregates
from cdc_pipeline_spark.sources.files import load_table
from cdc_pipeline_spark.streaming.batch_sink import with_date_partitions, write_partitioned_parquet

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_partitioned_parquet_roundtrip(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events")
    out = str(tmp_path / "lake" / "events")
    write_partitioned_parquet(with_date_partitions(ev, "ts"), out, partition_cols=["event_date"])
    # hive-style partition directories exist
    dirs = [d for d in os.listdir(out) if d.startswith("event_date=")]
    assert len(dirs) > 1
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    # partition pruning: reading one date only touches its directory
    one_day = back.filter(F.col("event_date") == "2024-01-05")
    assert 0 < one_day.count() < ev.count()
    # and the pruning is PLAN-level, not a post-scan filter: the date
    # predicate must appear as a PartitionFilter on the scan (at 100 TB
    # this is the difference between reading one day and the whole lake)
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters", 1)[1][:200]


def test_sketch_mode_within_tolerance_of_exact(spark):
    """The streaming path must use sketches (exact distinct is illegal in
    streaming); this pins their error against the exact batch path:
    HLL++ count distinct within 5%, KLL/GK median within 2% relative."""
    ev = load_table(spark, SF_DIR, "events").select(
        F.col("ts"),
        F.col("user_id").alias("session_id"),
        F.lit(0.0).alias("revenue_amount"),
        F.lit(0).alias("order_count"),
        F.lit(0).alias("error_count"),
        F.lit(1).alias("request_count"),
        F.col("value").alias("latency_ms"),
    )
    # 7-day windows → ~200+ samples each: percentile_approx returns an
    # actual element (no interpolation), so it only converges to the
    # interpolated exact percentile with enough samples — sparse windows
    # would test the data, not the sketch.
    kw = dict(time_col="ts", duration="7 days", slide=None)
    exact = {r.window_start: r for r in aggregates.windowed_kpi(ev, exact=True, **kw).collect()}
    approx = {r.window_start: r for r in aggregates.windowed_kpi(ev, exact=False, **kw).collect()}
    assert exact.keys() == approx.keys()
    for ws, e in exact.items():
        a = approx[ws]
        assert abs(a.active_users - e.active_users) <= max(1, 0.05 * e.active_users)
        assert abs(a.latency_p50 - e.latency_p50) <= max(2.0, 0.02 * abs(e.latency_p50))


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located join: both sides bucketed on the join key ⇒ the join
    plan contains no Exchange (the SCALE.md §joins claim, pinned)."""
    import contextlib
    import io
    import re

    from cdc_pipeline_spark.streaming.batch_sink import write_bucketed_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast path
    try:
        orders = load_table(spark, SF_DIR, "orders")
        lineitem = load_table(spark, SF_DIR, "lineitem")
        write_bucketed_table(orders, "orders_b", ["o_orderkey"], num_buckets=8, sort_cols=["o_orderkey"])
        write_bucketed_table(lineitem, "lineitem_b", ["l_orderkey"], num_buckets=8, sort_cols=["l_orderkey"])
        joined = spark.table("lineitem_b").join(
            spark.table("orders_b"),
            spark.table("lineitem_b")["l_orderkey"] == spark.table("orders_b")["o_orderkey"],
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE)
        assert not exchanges, f"bucketed join must be shuffle-free:\n{plan}"
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_hll_union_matches_exact_within_tolerance(spark):
    """Per-day HLL sketches unioned must estimate the global distinct
    count within HLL++ error bounds (~2% at default lgConfigK=12)."""
    from pyspark.sql import functions as F

    from cdc_pipeline_spark.sources.files import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    exact = ev.select("user_id").distinct().count()
    est = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()[0]
        .est
    )
    assert abs(est - exact) / exact < 0.05, (est, exact)


def test_write_training_shards_deterministic_manifest(spark, tmp_path):
    """Shard assignment is a pure function of the id (re-export lands
    every row in the same shard); the manifest accounts for every row
    exactly once."""
    from cdc_pipeline_spark.streaming.batch_sink import write_training_shards

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source", "n_chars")
    out = str(tmp_path / "shards")
    m1 = write_training_shards(docs, out, id_col="doc_id", n_shards=4)
    counts1 = {r.shard: r.n_rows for r in m1.collect()}
    assert sum(counts1.values()) == docs.count()
    assert set(counts1) <= set(range(4))
    # re-export → identical sharding
    m2 = write_training_shards(docs, out, id_col="doc_id", n_shards=4)
    assert {r.shard: r.n_rows for r in m2.collect()} == counts1
    # per-shard content is disjoint and keyed by the id hash
    back = spark.read.parquet(out)
    from pyspark.sql import functions as F2
    bad = back.filter(
        F2.pmod(F2.xxhash64(F2.col("doc_id")), F2.lit(4)) != F2.col("shard")
    ).count()
    assert bad == 0


def test_avro_batch_writer_idempotent_replay(spark, tmp_path):
    """Streaming Avro sink contract: per-batch directory with a
    _SUCCESS marker written last, replay of the same batch converges
    to byte-identical containers, and the records round-trip."""
    import hashlib

    from cdc_pipeline_spark.sources.files import read_avro
    from cdc_pipeline_spark.streaming.batch_sink import avro_batch_writer

    out = str(tmp_path / "avro_stream")
    writer = avro_batch_writer(out, codec="deflate")
    df = spark.createDataFrame(
        [(i, f"d{i}", i * 0.5) for i in range(200)], "id long, name string, v double"
    )
    writer(df.repartition(3), 7)
    bdir = os.path.join(out, "batch-000007")
    assert os.path.exists(os.path.join(bdir, "_SUCCESS"))
    parts = sorted(p for p in os.listdir(bdir) if p.endswith(".avro"))
    assert len(parts) == 3

    def digest():
        h = hashlib.sha256()
        for p in parts:
            h.update(open(os.path.join(bdir, p), "rb").read())
        return h.hexdigest()

    first = digest()
    writer(df.repartition(3), 7)  # at-least-once replay
    assert digest() == first, "replay must rewrite byte-identical containers"
    back = read_avro(spark, bdir)
    assert sorted(back.collect()) == sorted(df.collect())


def test_avro_batch_writer_recovers_from_crashed_swap(spark, tmp_path):
    """A crash between the staging write and the swap leaves
    batch-<id>.inprogress/ behind (and possibly no target); the next
    replay must converge to a committed batch regardless."""
    from cdc_pipeline_spark.sources.files import read_avro
    from cdc_pipeline_spark.streaming.batch_sink import avro_batch_writer

    out = str(tmp_path / "avro_crash")
    writer = avro_batch_writer(out)
    df = spark.createDataFrame([(i, f"x{i}") for i in range(50)], "id long, s string")
    writer(df, 3)
    target = os.path.join(out, "batch-000003")
    staging = target + ".inprogress"
    # simulate the crash: committed batch gone, stale staging present
    os.rename(target, staging + ".stale")
    os.rename(staging + ".stale", staging)
    assert not os.path.exists(target) and os.path.exists(staging)
    writer(df, 3)  # replay
    assert os.path.exists(os.path.join(target, "_SUCCESS"))
    assert not os.path.exists(staging) and not os.path.exists(target + ".old")
    assert sorted(read_avro(spark, target).collect()) == sorted(df.collect())


def test_default_driver_memory_clamps():
    from cdc_pipeline_spark.session import _default_driver_memory

    val = _default_driver_memory()
    assert val.endswith("g")
    assert 2 <= int(val[:-1]) <= 16
    # env override wins verbatim
    import os as _os

    _os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    try:
        assert _default_driver_memory() == "3g"
    finally:
        del _os.environ["SPARK_GRAFT_DRIVER_MEM"]


_DEBUGGING = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F
from cdc_pipeline_spark.session import create_spark_session

spark = create_spark_session(app_name="debugging", master="local[1]", shuffle_partitions=1, extra_conf={conf!r})
spark.range(1).select((F.col("id") + 1).alias("next")).collect()
print(is_debugging_enabled())
spark.stop()
"""


@pytest.mark.parametrize(
    "conf, enabled",
    [({}, "False"), ({"spark.python.sql.dataFrameDebugging.enabled": "true"}, "True")],
    ids=["factory-default", "caller-override"],
)
def test_factory_session_turns_off_dataframe_call_site_capture(conf, enabled):
    """Factory sessions leave PySpark's call-site capture off (it walks
    the stack and makes extra py4j calls on every Column method) unless
    the caller's ``extra_conf`` turns it on. PySpark caches the flag once
    per process, hence the subprocess."""
    proc = subprocess.run(
        [sys.executable, "-c", _DEBUGGING.format(repo=REPO, conf=conf)],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == enabled
