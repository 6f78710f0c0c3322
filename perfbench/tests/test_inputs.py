"""The pyarrow tick writer must be a drop-in for ``generator.generate_batches``:
the four dashboard pipelines' final kv snapshots over its files equal
those over files written through ``createDataFrame``. Needs Spark (about
a minute).

Run: python3 -m pytest perfbench/tests/test_inputs.py -q
"""

import os

import pytest

from cdc_pipeline_spark.streaming import generator
from cdc_pipeline_spark.streaming.sinks import InMemoryKV

from perfbench import common, inputs, streams


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("run"))
    os.makedirs(os.path.join(run_dir, "tmp"))
    session = common.create_session(run_dir, "local[2]")
    yield session
    session.stop()


def _snapshot(spark, src, ckpt):
    kv = InMemoryKV()
    for q in streams.start(spark, kv, src, ckpt, {"availableNow": True}).values():
        q.awaitTermination(300)
        assert q.exception() is None
    return kv.hashes, kv.strings, kv.lists


def test_pyarrow_ticks_match_generate_batches(spark, tmp_path):
    seed, n_ticks, preset = 11, 3, "high"
    rate, error_rate = generator.PRESETS[preset]["rate"], generator.PRESETS[preset]["error_rate"]
    reference = str(tmp_path / "reference")
    generator.generate_batches(spark, reference, n_ticks=n_ticks, seed=seed, preset=preset)
    fast = str(tmp_path / "fast")
    inputs.write_ticks(fast, seed, n_ticks, rate, 1.0, error_rate)

    for table in inputs.TICK_TABLES:
        a = spark.read.parquet(os.path.join(reference, table)).orderBy("id").collect()
        b = spark.read.parquet(os.path.join(fast, table)).orderBy("id").collect()
        assert a == b, table

    want = _snapshot(spark, reference, str(tmp_path / "ckpt-reference"))
    got = _snapshot(spark, fast, str(tmp_path / "ckpt-fast"))
    assert want[0] and want[1] and want[2]
    assert got == want


def test_snapshot_check_accepts_pipeline_output(spark, tmp_path):
    src = str(tmp_path / "ticks")
    inputs.write_ticks(src, 5, 4, 100, 1.0, 0.08)
    kv = InMemoryKV()
    for q in streams.start(spark, kv, src, str(tmp_path / "ckpt"), {"availableNow": True}).values():
        q.awaitTermination(300)
    checked, problems = streams.check_snapshots(spark, kv, src)
    assert checked > 4 and problems == []
    kv.write_hash("nexus:kpi:current", {**kv.read_hash("nexus:kpi:current"), "orders": -1})
    assert any(p.startswith("kpi.orders") for p in streams.check_snapshots(spark, kv, src)[1])
