"""Contracts of the shared Column-expression template cache
(``operators/templates.py``): bound, gateway key, and expression-id
sharing across joins of different frames."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

from pyspark import SparkContext

from cdc_pipeline_spark.operators import templates
from cdc_pipeline_spark.operators.templates import template

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_template_reuses_per_arguments_and_bounds_the_cache(monkeypatch):
    monkeypatch.setattr(templates, "_cache", templates.OrderedDict())
    builds = []

    @template
    def build(n):
        builds.append(n)
        return object()

    first = build(0)
    assert build(0) is first and builds == [0]
    for n in range(1, templates._BOUND + 1):
        build(n)
    assert len(templates._cache) == templates._BOUND
    # the least recently used entry (0) was evicted, so it rebuilds
    assert build(0) is not first and builds.count(0) == 2


def test_template_key_is_the_live_gateway(monkeypatch):
    monkeypatch.setattr(templates, "_cache", templates.OrderedDict())

    @template
    def build():
        return object()

    monkeypatch.setattr(SparkContext, "_gateway", object())
    before = build()
    assert build() is before
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert build() is not before


def test_template_cache_under_concurrent_builders(monkeypatch):
    """Query builders on serving/stream threads share the cache: with
    more threads than cores and a short switch interval, every call
    gets its own arguments' template and the bound holds."""
    monkeypatch.setattr(templates, "_cache", templates.OrderedDict())
    monkeypatch.setattr(templates, "_BOUND", 8)

    @template
    def build(n):
        return ("built", n)

    bad = []

    def worker(seed):
        for i in range(500):
            n = (seed * 7 + i) % 24
            if build(n) != ("built", n) or len(templates._cache) > 8:
                bad.append(n)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not bad and len(templates._cache) == 8


def test_minhash_template_join_of_two_different_frames(spark):
    """Two DIFFERENT frames, each built by ``minhash_signatures`` from the
    same cached template (shared ``h0..h63`` aggregate aliases), joined
    on signature equality: the pairs are exactly the cross-frame pairs
    with equal shingle sets, computed in plain Python."""
    from cdc_pipeline_spark.operators.dedup import _minhash_t, minhash_signatures

    left = [
        (1, "the quick brown fox jumps"),
        (2, "x y z x y z"),
        (3, "alpha beta gamma delta"),
        (4, "too short"),
        (5, "lorem ipsum dolor sit amet"),
    ]
    right = [
        (101, "the quick brown fox jumps"),
        (102, "x y z x y z x"),  # other text, same 3-shingle set as doc 2
        (103, "alpha beta gamma epsilon"),
        (104, "too short"),
        (105, "lorem ipsum dolor sit amet"),
        (106, "the quick brown fox jumps"),
    ]
    a = minhash_signatures(spark.createDataFrame(left, "doc_id long, text string"))
    b = minhash_signatures(spark.createDataFrame(right, "doc_id long, text string"))
    assert _minhash_t(64) is _minhash_t(64)
    got = {
        (r.id_a, r.id_b)
        for r in a.alias("a")
        .join(b.alias("b"), a["signature"] == b["signature"])
        .select("a.doc_id", "b.doc_id")
        .toDF("id_a", "id_b")
        .collect()
    }

    def shingles(text, n=3):
        toks = text.split()
        return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))

    want = {
        (ia, ib)
        for ia, ta in left
        for ib, tb in right
        if shingles(ta) and shingles(ta) == shingles(tb)
    }
    assert want == {(1, 101), (1, 106), (2, 102), (5, 105)}
    assert got == want


_RESTART = """
import json
from pyspark.sql import SparkSession
from cdc_pipeline_spark.operators.urls import url_host
from perfbench.common import stop_jvm

URLS = [("https://WWW.Example.com:443/a",), ("http://ex%41mple.org/b",), ("http://a.b.co.uk:8080/",)]

def session():
    return (SparkSession.builder.master("local[1]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "1").getOrCreate())

def hosts(spark):
    df = spark.createDataFrame(URLS, "url string")
    return sorted(r[0] for r in df.select(url_host("url")).collect())

spark = session()
expr, first = url_host("url"), hosts(spark)
spark.stop()
spark = session()
same_gateway = url_host("url") is expr
second = hosts(spark)
spark.stop()
stop_jvm()
spark = session()
rebuilt = url_host("url") is not expr
third = hosts(spark)
spark.stop()
print(json.dumps({"rows": [first, second, third], "same_gateway_hit": same_gateway,
                  "restart_rebuilt": rebuilt}))
"""


def test_url_host_template_survives_gateway_restart():
    """A session restart on the same gateway reuses the template; a
    py4j gateway restart (``perfbench.common.stop_jvm``, then a new
    session in the same process) rebuilds it instead of using py4j
    references into the dead JVM, and every build returns the same
    rows."""
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    first, second, third = out["rows"]
    assert first == ["a.b.co.uk:8080", "example.com", "example.org"]
    assert first == second == third
    assert out["same_gateway_hit"] and out["restart_rebuilt"]
