"""Tests for the benchmark's statistics helpers (no Spark needed).

Run: python3 -m pytest perfbench/tests/test_stats.py -q
"""

import json

import pytest

from perfbench.stats import (attribute_ticks, batch_at, open_loop, parse_source_log,
                             percentile)


def test_percentile_states_count_and_refuses_thin_tails():
    xs = list(range(1, 21))  # 20 samples: the median has exactly 10 beyond it
    assert percentile(xs, 0.5) == {"value": 10, "n": 20, "q": 0.5}
    assert percentile(xs[:19], 0.5)["value"] is None
    assert percentile(xs[:19], 0.5)["n"] == 19
    assert percentile(range(200), 0.95)["value"] == 189
    assert percentile(range(199), 0.95)["value"] is None
    assert percentile([], 0.5) == {"value": None, "n": 0, "q": 0.5}
    with pytest.raises(ValueError):
        percentile(xs, 1.0)


def test_percentile_ignores_input_order():
    assert percentile([5, 3, 9, 1] * 10, 0.5) == percentile(sorted([5, 3, 9, 1] * 10), 0.5)


def _log(entries):
    return "v1\n" + "\n".join(json.dumps({"path": p, "timestamp": 0, "batchId": b})
                              for p, b in entries) + "\n"


def test_parse_source_log_reads_entries_after_version_line():
    text = _log([("file:///src/orders/000003.parquet", 2), ("file:///src/orders/000004.parquet", 2)])
    assert parse_source_log(text) == [("file:///src/orders/000003.parquet", 2),
                                      ("file:///src/orders/000004.parquet", 2)]


def test_attribute_ticks_maps_log_offsets_to_query_batches():
    # Source log offsets count listings, query batches also count no-data
    # batches: offset 1 is reached by batch 0, offsets 2-3 by batches 2-3.
    orders = [("a/000000.parquet", 0), ("a/000001.parquet", 1), ("a/000002.parquet", 2),
              ("a/000003.parquet", 3)]
    # The second source listed tick 2 one listing later than the first.
    events = [("b/000000.parquet", 0), ("b/000001.parquet", 1), ("b/000002.parquet", 3),
              ("b/000003.parquet", 3)]
    batch_ends = [(0, [1, 1]), (1, [1, 1]), (2, [2, 2]), (3, [3, 3])]
    assert attribute_ticks([orders, events], batch_ends) == {0: 0, 1: 0, 2: 3, 3: 3}


def test_attribute_ticks_skips_ticks_not_yet_ingested_everywhere():
    orders = [("a/000000.parquet", 0), ("a/000001.parquet", 1)]
    events = [("b/000000.parquet", 0)]
    assert attribute_ticks([orders, events], [(0, [0, 0]), (1, [1, 0])]) == {0: 0}
    # listed but no completed batch covers it yet
    assert attribute_ticks([orders], [(0, [0])]) == {0: 0}


def test_batch_at_picks_the_batch_running_at_a_time():
    starts = [(10.0, 0), (11.5, 1), (13.0, 2)]
    assert batch_at(starts, 9.0) is None
    assert batch_at(starts, 10.0) == 0
    assert batch_at(starts, 12.9) == 1
    assert batch_at(starts, 99.0) == 2


def test_open_loop_times_from_due_and_reports_lateness():
    due = [0.0, 1.0, 2.0]
    started = [0.0, 1.5, 2.1]   # the generator fell behind on the second send
    done = [0.2, 1.8, None]     # the third was never served
    acct = open_loop(due, started, done)
    assert acct["latency"] == pytest.approx([0.2, 0.8])
    assert acct["late"] == pytest.approx([0.0, 0.5, 0.1])
    assert acct["missed"] == 1
    with pytest.raises(ValueError):
        open_loop(due, started, done[:2])
