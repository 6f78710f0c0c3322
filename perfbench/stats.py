"""Statistics helpers: percentiles that state their sample count,
tick→batch attribution from file-source logs, and open-loop accounting.

Pure functions over plain data, so they are unit-tested without Spark
(``perfbench/tests/test_stats.py``).
"""

from __future__ import annotations

import bisect
import json
import math
import os
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it; below that one sample decides the value.
MIN_BEYOND = 10


def percentile(samples, q: float) -> dict:
    """Nearest-rank ``q``-quantile (0 < q < 1) as ``{"value", "n", "q"}``.

    ``value`` is None when fewer than ``MIN_BEYOND`` samples lie above the
    chosen rank: a median needs 20 samples, a p95 needs 200."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile must be in (0, 1), got {q}")
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return {"value": None, "n": 0, "q": q}
    k = max(0, math.ceil(q * n) - 1)
    if n - (k + 1) < MIN_BEYOND:
        return {"value": None, "n": n, "q": q}
    return {"value": xs[k], "n": n, "q": q}


def median(samples) -> float:
    """Median of repeated whole measurements (passes, drains, set-ups),
    where the count is fixed by the run rather than sampled."""
    if not samples:
        raise ValueError("median of no samples")
    return statistics.median(samples)


def parse_source_log(text: str) -> list[tuple[str, int]]:
    """Entries of one file-source log file (``<ckpt>/sources/<i>/<n>`` or
    ``<n>.compact``): a version line, then one JSON object per line with
    ``path`` and ``batchId`` (the log offset of the listing that found the
    file). Returns ``[(path, log_offset), ...]``."""
    out = []
    for line in text.splitlines()[1:]:
        line = line.strip()
        if line:
            entry = json.loads(line)
            out.append((entry["path"], int(entry["batchId"])))
    return out


def read_source_logs(checkpoint: str) -> list[list[tuple[str, int]]]:
    """All entries of every source log of one streaming query checkpoint,
    one list per source, compacted files included."""
    base = os.path.join(checkpoint, "sources")
    sources = []
    for name in sorted(os.listdir(base), key=int):
        entries = []
        src_dir = os.path.join(base, name)
        for fname in os.listdir(src_dir):
            if fname.startswith("."):
                continue
            with open(os.path.join(src_dir, fname)) as fh:
                entries.extend(parse_source_log(fh.read()))
        sources.append(entries)
    return sources


def tick_of_path(path: str) -> int:
    """Tick files are named ``<tick:06d>.parquet``."""
    return int(os.path.basename(path).split(".")[0])


def attribute_ticks(sources: list[list[tuple[str, int]]],
                    batch_ends: list[tuple[int, list[int]]]) -> dict[int, int]:
    """Tick → the query batch that completed its ingestion.

    ``sources`` holds each source's log entries ``(path, log_offset)``: the
    file-source log numbers its listings, not the query's batches, so a
    file is mapped to the first batch whose end offset for that source
    reaches its log offset. ``batch_ends`` is ``[(batch_id, [end offset
    per source]), ...]`` in batch order, from query progress. A query
    reading several sources has ingested a tick once every source has, so
    the batch is the latest of the per-source batches. A tick missing
    from any source, or not yet covered by a batch, is not ingested."""
    per_source = []
    for i, entries in enumerate(sources):
        ends = [(end[i], batch) for batch, end in batch_ends]
        seen: dict[int, int] = {}
        for path, offset in entries:
            k = bisect.bisect_left(ends, (offset, -1))
            if k < len(ends):
                seen[tick_of_path(path)] = ends[k][1]
        per_source.append(seen)
    if not per_source:
        return {}
    common = set(per_source[0]).intersection(*per_source[1:])
    return {t: max(s[t] for s in per_source) for t in common}


def batch_at(starts: list[tuple[float, int]], t: float) -> int | None:
    """The batch whose interval holds time ``t``: batches of one query run
    one after another, so it is the last batch started at or before ``t``.
    ``starts`` is ``[(start_time, batch_id), ...]`` sorted by time."""
    k = bisect.bisect_right(starts, (t, math.inf))
    return starts[k - 1][1] if k else None


def open_loop(due: list[float], started: list[float], done: list[float | None]) -> dict:
    """Open-loop accounting for operations sent on a fixed schedule.

    Latency counts from the due time, so a stalled generator or system
    charges its wait to every later operation; ``late`` is how far behind
    schedule the generator itself started each operation. ``done`` is None
    for an operation that never completed, which counts as missed."""
    if not len(due) == len(started) == len(done):
        raise ValueError("due, started and done must have equal lengths")
    latency = [d - u for u, d in zip(due, done) if d is not None]
    late = [s - u for u, s in zip(due, started)]
    return {"latency": latency, "late": late, "missed": sum(d is None for d in done)}
