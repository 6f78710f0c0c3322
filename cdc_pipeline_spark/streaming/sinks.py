"""Serving-layer kv snapshot sinks (foreachBatch).

Reference sink families (SURVEY §2.1 K2–K5, ``src/streaming/redis_client.py``):
hash snapshot + pub/sub (K2), JSON-string snapshot (K3), capped list /
ring buffer (K4), hash read-back for trend state (K5). The engine keeps
the same contract behind a small backend interface:

  * ``InMemoryKV`` — dict-backed, used by tests and local runs;
  * a Redis-backed implementation is the same five methods over a
    ``redis.Redis`` pipeline (not shipped here: no redis in container —
    the class is import-gated so the module works without it).

Delivery semantics (same as reference, documented SURVEY §2.9):
snapshot writes are idempotent last-writer-wins; capped-list pushes are
at-least-once (duplicates possible on micro-batch retry). foreachBatch
runs on the driver; every writer below is handed an already-aggregated
micro-batch (≤ #windows × #groups rows), so the driver collect is
bounded — the heavy lifting stayed distributed.
"""

from __future__ import annotations

import datetime
import json
import threading
import time
from typing import Any, Callable

from pyspark.sql import DataFrame


class InMemoryKV:
    """Redis-semantics kv store: HSET/SET-JSON/LPUSH+LTRIM/HGETALL/PUBLISH."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.hashes: dict[str, dict[str, str]] = {}
        self.strings: dict[str, str] = {}
        self.lists: dict[str, list[str]] = {}
        self.published: list[tuple[str, str]] = []
        self.expiries: dict[str, float] = {}
        self._subscribers: list[tuple[tuple[str, ...], Any]] = []

    def _purge_if_expired(self, key: str) -> None:
        """Redis-twin expiry semantics, enforced lazily at read time —
        without this, reads here return baselines the Redis backend
        would have expired (e.g. trend_hash_writer's 2-period TTL after
        a long restart gap), and expired keys accumulate forever.
        Caller must hold ``self._lock``."""
        exp = self.expiries.get(key)
        if exp is not None and time.time() > exp:
            self.expiries.pop(key, None)
            self.hashes.pop(key, None)
            self.strings.pop(key, None)
            self.lists.pop(key, None)

    # K2 — hash snapshot + optional expiry + publish
    def write_hash(self, key: str, mapping: dict[str, Any], channel: str | None = None, ttl: int | None = None) -> None:
        with self._lock:
            self.hashes[key] = {k: str(v) for k, v in mapping.items()}
            if ttl is not None:
                self.expiries[key] = time.time() + ttl
            else:
                # the Redis twin DELs before HSET, which clears any TTL
                self.expiries.pop(key, None)
        if channel:
            self.publish(channel, json.dumps(mapping, default=str))

    # K3 — JSON string snapshot + publish
    def write_json(self, key: str, data: Any, channel: str | None = None, ttl: int | None = None) -> None:
        payload = json.dumps(data, default=str)
        with self._lock:
            self.strings[key] = payload
            if ttl is not None:
                self.expiries[key] = time.time() + ttl
            else:
                self.expiries.pop(key, None)  # SET clears TTL in Redis
        if channel:
            self.publish(channel, payload)

    # K4 — capped list (LPUSH + LTRIM)
    def push_to_list(self, key: str, item: Any, max_len: int, channel: str | None = None) -> None:
        payload = json.dumps(item, default=str)
        with self._lock:
            items = self.lists.setdefault(key, [])
            items.insert(0, payload)
            del items[max_len:]
        if channel:
            self.publish(channel, payload)

    def replace_list(self, key: str, items: list, channel: str | None = None) -> None:
        """Atomically rewrite a list (upsert-mode capped lists)."""
        payloads = [json.dumps(i, default=str) for i in items]
        with self._lock:
            self.lists[key] = payloads
        if channel and payloads:
            self.publish(channel, payloads[0])

    # K5 — hash read-back (trend baseline state)
    def read_hash(self, key: str) -> dict[str, str]:
        with self._lock:
            self._purge_if_expired(key)
            return dict(self.hashes.get(key, {}))

    def publish(self, channel: str, payload: str) -> None:
        with self._lock:
            self.published.append((channel, payload))
            targets = [q for chans, q in self._subscribers if channel in chans]
        for q in targets:
            q.put((channel, payload))

    # serving-side read accessors (reference RedisService reads:
    # GET / LRANGE / HGETALL, redis_service.py:57-163)
    def read_json(self, key: str):
        with self._lock:
            self._purge_if_expired(key)
            payload = self.strings.get(key)
        return json.loads(payload) if payload else None

    def read_list(self, key: str, start: int = 0, stop: int = -1) -> list[str]:
        with self._lock:
            self._purge_if_expired(key)
            items = list(self.lists.get(key, []))
        return items[start:] if stop == -1 else items[start : stop + 1]

    def subscribe(self, *channels: str):
        """Pub/sub subscription: returns a Queue receiving
        (channel, payload) tuples for every publish on ``channels``.
        Call :meth:`unsubscribe` with the same queue to detach."""
        import queue as _queue

        q: Any = _queue.Queue()
        with self._lock:
            self._subscribers.append((tuple(channels), q))
        return q

    def unsubscribe(self, q: Any) -> None:
        with self._lock:
            self._subscribers = [(c, s) for c, s in self._subscribers if s is not q]


def make_redis_kv(url: str):  # pragma: no cover - requires redis package/server
    """Redis-backed sink with the same interface (pipelined HSET+EXPIRE+
    PUBLISH, as the reference's NexusRedisWriter does)."""
    import redis  # import-gated: not available in the test container

    client = redis.Redis.from_url(url, decode_responses=True)

    class RedisKV:
        def write_hash(self, key, mapping, channel=None, ttl=None):
            pipe = client.pipeline()
            # DEL first: HSET alone MERGES into an existing hash, so a
            # field removed from the job (e.g. a dropped trend column)
            # would survive forever — the InMemoryKV twin replaces the
            # whole hash, and the twins must not diverge exactly where
            # tests are blind
            pipe.delete(key)
            pipe.hset(key, mapping={k: str(v) for k, v in mapping.items()})
            if ttl is not None:
                pipe.expire(key, ttl)
            if channel:
                pipe.publish(channel, json.dumps(mapping, default=str))
            pipe.execute()

        def write_json(self, key, data, channel=None, ttl=None):
            payload = json.dumps(data, default=str)
            pipe = client.pipeline()
            pipe.set(key, payload, ex=ttl)
            if channel:
                pipe.publish(channel, payload)
            pipe.execute()

        def push_to_list(self, key, item, max_len, channel=None):
            payload = json.dumps(item, default=str)
            pipe = client.pipeline()
            pipe.lpush(key, payload)
            pipe.ltrim(key, 0, max_len - 1)
            if channel:
                pipe.publish(channel, payload)
            pipe.execute()

        def read_hash(self, key):
            return client.hgetall(key)

        def read_json(self, key):
            payload = client.get(key)
            return json.loads(payload) if payload else None

        def read_list(self, key, start=0, stop=-1):
            return client.lrange(key, start, stop)

        def replace_list(self, key, items, channel=None):
            payloads = [json.dumps(i, default=str) for i in items]
            pipe = client.pipeline()
            pipe.delete(key)
            if payloads:
                pipe.rpush(key, *payloads)
                if channel:
                    pipe.publish(channel, payloads[0])
            pipe.execute()

        def publish(self, channel, payload):
            client.publish(channel, payload)

        def subscribe(self, *channels):
            """Returns a Queue fed by a daemon pubsub listener thread —
            same (channel, payload) tuples the InMemoryKV twin emits."""
            import queue as _queue

            q = _queue.Queue()
            pubsub = client.pubsub()
            pubsub.subscribe(*channels)

            def pump():
                for msg in pubsub.listen():
                    if msg.get("type") == "message":
                        q.put((msg["channel"], msg["data"]))

            threading.Thread(target=pump, daemon=True).start()
            return q

        def unsubscribe(self, q):  # queue drains when the pubsub closes
            pass

    return RedisKV()


# ---------------------------------------------------------------------------
# foreachBatch writer factories. Each takes the tiny aggregated batch,
# reduces it to the serving contract (latest window / full snapshot), and
# writes through the kv interface. The reduction stays a DataFrame op
# (TakeOrderedAndProject) so only contract-sized rows are collected.
# ---------------------------------------------------------------------------


def _epoch(value) -> float:
    """An ordering value as epoch seconds: a number, a datetime, or the
    kv string of either (``write_hash`` stores ``str(value)``)."""
    if isinstance(value, str):
        try:
            return float(value)
        except ValueError:
            value = datetime.datetime.fromisoformat(value)
    return value.timestamp() if hasattr(value, "timestamp") else float(value)


def _behind(stored, value) -> bool:
    """Whether a batch's newest ordering value precedes the one the kv
    snapshot holds. In update mode a trigger whose rows all fall in an
    older, not yet evicted window emits only that window; writing it
    would roll the served snapshot back in time. An equal value is a
    revision of the current window and still rewrites."""
    return stored is not None and value is not None and _epoch(value) < _epoch(stored)


def latest_row_hash_writer(
    kv,
    key: str,
    order_cols: list[str],
    channel: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """K2 pattern: pick the most-recent row of the batch (reference picks
    the most data-rich/latest window, kpi_aggregator.py:60-67) and HSET
    it, unless the stored snapshot is already newer (``_behind``)."""

    def write(batch: DataFrame, _batch_id: int) -> None:
        rows = batch.orderBy(*[batch[c].desc() for c in order_cols]).limit(1).collect()
        if rows and not _behind(kv.read_hash(key).get(order_cols[0]), rows[0][order_cols[0]]):
            # drop NULL aggregates (e.g. a percentile over an all-null
            # window): Redis has no NULL, and a stringified 'None' field
            # would crash the serving layer's numeric coercion
            snapshot = {k: v for k, v in rows[0].asDict().items() if v is not None}
            kv.write_hash(key, snapshot, channel=channel)

    return write


def snapshot_json_writer(
    kv,
    key: str,
    shaper: Callable[[list[dict]], Any] | None = None,
    channel: str | None = None,
    order_cols: list[str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """K3 pattern: serialize the whole (already aggregated) batch as one
    JSON document (regions array, platform breakdown, flows). A shaper
    that returns None or [] leaves the stored document and publishes
    nothing."""

    def write(batch: DataFrame, _batch_id: int) -> None:
        b = batch
        if order_cols:
            b = b.orderBy(*[batch[c].desc() for c in order_cols])
        rows = [r.asDict() for r in b.collect()]
        doc = shaper(rows) if shaper and rows else rows
        if doc:
            kv.write_json(key, doc, channel=channel)

    return write


def self_read(kv, key: str) -> list:
    return [json.loads(i) for i in kv.read_list(key)]


def _push_newest_last(kv, key: str, rows: list, max_len: int, channel: str | None) -> None:
    """Push newest-first ``rows`` oldest first, so index 0 ends up the
    newest, and publish once, with the newest: every publish makes each
    WS and SSE client re-fetch and re-send the whole list."""
    for row in reversed(rows[1:]):
        kv.push_to_list(key, row.asDict(), max_len=max_len)
    if rows:
        kv.push_to_list(key, rows[0].asDict(), max_len=max_len, channel=channel)


def capped_list_writer(
    kv,
    key: str,
    max_len: int,
    order_cols: list[str],
    channel: str | None = None,
    dedupe_key: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """K4 pattern: push this batch's newest rows onto a ring buffer
    (traffic timeseries 21, activity feed 15 — reference pushes oldest
    first so index 0 is newest, activity_enricher.py:19-26).

    ``dedupe_key`` switches to UPSERT semantics for update-mode
    windowed upstreams: one entry per key (latest revision wins),
    ordered newest-first — without it, every re-emission of the same
    window stacks another entry and evicts older windows early.

    The dedupe path is a read-merge-replace and assumes a SINGLE writer
    per list key (the foreachBatch contract — one streaming query owns
    one sink key); concurrent writers would lose updates. Pre-existing
    or incoming entries WITHOUT the dedupe key are skipped (they cannot
    be ordered against keyed entries — sorting None against values
    would throw inside foreachBatch and fail the streaming query)."""

    def write(batch: DataFrame, _batch_id: int) -> None:
        rows = batch.orderBy(*[batch[c].desc() for c in order_cols]).limit(max_len).collect()
        if dedupe_key is not None:
            # update-mode upstreams RE-EMIT a window whenever late
            # events revise its aggregate; plain pushes would stack
            # several (stale) entries for the same window and evict
            # genuinely-older ones. Merge instead: newest value wins
            # per dedupe_key, list rewritten newest-first, capped.
            merged: dict = {}
            for item in self_read(kv, key):
                if item.get(dedupe_key) is not None:
                    merged[item[dedupe_key]] = item
            for row in rows:
                # JSON-round-trip the FRESH rows before merging: stored
                # entries come back as json.dumps(default=str) output
                # (timestamps → ISO strings), and mixing those with raw
                # Row values would (a) sort str against datetime →
                # TypeError inside foreachBatch, (b) keep str and
                # datetime forms of the SAME window as separate entries
                d = json.loads(json.dumps(row.asDict(), default=str))
                if d.get(dedupe_key) is not None:
                    merged[d[dedupe_key]] = d
            ordered = sorted(
                merged.values(), key=lambda d: d[dedupe_key], reverse=True
            )[:max_len]
            kv.replace_list(key, ordered, channel=channel)
            return
        _push_newest_last(kv, key, rows, max_len, channel)

    return write


def trend_hash_writer(
    kv,
    key: str,
    order_cols: list[str],
    trend_cols: list[str],
    state_key_prefix: str,
    period_seconds: int = 3600,
    state_ttl: int = 7200,
    channel: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """K2+K5 pattern: latest-row hash snapshot enriched with
    period-over-period trends computed against kv-held period baselines —
    the reference's actual trend mechanism (hourly Redis snapshots with a
    2h TTL read back each batch, kpi_aggregator.py:28-51,74-95).

    For each value column v: trend_v = round((cur − prev)/prev·100, 2)
    where prev is the stored value for the previous period bucket (0.0
    when absent, matching kpi_aggregator.py:33-39). The current period's
    first-seen value is persisted once per bucket (TTL two periods).
    A batch older than the stored snapshot writes nothing (``_behind``).
    """

    def write(batch: DataFrame, _batch_id: int) -> None:
        rows = batch.orderBy(*[batch[c].desc() for c in order_cols]).limit(1).collect()
        if not rows:
            return
        snapshot = {k: v for k, v in rows[0].asDict().items() if v is not None}
        raw_ts = rows[0][order_cols[0]]
        if raw_ts is None:
            # a null ordering value can't be bucketed into a period —
            # skip rather than KeyError the streaming query (the
            # None-filter above already dropped it from the snapshot)
            return
        if _behind(kv.read_hash(key).get(order_cols[0]), raw_ts):
            return
        # epoch seconds OR a real timestamp column both bucket correctly
        bucket = int(_epoch(raw_ts)) // period_seconds
        prev_state = kv.read_hash(f"{state_key_prefix}:{bucket - 1}")
        for col in trend_cols:
            # a NULL aggregate (window with no non-null inputs) has no
            # trend and contributes no baseline — never float(None)
            if col not in snapshot:
                snapshot[f"{col}_trend"] = 0.0
                continue
            current = float(snapshot[col])
            prev = float(prev_state.get(col, 0) or 0)
            snapshot[f"{col}_trend"] = round((current - prev) / prev * 100.0, 2) if prev else 0.0
        this_key = f"{state_key_prefix}:{bucket}"
        if not kv.read_hash(this_key):  # first write wins for the period baseline
            kv.write_hash(
                this_key,
                {c: snapshot[c] for c in trend_cols if c in snapshot},
                ttl=state_ttl,
            )
        kv.write_hash(key, snapshot, channel=channel)

    return write


def idempotent_capped_list_writer(
    kv,
    key: str,
    max_len: int,
    order_cols: list[str],
    channel: str | None = None,
    run_id: str = "",
) -> Callable[[DataFrame, int], None]:
    """K4 with replay protection: capped-list pushes are at-least-once
    under micro-batch retry (reference accepts duplicates, SURVEY §2.9
    'exactly-once: none'). This writer records the last applied batch id
    in the kv store and skips re-delivered batches, upgrading the feed to
    effectively-once for same-epoch retries."""

    def write(batch: DataFrame, batch_id: int) -> None:
        guard_key = f"{key}:__last_batch"
        guard = kv.read_hash(guard_key)
        last = guard.get("batch_id")
        # run-scoped like the rollup writers: epoch ids restart at 0
        # when a checkpoint is recreated, and an unscoped high-water
        # mark would then silently drop every batch until the old mark
        # is passed again
        if (
            last is not None
            and guard.get("run_id", "") == run_id
            and int(last) >= batch_id
        ):
            return  # replayed micro-batch — already applied
        rows = batch.orderBy(*[batch[c].desc() for c in order_cols]).limit(max_len).collect()
        _push_newest_last(kv, key, rows, max_len, channel)
        kv.write_hash(guard_key, {"batch_id": batch_id, "run_id": run_id})

    return write
