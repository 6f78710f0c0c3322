"""In-memory spans, written to JSON when the run ends, and the recording
kv store the streaming sinks write through.

A span is ``{"name", "start", "end", "parent", "trace", **attrs}`` with
wall-clock seconds. Spans are recorded only when the tracer is enabled;
the publish log of :class:`RecordingKV` is kept in every run because the
end-to-end freshness metric is computed from it.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

from cdc_pipeline_spark.streaming.sinks import InMemoryKV


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def add(self, name: str, start: float, end: float, trace=None, **attrs) -> int:
        """Record a finished span; returns its id (0 when disabled)."""
        if not self.enabled:
            return 0
        sid = next(self._ids)
        parent = getattr(self._local, "current", 0)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, "trace": trace, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, trace=None, **attrs):
        """Time a block; spans opened inside it on the same thread get it
        as parent. Yields the attrs dict so the block can add to it."""
        if not self.enabled:
            yield attrs
            return
        sid = next(self._ids)
        parent = getattr(self._local, "current", 0)
        self._local.current = sid
        start = time.time()
        try:
            yield attrs
        finally:
            self._local.current = parent
            self.spans.append({"id": sid, "name": name, "start": start, "end": time.time(),
                               "parent": parent, "trace": trace, **attrs})

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class RecordingKV(InMemoryKV):
    """``InMemoryKV`` that logs every publish and, when tracing, every
    write call as a span. ``publishes`` holds ``(time, channel)`` in
    publish order."""

    def __init__(self, tracer: Tracer) -> None:
        super().__init__()
        self.tracer = tracer
        self.publishes: list[tuple[float, str]] = []

    def publish(self, channel: str, payload: str) -> None:
        self.publishes.append((time.time(), channel))
        super().publish(channel, payload)

    def _timed(self, name, key, fn, *args, **kwargs):
        start = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            self.tracer.add(name, start, time.time(), key=key)

    def write_hash(self, key, mapping, channel=None, ttl=None):
        self._timed("kv.write_hash", key, super().write_hash, key, mapping, channel, ttl)

    def write_json(self, key, data, channel=None, ttl=None):
        self._timed("kv.write_json", key, super().write_json, key, data, channel, ttl)

    def push_to_list(self, key, item, max_len, channel=None):
        self._timed("kv.push_to_list", key, super().push_to_list, key, item, max_len, channel)

    def replace_list(self, key, items, channel=None):
        self._timed("kv.replace_list", key, super().replace_list, key, items, channel)
