"""Streaming observability: per-query progress metrics into the kv
serving layer.

The reference exposes a live monitor page fed by its websocket hub
(``/root/reference/src/api/routes/monitor.py`` — metrics/health panels
over WS events); the engine-side signal it needs is per-pipeline
throughput and state size. Here that signal comes straight from
Structured Streaming's progress events: a ``StreamingQueryListener``
writes one kv hash per query (same K2 contract every dashboard snapshot
uses), plus a directory hash so the serving layer can enumerate live
streams without key scans (Redis KEYS is O(n) and blocked in prod).

Scale notes: listener callbacks run on the driver's listener bus —
the handler only formats ~10 scalars and does one kv write per
micro-batch per query; never block here (a slow listener stalls every
query's progress reporting).
"""

from __future__ import annotations

from typing import Any

try:  # pyspark >= 3.4 exposes the Python listener API
    from pyspark.sql.streaming.listener import StreamingQueryListener
except ImportError:  # pragma: no cover - older pyspark
    StreamingQueryListener = object  # type: ignore[assignment,misc]

__all__ = ["KvProgressListener", "read_stream_metrics"]

DIRECTORY_KEY = "nexus:monitor:streams"


class KvProgressListener(StreamingQueryListener):
    """Writes each query's latest progress to ``DIRECTORY_KEY:{name}`` and
    registers the query in the ``DIRECTORY_KEY`` directory hash.

    Usage::

        spark.streams.addListener(KvProgressListener(kv))
    """

    def __init__(self, kv: Any) -> None:
        self.kv = kv
        # names already registered in the directory hash — lets
        # onQueryProgress skip the directory read-modify-rewrite on
        # every micro-batch (it only matters the FIRST time a name is
        # seen, e.g. when the listener attached after the query started)
        self._registered: set[str] = set()

    # -- StreamingQueryListener interface -------------------------------
    def onQueryStarted(self, event) -> None:
        name = event.name or str(event.id)
        self.kv.write_hash(
            f"{DIRECTORY_KEY}:{name}",
            {"status": "started", "id": str(event.id)},
        )
        # register in the directory NOW, not at first progress: a query
        # that crashes during batch 0 must still be findable by
        # onQueryTerminated's id match, or its exception is lost exactly
        # when the health panel needs it most
        self._register(name)

    def _register(self, name: str) -> None:
        if name in self._registered:
            return
        self._registered.add(name)
        directory = self.kv.read_hash(DIRECTORY_KEY)
        if name not in directory:
            directory[name] = "registered"
            self.kv.write_hash(DIRECTORY_KEY, directory)

    def onQueryProgress(self, event) -> None:
        import math

        def _rate(v) -> float:
            # Spark reports NaN on the first trigger (no previous batch
            # to delta against); NaN is TRUTHY, so `or 0.0` alone would
            # write the string 'nan' into the serving kv
            return 0.0 if v is None or math.isnan(v) else round(v, 2)

        p = event.progress
        name = p.name or str(p.id)
        state_rows = sum(s.numRowsTotal for s in p.stateOperators)
        payload = {
            "status": "running",
            "id": str(p.id),
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "num_input_rows": p.numInputRows,
            "input_rows_per_second": _rate(p.inputRowsPerSecond),
            "processed_rows_per_second": _rate(p.processedRowsPerSecond),
            "trigger_duration_ms": (p.durationMs or {}).get("triggerExecution", 0),
            "state_rows": state_rows,
        }
        self.kv.write_hash(f"{DIRECTORY_KEY}:{name}", payload)
        # first-seen-only directory registration (onQueryTerminated
        # iterates the directory KEYS to match ids; the old per-batch
        # read-modify-rewrite of the whole hash doubled driver-side kv
        # round-trips for a value nothing reads)
        self._register(name)

    def onQueryTerminated(self, event) -> None:
        # keep the last metrics but mark the stream stopped; exception
        # (if any) rides along for the health panel. Terminated events
        # carry id, not name — match on the id each payload stores, so a
        # terminating query never touches its concurrent siblings' state.
        event_id = str(event.id)
        matched = False
        for name in self.kv.read_hash(DIRECTORY_KEY):
            existing = self.kv.read_hash(f"{DIRECTORY_KEY}:{name}")
            if existing and existing.get("id") == event_id:
                matched = True
                existing["status"] = "terminated"
                if event.exception:
                    existing["exception"] = str(event.exception)
                self.kv.write_hash(f"{DIRECTORY_KEY}:{name}", existing)
        if not matched:
            existing = self.kv.read_hash(f"{DIRECTORY_KEY}:{event_id}")
            if existing:
                existing["status"] = "terminated"
                if event.exception:
                    existing["exception"] = str(event.exception)
                self.kv.write_hash(f"{DIRECTORY_KEY}:{event_id}", existing)

    def onQueryIdle(self, event) -> None:  # pragma: no cover - timing-dependent
        pass


def read_stream_metrics(kv: Any) -> dict[str, dict[str, str]]:
    """All registered streams' latest progress hashes, keyed by name —
    the payload behind a ``/api/monitor/streams`` serving route."""
    return {
        name: kv.read_hash(f"{DIRECTORY_KEY}:{name}") for name in kv.read_hash(DIRECTORY_KEY)
    }
