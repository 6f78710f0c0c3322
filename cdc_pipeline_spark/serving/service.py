"""Snapshot service: typed read-side shaping of the kv serving contract.

Mirrors the reference's RedisService payload contracts
(``/root/reference/src/api/services/redis_service.py:57-163``; JSON
shapes ``DESCRIPTION.md:380-626``): ``fetch(event)`` reads the panel's
kv key from ``CONTRACT`` (hash / JSON string / capped list), applies the
documented empty-state default, and coerces field types — serving is
dumb-read + shape, all computation happened in the streaming sinks.

Works against any kv backend with ``read_hash`` / ``read_json`` /
``read_list`` (InMemoryKV here; a Redis client in production — the
methods map 1:1 onto HGETALL / GET / LRANGE).
"""

from __future__ import annotations

import json
from typing import Any

# The serving contract, one row per dashboard panel: event name →
# (REST route under /api/snapshots/, kv key, pub/sub channel, list cap).
# The streaming jobs write through it (streaming/jobs.py); REST, SSE and
# WS read through it, and its order is the WS snapshot-on-connect order.
# The cap is a ring-buffer panel's length (None for hash and JSON
# panels); the alert panel keeps ``<key>:rules`` and ``<key>:summary``.
CONTRACT = {
    "metrics": ("metrics", "nexus:kpi:current", "nexus:kpi", None),
    "traffic": ("traffic", "nexus:traffic:timeseries", "nexus:traffic", 21),
    "activity": ("activities", "nexus:activity:feed", "nexus:activity", 15),
    "regions": ("regions", "nexus:regions:current", "nexus:regions", None),
    "flows": ("flows", "nexus:flows:current", "nexus:flows", None),
    "alert": ("alerts", "nexus:alert", "nexus:alerts", None),
    "platform": ("platform", "nexus:platform:breakdown", "nexus:platform", None),
    "health": ("health", "nexus:health:current", "nexus:health", None),
    "geo": ("geo", "nexus:geo:header", "nexus:geo", None),
}

# kv channel → SSE event name: the role of the reference's
# CHANNEL_TO_EVENT (api/config.py:18-28), keyed by this engine's channels.
CHANNEL_TO_EVENT = {channel: event for event, (_route, _key, channel, _cap) in CONTRACT.items()}


def _num(value: Any, default: int = 0) -> int:
    if value in (None, ""):
        return default
    return int(float(value))


def _flt(value: Any, default: float = 0.0) -> float:
    if value in (None, ""):
        return default
    return float(value)


class SnapshotService:
    def __init__(self, kv: Any) -> None:
        self.kv = kv

    def fetch(self, event: str):
        """The typed snapshot of one panel, read from its CONTRACT key."""
        _route, key, _channel, cap = CONTRACT[event]
        return getattr(self, f"_{event}")(key, cap)

    # -- hash snapshots ----------------------------------------------------
    def _metrics(self, key: str, _cap) -> dict[str, Any]:
        """KPI hash → typed payload (redis_service.py:57-85). The engine's
        column names ride through; trends come from the K5 read-back
        fields (`<col>_trend`, streaming/sinks.py::trend_hash_writer)."""
        payload = self.kv.read_hash(key)
        if not payload:
            return {"updatedAt": 0}
        out: dict[str, Any] = {}
        for field, value in payload.items():
            if field in ("window_start", "window_end", "orders", "active_users"):
                out[field] = _num(value)
            else:
                out[field] = _flt(value)
        out["updatedAt"] = _num(payload.get("window_end"))
        return out

    def _health(self, key: str, _cap) -> dict[str, Any]:
        payload = self.kv.read_hash(key)
        if not payload:
            return {"updatedAt": 0}
        return {k: (_flt(v) if k not in ("window_start", "window_end", "nodes") else _num(v)) for k, v in payload.items()} | {
            "updatedAt": _num(payload.get("window_end"))
        }

    def _geo(self, key: str, _cap) -> dict[str, Any]:
        payload = self.kv.read_hash(key)
        if not payload:
            # same field names/units as populated payloads
            # (windowed_geo_header emits global_load "<n> TB/S")
            return {"global_load": "0.0 TB/S", "request_count": 0, "updatedAt": 0}
        out = dict(payload)
        for k in ("window_start", "window_end", "request_count"):
            if k in out:
                out[k] = _num(out[k])
        out["updatedAt"] = _num(payload.get("window_end"))
        return out

    # -- capped lists ------------------------------------------------------
    def _traffic(self, key: str, cap: int) -> list[dict[str, Any]]:
        """Ring buffer newest-first in kv; serve oldest-first (reference
        reverses LRANGE, redis_service.py:87-91)."""
        items = self.kv.read_list(key, 0, cap - 1)
        return list(reversed([json.loads(i) for i in items]))

    def _activity(self, key: str, cap: int) -> list[dict[str, Any]]:
        return [json.loads(i) for i in self.kv.read_list(key, 0, cap - 1)]

    # -- JSON snapshots ----------------------------------------------------
    def _regions(self, key: str, _cap) -> list[dict[str, Any]]:
        return self.kv.read_json(key) or []

    _flows = _platform = _regions

    def _alert(self, key: str, _cap) -> dict[str, Any]:
        rules = self.kv.read_json(f"{key}:rules") or []
        summary = self.kv.read_hash(f"{key}:summary")
        shaped = (
            {
                "criticalCount": _num(summary.get("criticalCount")),
                "warningCount": _num(summary.get("warningCount")),
                "healthyCount": _num(summary.get("healthyCount")),
                "updatedAt": _num(summary.get("updatedAt")),
            }
            if summary
            else {"criticalCount": 0, "warningCount": 0, "healthyCount": 0, "updatedAt": 0}
        )
        return {"rules": rules, "summary": shaped}
