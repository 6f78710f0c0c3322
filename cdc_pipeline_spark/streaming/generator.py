"""Seeded CDC load generator: Debezium-shaped fat events at preset rates.

Reference parity: ``scripts/generate_test_data.py`` — weighted user
journeys (``:311-347``), rate presets (``:386-392``), log-normal request
latency (``:517-525``), order status mix (``:846-852``), fat-event
denormalization (region/display-name/platform carried on every row,
``FLOW.md:42-55``). The reference pushes rows into Postgres + Kafka; the
engine-side counterpart lands the SAME seeded traffic as file-source
micro-batches — one parquet file per table per tick, mtime-ordered — so
``sources.files.stream_parquet`` replays it through the streaming jobs
end-to-end without any broker, the way the reference's ``make stress``
load-tests its pipeline.

Design points:
  * fully seeded (``random.Random(seed)``) and driven by a VIRTUAL
    clock (base epoch + tick index) — reruns produce byte-identical
    traffic, so golden tests can pin aggregate outputs;
  * CDC lifecycle, not just inserts: an order lands as a ``c``
    (pending) at checkout_start and is UPDATED (``u``) to its final
    status on completion; sessions close with a ``u`` — downstream
    latest-state/SCD2 operators see genuine multi-op chains;
  * the generator itself is driver-side Python producing micro-batch
    files — load generation is control plane, not a data-plane operator
    (the data plane is the streaming job under test). Per-tick volume is
    rate × cycle size, far below Spark task granularity.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_pipeline_spark import schemas
from cdc_pipeline_spark.operators.templates import template

# Reference preset ladder (generate_test_data.py:386-392): cycles/second
# offered and the error rate each preset injects.
PRESETS: dict[str, dict[str, float]] = {
    "light": {"rate": 5, "error_rate": 0.02},
    "demo": {"rate": 20, "error_rate": 0.05},
    "stress": {"rate": 60, "error_rate": 0.12},
    "high": {"rate": 100, "error_rate": 0.08},
    "extreme": {"rate": 1000, "error_rate": 0.10},
}

# Weighted journey shapes (generate_test_data.py:311-347): ~75% of the
# pattern mass contains checkout_start — the gate that creates an order.
_JOURNEYS: list[tuple[str, float]] = [
    ("login page_view page_view add_to_cart page_view checkout_start checkout_complete", 0.18),
    ("login add_to_cart checkout_start checkout_complete", 0.15),
    ("login search add_to_cart checkout_start checkout_complete", 0.12),
    ("login page_view add_to_cart checkout_start logout", 0.12),  # abandonment → pending
    ("login page_view add_to_cart checkout_start checkout_complete return_request", 0.09),
    ("login page_view add_to_cart checkout_start checkout_complete review_submit", 0.09),
    ("login page_view page_view logout", 0.06),
    ("page_view page_view page_view", 0.05),
    ("login search page_view page_view page_view logout", 0.04),
    ("login page_view add_to_wishlist page_view add_to_wishlist logout", 0.04),
    ("page_view page_view view_recommendations page_view", 0.03),
    ("page_view search page_view page_view page_view logout", 0.03),
]

_PLATFORMS = ["Desktop", "Mobile", "Tablet"]
_PLATFORM_WEIGHTS = [0.55, 0.35, 0.10]
_REGIONS = [
    ("US", "New York", "North America"),
    ("US", "San Francisco", "North America"),
    ("DE", "Berlin", "Europe"),
    ("FR", "Paris", "Europe"),
    ("JP", "Tokyo", "Asia Pacific"),
    ("AU", "Sydney", "Asia Pacific"),
    ("BR", "Sao Paulo", "South America"),
]
_CATEGORIES = ["electronics", "books", "apparel", "home", "sports"]
_ENDPOINTS = [
    ("GET", "/api/products"),
    ("GET", "/api/products/{id}"),
    ("POST", "/api/cart"),
    ("POST", "/api/checkout"),
    ("GET", "/api/search"),
    ("GET", "/api/recommendations"),
    ("POST", "/api/auth/login"),
    ("GET", "/api/orders"),
]
_ENDPOINT_WEIGHTS = [0.25, 0.20, 0.12, 0.10, 0.12, 0.06, 0.08, 0.07]

_BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def _meta(op: str, table: str, ts: dt.datetime) -> dict[str, Any]:
    return {
        "__op": op,
        "__table": table,
        "__source_ts_ms": int(ts.timestamp() * 1000),
        "__deleted": "false",
    }


class JourneyGenerator:
    """Seeded user-journey cycle builder. One ``cycle(now)`` call emits
    the CDC rows a single journey produces across the four hot tables
    (user_events, orders, sessions, request_log), with denormalized
    region/display/platform fat columns on every row."""

    def __init__(self, seed: int = 7, n_users: int = 200, n_products: int = 50,
                 error_rate: float = 0.05) -> None:
        self._rng = random.Random(seed)
        self.error_rate = error_rate
        self._next_event = 1
        self._next_order = 1
        self._next_request = 1
        # uid → (session_id, started_at): the close 'u' row must carry
        # the session's ORIGINAL start time (immutable columns must not
        # churn between CDC versions — SCD2/latest-state consumers key
        # change detection on exactly that)
        self._sessions: dict[int, tuple[str, dt.datetime]] = {}
        self._session_seq = 0
        rng = self._rng
        self.users = []
        for uid in range(1, n_users + 1):
            cc, city, region = rng.choice(_REGIONS)
            self.users.append(
                {
                    "id": uid,
                    "display_name": f"user {uid}",
                    "country_code": cc,
                    "city": city,
                    "region_name": region,
                    "platform": rng.choices(_PLATFORMS, weights=_PLATFORM_WEIGHTS)[0],
                }
            )
        self.products = [
            {
                "id": pid,
                "category": rng.choice(_CATEGORIES),
                "price": round(rng.uniform(5.0, 500.0), 2),
            }
            for pid in range(1, n_products + 1)
        ]

    def _latency_ms(self, error: bool) -> int:
        """Log-normal latency (generate_test_data.py:517-525): a fast
        median with a heavy tail; errors bimodal (fail-fast or timeout)."""
        rng = self._rng
        if error:
            return rng.randint(2, 30) if rng.random() < 0.4 else rng.randint(150, 3000)
        ms = math.exp(rng.gauss(4.2, 0.7))
        if rng.random() < 0.03:
            ms += rng.uniform(200, 1500)
        return max(1, int(ms))

    def _status_code(self) -> tuple[int, bool]:
        rng = self._rng
        server = min(self.error_rate, 0.4)
        client = min(self.error_rate / 2.0, 0.2)
        roll = rng.random()
        if roll < 1.0 - server - client:
            return 200, False
        if roll < 1.0 - server:
            return rng.choice([400, 401, 403, 404, 429]), True
        return rng.choice([500, 502, 503, 504]), True

    def _session_for(self, uid: int, now: dt.datetime) -> tuple[str, dt.datetime, bool]:
        entry = self._sessions.get(uid)
        if entry is not None:
            return entry[0], entry[1], False
        self._session_seq += 1
        sid = f"session-{self._session_seq:08d}"
        self._sessions[uid] = (sid, now)
        return sid, now, True

    def cycle(self, now: dt.datetime) -> dict[str, list[dict[str, Any]]]:
        rng = self._rng
        user = rng.choice(self.users)
        product = rng.choice(self.products)
        pattern = rng.choices(
            [j for j, _ in _JOURNEYS], weights=[w for _, w in _JOURNEYS]
        )[0].split()
        qty = rng.randint(1, 4)
        order_total = round(product["price"] * qty, 2)
        sid, session_start, is_new = self._session_for(user["id"], now)
        # final status mix (generate_test_data.py:846-852)
        roll = rng.random()
        final_status = "failed" if roll < 0.05 else ("refunded" if roll < 0.08 else "completed")
        close_session = rng.random() < 0.15

        out: dict[str, list[dict[str, Any]]] = {
            "user_events": [], "orders": [], "sessions": [], "request_log": []
        }
        if is_new:
            out["sessions"].append(
                {
                    "id": sid, "user_id": user["id"], "started_at": now, "ended_at": None,
                    "platform": user["platform"], "country_code": user["country_code"],
                    "city": user["city"], "region_name": user["region_name"],
                    "is_active": True, "created_at": now,
                    **_meta("c", "user_sessions", now),
                }
            )
        order_id = None
        for step, event_type in enumerate(pattern):
            ts = now + dt.timedelta(milliseconds=200 * step)
            if event_type == "checkout_start" and order_id is None:
                order_id = self._next_order
                self._next_order += 1
                out["orders"].append(
                    {
                        "id": order_id, "user_id": user["id"], "total_amount": order_total,
                        "currency": "USD", "status": "pending",
                        "region_name": user["region_name"],
                        "user_display_name": user["display_name"],
                        "platform": user["platform"], "created_at": ts, "updated_at": ts,
                        **_meta("c", "orders", ts),
                    }
                )
            if event_type == "checkout_complete" and order_id is not None:
                out["orders"].append(
                    {
                        "id": order_id, "user_id": user["id"], "total_amount": order_total,
                        "currency": "USD", "status": final_status,
                        "region_name": user["region_name"],
                        "user_display_name": user["display_name"],
                        "platform": user["platform"], "created_at": ts, "updated_at": ts,
                        **_meta("u", "orders", ts),
                    }
                )
            eid = self._next_event
            self._next_event += 1
            amount = order_total if event_type == "checkout_complete" else None
            out["user_events"].append(
                {
                    "id": eid, "user_id": user["id"], "event_type": event_type,
                    "page_url": f"/products/{product['id']}", "referrer_url": None,
                    "user_agent": f"agent/{user['platform']}", "ip_address": "203.0.113.7",
                    "session_id": sid,
                    "metadata": json.dumps({"product_id": product["id"], "qty": qty}),
                    "user_display_name": user["display_name"],
                    "region_name": user["region_name"], "city": user["city"],
                    "country_code": user["country_code"], "platform": user["platform"],
                    "amount": amount, "created_at": ts,
                    **_meta("c", "user_events", ts),
                }
            )
            code, is_err = self._status_code()
            rid = self._next_request
            self._next_request += 1
            method, endpoint = rng.choices(_ENDPOINTS, weights=_ENDPOINT_WEIGHTS)[0]
            out["request_log"].append(
                {
                    "id": rid, "endpoint": endpoint, "method": method,
                    "status_code": code, "latency_ms": self._latency_ms(is_err),
                    "user_id": user["id"], "session_id": sid,
                    "region_name": user["region_name"],
                    "user_display_name": user["display_name"],
                    "platform": user["platform"], "created_at": ts,
                    **_meta("c", "request_log", ts),
                }
            )
        if close_session:
            end = now + dt.timedelta(milliseconds=200 * len(pattern))
            self._sessions.pop(user["id"], None)
            out["sessions"].append(
                {
                    "id": sid, "user_id": user["id"],
                    # the ORIGINAL start — not this cycle's now — so the
                    # c→u chain only mutates genuinely mutable columns
                    "started_at": session_start, "ended_at": end,
                    "platform": user["platform"], "country_code": user["country_code"],
                    "city": user["city"], "region_name": user["region_name"],
                    "is_active": False, "created_at": session_start,
                    **_meta("u", "user_sessions", end),
                }
            )
        return out


TABLE_SCHEMAS = {
    "user_events": schemas.with_cdc_meta(schemas.USER_EVENTS),
    "orders": schemas.with_cdc_meta(schemas.ORDERS),
    "sessions": schemas.with_cdc_meta(schemas.SESSIONS),
    "request_log": schemas.with_cdc_meta(schemas.REQUEST_LOG),
}


def generate_batches(
    spark: SparkSession,
    out_base: str,
    rate: float | None = None,
    n_ticks: int = 5,
    seed: int = 7,
    preset: str | None = None,
) -> dict[str, str]:
    """Write ``n_ticks`` micro-batches of seeded journey traffic, one
    parquet file per table per tick under ``out_base/<table>/``, with
    strictly increasing mtimes so ``stream_parquet`` with
    ``maxFilesPerTrigger=1`` replays them in generation order. ``rate``
    is journey cycles per (virtual) second; presets name the reference's
    ladder (light/demo/stress/high/extreme). Returns table → directory.
    """
    if preset is not None:
        conf = PRESETS[preset]
        rate = conf["rate"] if rate is None else rate
        gen = JourneyGenerator(seed=seed, error_rate=conf["error_rate"])
    else:
        gen = JourneyGenerator(seed=seed)
    if rate is None:
        rate = 10.0
    dirs = make_table_dirs(out_base)
    import time as _time

    mtime0 = _time.time()
    for tick in range(n_ticks):
        write_tick(spark, gen, dirs, tick, rate, 1.0, mtime0 + tick)
    return dirs


def make_table_dirs(out_base: str) -> dict[str, str]:
    dirs = {t: os.path.join(out_base, t) for t in TABLE_SCHEMAS}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    return dirs


def write_tick(
    spark: SparkSession,
    gen: JourneyGenerator,
    dirs: dict[str, str],
    tick: int,
    rate: float,
    tick_seconds: float,
    mtime: float,
    prefix: str = "",
) -> int:
    """Emit one micro-batch tick: ``rate × tick_seconds`` journey cycles
    across all four tables, one parquet file per table with the given
    mtime (the file source ingests in mtime order). The event clock is
    VIRTUAL (base epoch + tick offsets) so replays are byte-identical;
    ``mtime`` is the only wall-clock input. Returns rows written.

    ``prefix`` must be unique per generator RUN when several runs share
    an output directory: Spark's file source tracks processed files BY
    PATH, so a restarted run re-using ``00000.parquet`` would silently
    replace an already-ingested file and never be picked up (and can
    corrupt an in-flight read). The control surface passes ``run<seq>-``.
    """
    import shutil

    rows: dict[str, list[dict[str, Any]]] = {t: [] for t in TABLE_SCHEMAS}
    cycles = int(rate * tick_seconds)
    for c in range(cycles):
        now = _BASE + dt.timedelta(
            seconds=tick * tick_seconds + (c / max(cycles, 1)) * tick_seconds
        )
        for table, out in gen.cycle(now).items():
            rows[table].extend(out)
    n = 0
    for table, schema in TABLE_SCHEMAS.items():
        df = spark.createDataFrame(rows[table], schema).coalesce(1)
        staging = os.path.join(dirs[table], f"_stage_{prefix}{tick}")
        df.write.mode("overwrite").parquet(staging)
        data = [f for f in os.listdir(staging) if f.endswith(".parquet")][0]
        dest = os.path.join(dirs[table], f"{prefix}{tick:05d}.parquet")
        os.rename(os.path.join(staging, data), dest)
        shutil.rmtree(staging)
        os.utime(dest, (mtime, mtime))
        n += len(rows[table])
    return n


def kpi_components_from_cdc(
    orders: DataFrame, events: DataFrame, requests: DataFrame
) -> DataFrame:
    """Normalize the three CDC streams into the fused KPI layout
    (event_time, session_id, revenue_amount, order_count, error_count,
    request_count, latency_ms) — the reference's kpi_aggregator fusion
    (``kpi_aggregator.py:146-181``): orders contribute revenue/order
    counts (updates to a terminal 'completed' status only, so pending →
    completed chains count once), events contribute session activity,
    request_log contributes request/error/latency. Feed the result to
    ``jobs.start_kpi_pipeline`` / ``start_transaction_job``."""
    from cdc_pipeline_spark.operators.aggregates import fuse_streams

    completed, o, e, r = _kpi_component_columns()
    return fuse_streams([orders.filter(completed).select(*o), events.select(*e), requests.select(*r)])


@template
def _kpi_component_columns():
    completed = (F.col("__op") == "u") & (F.col("status") == "completed")
    o = (
        F.col("updated_at").alias("event_time"),
        F.concat(F.lit("order-"), F.col("user_id").cast("string")).alias("session_id"),
        F.col("total_amount").alias("revenue_amount"),
        F.lit(1).alias("order_count"),
        F.lit(0).alias("error_count"),
        F.lit(0).alias("request_count"),
        F.lit(None).cast("double").alias("latency_ms"),
    )
    e = (
        F.col("created_at").alias("event_time"),
        F.col("session_id"),
        F.lit(0.0).alias("revenue_amount"),
        F.lit(0).alias("order_count"),
        F.lit(0).alias("error_count"),
        F.lit(0).alias("request_count"),
        F.lit(None).cast("double").alias("latency_ms"),
    )
    r = (
        F.col("created_at").alias("event_time"),
        F.col("session_id"),
        F.lit(0.0).alias("revenue_amount"),
        F.lit(0).alias("order_count"),
        F.when(F.col("status_code") >= 500, F.lit(1)).otherwise(F.lit(0)).alias("error_count"),
        F.lit(1).alias("request_count"),
        F.col("latency_ms").cast("double").alias("latency_ms"),
    )
    return completed, o, e, r
