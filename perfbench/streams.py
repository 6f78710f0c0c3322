"""The four dashboard pipelines over tick files, what their progress
reports, and the check of their final kv snapshots against a batch run
of the same ``operators.aggregates`` builders over the same files."""

from __future__ import annotations

import datetime as dt
import json
import math
import os

from pyspark.sql import functions as F

from cdc_pipeline_spark.operators import aggregates
from cdc_pipeline_spark.operators.activity import enrich_activity
from cdc_pipeline_spark.serving.service import CHANNEL_TO_EVENT
from cdc_pipeline_spark.sources.files import stream_parquet
from cdc_pipeline_spark.streaming import generator, jobs

# Pipeline names in start order, with the kv channel each publishes on
# (its sink keys start with the channel and ":") and the WS event that
# channel feeds.
PIPELINES = ("kpi", "activity", "regions", "traffic")
CHANNEL = {n: f"nexus:{n}" for n in PIPELINES}
EVENT = {n: CHANNEL_TO_EVENT[c] for n, c in CHANNEL.items()}
# checkpoint subdirectory of each query (``jobs.start_transaction_job``
# names the regions query's ``region``)
CHECKPOINT_DIR = {"kpi": "kpi", "activity": "activity", "regions": "region", "traffic": "traffic"}


def _region_source(events):
    return events.select(
        F.col("created_at").alias("event_time"),
        F.col("region_name"),
        F.coalesce(F.col("amount"), F.lit(0.0)).alias("sales"),
        F.lit(1).alias("request_count"),
    )


def start(spark, kv, src: str, checkpoint: str, trigger: dict | None) -> dict:
    """``jobs.start_transaction_job`` (KPI, activity, regions) plus
    ``jobs.start_traffic_pipeline`` over ``src/<table>/``; every query
    takes all files available at its trigger. Returns name → query."""

    def source(table):
        return stream_parquet(spark, os.path.join(src, table),
                              generator.TABLE_SCHEMAS[table], max_files_per_trigger=None)

    fused = generator.kpi_components_from_cdc(
        source("orders"), source("user_events"), source("request_log"))
    queries = jobs.start_transaction_job(
        fused, source("user_events"), _region_source(source("user_events")),
        kv, checkpoint, trigger=trigger)
    queries.append(jobs.start_traffic_pipeline(
        source("request_log"), kv, os.path.join(checkpoint, "traffic"), trigger=trigger))
    return dict(zip(PIPELINES, queries))


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def batch_record(prog) -> dict:
    """One ``StreamingQueryProgress`` as a plain record: start time,
    ``durationMs`` phases, input rows, state operators, event time and
    each file source's log offset (-1 before its first file)."""
    p = json.loads(prog.json)
    state = p.get("stateOperators") or []
    event = p.get("eventTime") or {}
    lag = None
    # the watermark reads as the epoch until a batch has set it
    if "max" in event and not event.get("watermark", "1970").startswith("1970"):
        lag = _epoch(event["max"]) - _epoch(event["watermark"])
    return {
        "batch": p["batchId"],
        "start": _epoch(p["timestamp"]),
        "duration_ms": p.get("durationMs") or {},
        "rows": p["numInputRows"],
        "state_rows": sum(s["numRowsTotal"] for s in state),
        "state_bytes": sum(s["memoryUsedBytes"] for s in state),
        "watermark_lag_s": lag,
        "ends": [(s.get("endOffset") or {"logOffset": -1})["logOffset"] for s in p["sources"]],
    }


def committed_offsets(checkpoint: str) -> list[int] | None:
    """Each file source's log offset at the last committed batch of a
    query (-1 for a source that had no files), or None before the first
    commit. The offset log holds a version line, a metadata line, then
    one line per source."""
    try:
        batches = [int(f) for f in os.listdir(os.path.join(checkpoint, "commits")) if f.isdigit()]
    except FileNotFoundError:
        return None
    if not batches:
        return None
    with open(os.path.join(checkpoint, "offsets", str(max(batches)))) as fh:
        lines = fh.read().splitlines()[2:]
    return [json.loads(line)["logOffset"] if line.startswith("{") else -1 for line in lines]


def progress(query) -> list[dict]:
    return [batch_record(p) for p in query.recentProgress]


# ---------------------------------------------------------------------------
# Output check
# ---------------------------------------------------------------------------


def _close(a, b, rel: float = 1e-9) -> bool:
    a, b = float(a), float(b)
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)


def check_snapshots(spark, kv, src: str) -> tuple[int, list[str]]:
    """Compare every served aggregate with the batch aggregate of the same
    group over all files in ``src``. Returns (items checked, mismatches).

    Served values are final once input stops: every later change to a
    group would have rewritten it. ``latency_p50`` is a
    ``percentile_approx`` sketch, merged across micro-batches in the
    stream and built once here, so it gets a 5% tolerance."""

    def read(table):
        return spark.read.schema(generator.TABLE_SCHEMAS[table]).parquet(os.path.join(src, table))

    events = read("user_events")
    problems: list[str] = []
    checked = 0

    kpi = {r["window_start"]: r.asDict() for r in aggregates.windowed_kpi(
        generator.kpi_components_from_cdc(read("orders"), events, read("request_log"))).collect()}
    served = kv.read_hash("nexus:kpi:current")
    checked += 1
    want = kpi.get(int(served.get("window_start", -1)))
    if want is None:
        problems.append(f"kpi: no batch window for served {served}")
    else:
        for col in ("window_end", "active_users", "revenue", "orders", "error_rate", "latency_p50"):
            rel = 0.05 if col == "latency_p50" else 1e-9
            if col not in served or not _close(served[col], want[col], rel):
                problems.append(f"kpi.{col}: served {served.get(col)} batch {want[col]}")

    regions = {(r["window_start"], r["region_name"]): r.asDict()
               for r in aggregates.windowed_region(_region_source(events)).collect()}
    for item in kv.read_json("nexus:regions:current") or [None]:
        checked += 1
        want = item and regions.get((item["window_start"], item["region_name"]))
        if not want or not all(_close(item[c], want[c]) for c in ("sales", "request_count", "intensity")):
            problems.append(f"regions: served {item} batch {want}")

    traffic = {r["window_end"]: r["value"]
               for r in aggregates.tumbling_traffic(read("request_log"), duration="10 seconds").collect()}
    for raw in kv.read_list("nexus:traffic:timeseries") or [None]:
        checked += 1
        item = raw and json.loads(raw)
        if not item or traffic.get(item["window_end"]) != item["value"]:
            problems.append(f"traffic: served {item}")

    feed = [json.loads(i) for i in kv.read_list("nexus:activity:feed")]
    ids = [i["id"] for i in feed]
    rows = {r["id"]: json.loads(json.dumps(r.asDict(), default=str))
            for r in enrich_activity(events).filter(F.col("id").isin(ids)).collect()}
    for item in feed or [None]:
        checked += 1
        if not item or rows.get(item["id"]) != item:
            problems.append(f"activity: served {item} batch {item and rows.get(item['id'])}")
    return checked, problems
