"""What a dashboard query pays to start: the py4j commands a warm
second start of the four dashboard pipelines sends, and what those
queries serve.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


_SECOND_START = r"""
import json, os, sys
from pyspark import SparkContext
from pyspark.sql import functions as F
from cdc_pipeline_spark.operators import aggregates
from cdc_pipeline_spark.operators.activity import enrich_activity
from cdc_pipeline_spark.session import create_spark_session
from cdc_pipeline_spark.sources.files import stream_parquet
from cdc_pipeline_spark.streaming import generator, jobs
from cdc_pipeline_spark.streaming.sinks import InMemoryKV

base = sys.argv[1]


def session():
    s = create_spark_session(app_name="dashboard-start", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    return s


def regions(events):
    return events.select(F.col("created_at").alias("event_time"), "region_name",
                         F.coalesce(F.col("amount"), F.lit(0.0)).alias("sales"), F.lit(1).alias("request_count"))


def start(spark, kv, src, checkpoint, trigger):
    def source(table):
        return stream_parquet(spark, os.path.join(src, table), generator.TABLE_SCHEMAS[table],
                              max_files_per_trigger=None)

    fused = generator.kpi_components_from_cdc(source("orders"), source("user_events"), source("request_log"))
    queries = jobs.start_transaction_job(fused, source("user_events"), regions(source("user_events")),
                                         kv, checkpoint, trigger=trigger)
    queries.append(jobs.start_traffic_pipeline(source("request_log"), kv, os.path.join(checkpoint, "traffic"),
                                               trigger=trigger))
    return queries


spark = session()
warm = os.path.join(base, "warm")
generator.generate_batches(spark, warm, n_ticks=1)
for q in start(spark, InMemoryKV(), warm, os.path.join(base, "ckpt0"), {"availableNow": True}):
    q.awaitTermination(300)
spark.stop()

spark = session()
client = SparkContext._gateway._gateway_client
send, sent = type(client).send_command, []


def counted(self, command, *args, **kwargs):
    if not command.startswith("m\nd\n"):  # memory deletes are garbage collection
        sent.append(command)
    return send(self, command, *args, **kwargs)


# like a dashboard set-up: the queries start on empty sources, then the
# ticks arrive
src = os.path.join(base, "src")
generator.make_table_dirs(src)
kv = InMemoryKV()
type(client).send_command = counted
try:
    queries = start(spark, kv, src, os.path.join(base, "ckpt1"), None)
finally:
    type(client).send_command = send
generator.generate_batches(spark, src, n_ticks=3)
for q in queries:
    q.processAllAvailable()
    q.stop()
    assert q.exception() is None


def read(table):
    return spark.read.schema(generator.TABLE_SCHEMAS[table]).parquet(os.path.join(src, table))


events = read("user_events")
kpi = {r["window_start"]: r.asDict() for r in aggregates.windowed_kpi(
    generator.kpi_components_from_cdc(read("orders"), events, read("request_log"))).collect()}
region_rows = {(r["window_start"], r["region_name"]): r.asDict()
               for r in aggregates.windowed_region(regions(events)).collect()}
traffic = {r["window_end"]: r["value"] for r in aggregates.tumbling_traffic(read("request_log")).collect()}
served_feed = [json.loads(i) for i in kv.read_list("nexus:activity:feed")]
feed = {r["id"]: json.loads(json.dumps(r.asDict(), default=str))
        for r in enrich_activity(events).filter(F.col("id").isin([i["id"] for i in served_feed])).collect()}
served_kpi = kv.read_hash("nexus:kpi:current")
want_kpi = kpi[int(served_kpi["window_start"])]
print(json.dumps({
    "commands": len(sent),
    "kpi": {c: [float(served_kpi[c]), float(want_kpi[c])]
            for c in ("window_end", "active_users", "revenue", "orders", "error_rate", "latency_p50")},
    "regions": [[item, region_rows[(item["window_start"], item["region_name"])]]
                for item in kv.read_json("nexus:regions:current")],
    "traffic": [[json.loads(i)["value"], traffic[json.loads(i)["window_end"]]]
                for i in kv.read_list("nexus:traffic:timeseries")],
    "activity": [[item, feed.get(item["id"])] for item in served_feed],
}))
spark.stop()
"""


def test_warm_second_dashboard_start_sends_at_most_300_py4j_commands(tmp_path):
    """Start the four dashboard pipelines, stop the session, start them
    again in a new session on the same JVM: the second start sends at
    most 300 py4j commands besides memory deletes (699 before the
    pipelines' Column trees were built once per gateway), and its
    queries serve what a batch run of the same builders computes."""
    proc = subprocess.run(
        [sys.executable, "-c", _SECOND_START, str(tmp_path)],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["commands"] <= 300, out["commands"]
    for col, (served, batch) in out["kpi"].items():
        # latency_p50 is a percentile_approx sketch merged across batches
        rel = 0.05 if col == "latency_p50" else 1e-9
        assert abs(served - batch) <= rel * max(abs(batch), 1e-9), (col, served, batch)
    assert out["regions"] and out["traffic"] and out["activity"]
    for item, want in out["regions"]:
        assert all(abs(item[c] - want[c]) <= 1e-9 for c in ("sales", "request_count", "intensity")), (item, want)
    for served, batch in out["traffic"]:
        assert served == batch
    for item, want in out["activity"]:
        assert item == want
