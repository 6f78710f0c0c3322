"""``live_dashboard``: open-loop ticks through the four pipelines into
the kv store, served over WebSocket and REST while the sinks write.

Why: small, frequent batches make fixed per-batch cost dominate (offset
listing, planning, WAL and commit, sink collects, pub/sub fan-out), and
REST reads beside sink writes expose contention on the kv store and the
driver.
"""

from __future__ import annotations

import bisect
import json
import os
import subprocess
import sys
import threading
import time

from werkzeug.serving import make_server

from cdc_pipeline_spark.serving.app import create_app
from cdc_pipeline_spark.serving.ws import serve_ws
from cdc_pipeline_spark.streaming.generator import PRESETS
from cdc_pipeline_spark.streaming.monitor import KvProgressListener

from perfbench import common, inputs, streams
from perfbench.stats import (attribute_ticks, batch_at, median, open_loop, percentile,
                             read_source_logs, tick_of_path)
from perfbench.trace import RecordingKV, Tracer

PRESET = "high"          # 100 journey cycles/s, sustained on 4 cores without a backlog
# 5 ticks/s of 20 cycles each: each tick is one file per table, and the
# file source pays per file. At 10 ticks/s the KPI query's batches took
# 1.8 s of the 2.5 s trigger interval and overran it when the host was
# busy. A 20 s window holds 100 ticks, enough for a p90.
TICK_SECONDS = 0.2
WARM_TICKS = 10
READ_RATE = 20.0         # REST reads/s, round-robin over the snapshot routes
# A fixed trigger starts every batch on a wall-clock grid (Spark aligns
# processing-time triggers to multiples of the interval), and each
# schedule starts just after a grid point, so a tick's wait for its batch
# no longer depends on how long the batch before it ran. On the default
# trigger freshness p50 spread 18% (IQR/median) across five seeds. The
# interval must stay well above the slowest batch: when a batch overruns
# it, the next one waits a whole interval, and freshness p50 jumped from
# 3.5 to 5.5 s in two of five runs at 10 ticks/s.
TRIGGER_SECONDS = 2.5
DRAIN_TIMEOUT = 20.0
PHASES = ("triggerExecution", "latestOffset", "queryPlanning", "walCommit",
          "commitOffsets", "addBatch")


class LiveDashboard:
    name = "live_dashboard"

    def __init__(self, run_dir: str, seed: int, seconds: float, modes: int) -> None:
        self.run_dir, self.seed = run_dir, seed
        self.count = int(round(seconds / TICK_SECONDS))
        self.n_ticks = WARM_TICKS + self.count * modes
        self.reps = 0
        self.exclude_pids: set[int] = set()
        self.cpu_s = common.CpuMeter(self.exclude_pids)
        self.gen: subprocess.Popen | None = None
        self.connected = False

    def make_inputs(self) -> None:
        self.ticks = inputs.ticks(common.CACHE, self.seed, self.n_ticks, PRESETS[PRESET]["rate"],
                                  TICK_SECONDS, PRESETS[PRESET]["error_rate"])
        self.gen = subprocess.Popen(
            [sys.executable, os.path.join(common.ROOT, "perfbench", "loadgen.py"),
             "--tables", ",".join(inputs.TICK_TABLES), "--tick-seconds", str(TICK_SECONDS),
             "--read-rate", str(READ_RATE)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.exclude_pids.add(self.gen.pid)

    def _command(self, line: str) -> str:
        self.gen.stdin.write(line + "\n")
        self.gen.stdin.flush()
        reply = self.gen.stdout.readline()
        if not reply:
            raise RuntimeError("load generator exited")
        return reply

    # -- set-up -------------------------------------------------------------
    def setup(self) -> None:
        base = os.path.join(self.run_dir, f"live{self.reps}")
        self.reps += 1
        self.src, staging = os.path.join(base, "src"), os.path.join(base, "staging")
        self.ckpt = os.path.join(base, "ckpt")
        for table in inputs.TICK_TABLES:
            os.makedirs(os.path.join(self.src, table))
            os.makedirs(os.path.join(staging, table))
            for f in os.listdir(os.path.join(self.ticks, table)):
                os.link(os.path.join(self.ticks, table, f), os.path.join(staging, table, f))

        self.spark = common.create_session(self.run_dir)
        self.kv = RecordingKV(Tracer(False))
        self.listener = KvProgressListener(self.kv)
        self.spark.streams.addListener(self.listener)
        self.ws_server, self.hub = serve_ws(self.kv)
        self.http = make_server("127.0.0.1", 0, create_app(self.kv), threaded=True)
        self.http_thread = threading.Thread(target=self.http.serve_forever, name="rest", daemon=True)
        self.http_thread.start()
        self.queries = streams.start(self.spark, self.kv, self.src, self.ckpt,
                                     {"processingTime": f"{TRIGGER_SECONDS} seconds"})
        ports = [self.ws_server.server_address[1], self.http.server_port]
        if self._command("connect " + json.dumps(ports + [staging, self.src])).strip() != "ready":
            raise RuntimeError("load generator failed to connect")
        self.connected = True
        self.next_tick = 0

    def _disconnect(self) -> dict:
        """Close the generator's clients; returns their log."""
        self.connected = False
        return json.loads(self._command("stop"))

    def teardown(self) -> None:
        if self.connected:
            self._disconnect()
        for q in self.queries.values():
            q.stop()
        self.spark.streams.removeListener(self.listener)
        self.http.shutdown()
        self.http_thread.join()
        self.ws_server.shutdown()
        self.ws_server.server_close()
        self.hub.close()
        self.spark.stop()

    def close(self) -> None:
        """End the load generator (it exits when its stdin closes)."""
        if self.gen is not None:
            self.gen.stdin.close()
            self.gen.wait(timeout=30)

    # -- load ---------------------------------------------------------------
    def _ingested(self, tick: int) -> bool:
        """Whether every pipeline has committed a batch that ingested
        ``tick`` (its sink writes are done once the batch commits). Read
        from the checkpoints on disk: asking the queries through py4j ten
        times a second cost the JVM more CPU than the batches did."""
        for n in self.queries:
            ckpt = os.path.join(self.ckpt, streams.CHECKPOINT_DIR[n])
            ends = streams.committed_offsets(ckpt)
            if ends is None:
                return False
            for i, entries in enumerate(read_source_logs(ckpt)):
                offsets = [o for path, o in entries if tick_of_path(path) == tick]
                if not offsets or ends[i] < offsets[0]:
                    return False
        return True

    def _publish(self, count: int) -> tuple[int, float, float]:
        """Publish the next ``count`` ticks on schedule and wait until every
        pipeline has gone idle. Returns (first tick, due time of the first,
        CPU seconds the system spent from the trigger boundary before it
        until idle)."""
        grid = TRIGGER_SECONDS
        first, t0 = self.next_tick, (time.time() // grid + 1) * grid + 0.1
        self.next_tick += count
        common.full_gc()
        delay = t0 - 0.1 - time.time()
        if delay > 0:
            time.sleep(delay)
        cpu0, py0 = self.cpu_s(), sum(os.times()[:2])
        threads0, spawned0, forks0 = self.cpu_s.threads(), self.cpu_s.spawned_s, common.spawned()
        if self._command(f"go {t0} {first} {count}").strip() != "done":
            raise RuntimeError("load generator failed to publish")
        deadline = time.time() + DRAIN_TIMEOUT
        while time.time() < deadline and not self._ingested(first + count - 1):
            time.sleep(0.25)
        time.sleep(0.3)  # let the last frames reach the client
        cpu = self.cpu_s() - cpu0
        threads = {n: t - threads0.get(n, 0.0) for n, t in self.cpu_s.threads().items()}
        self.window_cpu = {"python": sum(os.times()[:2]) - py0,
                           "spawned": self.cpu_s.spawned_s - spawned0,
                           "spawned_count": common.spawned() - forks0,
                           "jvm_threads": {n: round(t, 2) for n, t in
                                           sorted(threads.items(), key=lambda x: -x[1]) if t > 0}}
        return first, t0, cpu

    def warm(self) -> None:
        self._publish(WARM_TICKS)

    def measure(self, tracer: Tracer) -> dict:
        self.kv.tracer = tracer
        first, t0, cpu = self._publish(self.count)
        return {"first": first, "t0": t0, "end": time.time(), "cpu": cpu,
                "window_cpu": self.window_cpu, "tracer": tracer}

    # -- results ------------------------------------------------------------
    def finish(self, windows: list[dict]) -> list[dict]:
        """Stop the load generator and turn its log, the kv publish log,
        the checkpoint source logs and query progress into metrics, one
        result per measured window."""
        log = self._disconnect()
        prog = {n: streams.progress(q) for n, q in self.queries.items()}
        ingest = {n: attribute_ticks(read_source_logs(os.path.join(self.ckpt, streams.CHECKPOINT_DIR[n])),
                                     [(p["batch"], p["ends"]) for p in prog[n]])
                  for n in prog}
        starts = self._starts = {n: sorted((p["start"], p["batch"]) for p in prog[n]) for n in prog}
        pub_t = {n: [t for t, c in self.kv.publishes if c == streams.CHANNEL[n]] for n in prog}
        # a publish happens inside its batch, so one always precedes it
        pub_b = {n: [batch_at(starts[n], t + 0.002) for t in pub_t[n]] for n in prog}
        start_of = {n: {b: s for s, b in starts[n]} for n in prog}
        frames = {n: [t for t, e in log["frames"] if e == streams.EVENT[n]] for n in prog}
        published = {p[0]: p for p in log["publishes"]}
        results = []
        for w in windows:
            results.append(self._window(w, log, ingest, prog, start_of, pub_t, pub_b, frames, published))
        self.spark.sparkContext.setJobGroup(f"{self.name}:check", "snapshot check")
        checked, problems = streams.check_snapshots(self.spark, self.kv, self.src)
        for r in results:
            r["attempted"] += checked
            r["failed"] += len(problems)
            r["problems"] = problems[:5]
        return results

    def _window(self, w, log, ingest, prog, start_of, pub_t, pub_b, frames, published) -> dict:
        first, t0, end, tracer = w["first"], w["t0"], w["end"], w["tracer"]
        ticks = range(first, first + self.count)
        due = [t0 + (i - first) * TICK_SECONDS for i in ticks]
        started = [published[i][2] if i in published else t0 for i in ticks]
        # per tick, the panel served last sets freshness; its path splits
        # into source wait, batch start to kv publish, and WS push
        served, per_pipe, waits, to_publish = [], {n: [] for n in prog}, [], []
        for i, d in zip(ticks, due):
            hits = {}
            for n in prog:
                b = ingest[n].get(i)
                if b is None or i not in published:
                    break
                k = bisect.bisect_left(pub_b[n], b)
                if k >= len(frames[n]):
                    break
                hits[n] = (frames[n][k], k, b)
                per_pipe[n].append(frames[n][k] - d)
            if len(hits) < len(prog):
                served.append(None)
                continue
            n = max(hits, key=lambda m: hits[m][0])
            frame, k, b = hits[n]
            served.append(frame)
            waits.append(start_of[n][b] - published[i][2])
            to_publish.append((pub_t[n][k] - start_of[n][b]) * 1000)
        acct = open_loop(due, started, served)
        fresh = acct["latency"]
        reads = [r for r in log["reads"] if t0 <= r[1] < t0 + self.count * TICK_SECONDS]
        read_ms = [(r[3] - r[1]) * 1000 for r in reads]
        bad_reads = sum(not r[4] for r in reads)

        batches = [p for n in prog for p in prog[n] if t0 <= p["start"] <= end]
        push, n_frames, updates = [], 0, 0
        for n in prog:
            lo = bisect.bisect_left(pub_t[n], t0)
            hi = bisect.bisect_right(pub_t[n], end)
            for k in range(lo, min(hi, len(frames[n]))):
                push.append((frames[n][k] - pub_t[n][k]) * 1000)
            n_frames += sum(1 for t in frames[n] if t0 <= t <= end + 0.5)
            updates += len({b for b in pub_b[n][lo:hi]})

        p50 = percentile(fresh, 0.5)
        e2e = {"latency_s": p50["value"], "cpu_per_op_s": w["cpu"] / self.count}
        detail = {
            "freshness_p50_s": p50, "freshness_p90_s": percentile(fresh, 0.9),
            "freshness_p95_s": percentile(fresh, 0.95),
            "read_p50_ms": percentile(read_ms, 0.5), "ticks": len(due),
            "ticks_unserved": acct["missed"], "reads": len(reads), "reads_failed": bad_reads,
            "frames_vs_publishes": {n: [len(frames[n]), len(pub_t[n])] for n in prog},
            "window_cpu_s": {"total": w["cpu"], **w["window_cpu"]},
            "batches": len(batches),
        }
        layers = {
            "sources.files.wait_p50_s": _v(percentile(waits, 0.5)),
            "jobs.to_publish_p50_ms": _v(percentile(to_publish, 0.5)),
            "jobs.batches": len(batches),
            "jobs.spawned_per_batch": w["window_cpu"]["spawned_count"] / max(len(batches), 1),
            "serving.ws_push_p50_ms": _v(percentile(push, 0.5)),
            "serving.frames_per_update": n_frames / max(updates, 1),
            "serving.read_p95_ms": _v(percentile(read_ms, 0.95)),
            "generator.late_max_ms": max(acct["late"]) * 1000,
            "generator.ticks": len(due),
        }
        last = [prog[n][-1] for n in prog if prog[n]]
        layers["aggregates.state_rows"] = sum(p["state_rows"] for p in last)
        layers["aggregates.state_bytes"] = sum(p["state_bytes"] for p in last)
        lags = [p["watermark_lag_s"] for p in batches if p["watermark_lag_s"] is not None]
        layers["jobs.watermark_lag_s"] = median(lags) if lags else 0.0
        # a window holds a handful of batches per query: medians, not
        # sample percentiles
        for phase in PHASES:
            vals = [p["duration_ms"][phase] for p in batches if phase in p["duration_ms"]]
            key = "jobs.batch_p50_ms" if phase == "triggerExecution" else f"jobs.{phase}_p50_ms"
            layers[key] = median(vals) if vals else 0.0
        for n in prog:
            layers[f"freshness.{n}_p50_s"] = _v(percentile(per_pipe[n], 0.5))
        layers.update(self._sink_layers(tracer, prog, t0, end))
        if tracer.enabled:
            self._record_spans(tracer, ticks, due, published, ingest, prog, pub_t, pub_b,
                               frames, reads, t0, end)
        return {"e2e": e2e, "layers": layers, "detail": detail,
                "attempted": len(due) + len(reads), "failed": acct["missed"] + bad_reads}

    @staticmethod
    def _record_spans(tracer, ticks, due, published, ingest, prog, pub_t, pub_b, frames,
                      reads, t0, end) -> None:
        """Spans for what other processes and Spark observed: tick
        publishes, micro-batches, kv publishes, WS frames, REST reads."""
        for i, d in zip(ticks, due):
            if i in published:
                tracer.add("tick.publish", published[i][2], published[i][3], trace=f"tick:{i}",
                           due=d, batches={n: ingest[n].get(i) for n in prog})
        for n in prog:
            for p in prog[n]:
                if t0 <= p["start"] <= end:
                    tracer.add("batch", p["start"],
                               p["start"] + p["duration_ms"].get("triggerExecution", 0) / 1000,
                               trace=f"{n}:{p['batch']}", pipeline=n, rows=p["rows"],
                               phases_ms=p["duration_ms"])
            for k, t in enumerate(pub_t[n]):
                if t0 <= t <= end:
                    tracer.add("kv.publish", t, t, trace=f"{n}:{pub_b[n][k]}", pipeline=n)
                    if k < len(frames[n]):
                        tracer.add("ws.frame", t, frames[n][k], trace=f"{n}:{pub_b[n][k]}", pipeline=n)
        for path, d, started, done, ok in reads:
            tracer.add("rest.request", started, done, path=path, due=d, ok=ok)

    def _sink_layers(self, tracer, prog, t0, end) -> dict:
        if not tracer.enabled:
            return {}
        per_batch: dict[tuple, float] = {}
        for s in tracer.spans:
            if not s["name"].startswith("kv.") or not t0 <= s["start"] <= end:
                continue
            for n in prog:
                if s["key"].startswith(streams.CHANNEL[n] + ":"):
                    b = batch_at(self._starts[n], s["start"] + 0.002)
                    per_batch[(n, b)] = per_batch.get((n, b), 0.0) + (s["end"] - s["start"]) * 1000
        jobs = batches = 0
        for n, q in self.queries.items():
            jobs += len(common.jobs_in_group(self.spark, str(q.runId)))
            batches += len(prog[n])
        return {"sinks.write_ms": median(list(per_batch.values())) if per_batch else 0.0,
                "sinks.collect_jobs": jobs / max(batches, 1)}


def _v(p: dict) -> float:
    return 0.0 if p["value"] is None else float(p["value"])
