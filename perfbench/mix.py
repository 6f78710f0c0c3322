"""``analytic_mix``: a closed loop of one client over a fixed list of
``workload.QUERIES`` in one long-lived session, each execution built and
then forced with ``bit_xor(xxhash64(struct(*)))``.

Why: the list holds rows bound by query building (``embedding_kmeans``
runs eager Lloyd iterations inside its builder), rows bound by execution
(``embedding_neardup_pairs``), template- and Catalyst-heavy rows
(``doc_url_domain_policy``) and an Arrow-boundary row
(``doc_bpe_segmentation_arrow``), so the ``workload``, ``plan`` and
``exec`` layers each dominate some rows and not others. Passes repeat in
one session, which exposes session aging.
"""

from __future__ import annotations

import random
import time

from cdc_pipeline_spark import workload

from perfbench import common, inputs
from perfbench.stats import median, percentile
from perfbench.trace import Tracer

QUERIES = (
    "q3_shipping_priority",
    "cdc_latest_state",
    "embedding_neardup_pairs",
    "embedding_kmeans",
    "doc_url_domain_policy",
    "doc_bpe_segmentation_arrow",
)
SCALE = 0.1               # lineitem ~6k rows: the mix is bound by per-query fixed cost
# At least two passes, more while they fit in --seconds: the traced run
# compares the last pass with the first (``exec.late_early_ratio``).
MIN_PASSES = 2


class AnalyticMix:
    name = "analytic_mix"

    def __init__(self, run_dir: str, seed: int, seconds: float, modes: int) -> None:
        self.run_dir, self.seed, self.seconds = run_dir, seed, seconds
        self.exclude_pids: set[int] = set()
        self.cpu_s = common.CpuMeter(self.exclude_pids)
        self.passes = 0
        self.hashes: dict[str, set] = {}

    def make_inputs(self) -> None:
        self.data = inputs.tables(common.CACHE, self.seed, SCALE)

    def setup(self, master: str | None = None) -> None:
        self.spark = common.create_session(self.run_dir, master)
        common.warm_workers(self.spark)

    def teardown(self) -> None:
        self.spark.stop()

    def close(self) -> None:
        pass

    def warm(self) -> None:
        """Check every query against its DuckDB oracle (outside timing);
        this first execution also warms code generation."""
        from tests.oracle import compare

        self.problems = []
        for name in QUERIES:
            self.spark.sparkContext.setJobGroup(f"{self.name}:{name}:check", name)
            for p in compare(self.spark, workload.QUERIES[name], workload.ORACLE_SQL[name], self.data):
                self.problems.append(f"{name}: {p}")

    def _execute(self, name: str, tracer: Tracer) -> dict:
        sc = self.spark.sparkContext
        group = f"{self.name}:{name}"
        sc.setJobGroup(group, name)
        jobs0 = set(common.jobs_in_group(self.spark, group)) if tracer.enabled else set()
        cpu0 = self.cpu_s()
        with tracer.span("query", trace=f"{self.passes}:{name}", query=name):
            start = time.time()
            with tracer.span("build"):
                df = workload.QUERIES[name](self.spark, self.data)
            built = time.time()
            jobs1 = set(common.jobs_in_group(self.spark, group)) if tracer.enabled else set()
            with tracer.span("force"):
                frame = common.forced(df)
                value = frame.collect()[0][0]
            done = time.time()
        cpu = self.cpu_s() - cpu0
        self.hashes.setdefault(name, set()).add(value)
        out = {"name": name, "build": built - start, "exec": done - built, "total": done - start,
               "cpu": cpu}
        if tracer.enabled:
            jobs2 = set(common.jobs_in_group(self.spark, group))
            out.update(build_jobs=len(jobs1 - jobs0), stages=common.stages_of(self.spark, jobs2 - jobs1))
            phases = common.plan_phases_ms(frame)
            phases["analysis"] += common.plan_phases_ms(df)["analysis"]
            out.update(phases)
            out.update(common.exec_metrics(frame))
        return out

    def _pass(self, tracer: Tracer) -> dict:
        """One execution of every query, in a seed-permuted order."""
        self.passes += 1
        common.full_gc()
        order = list(QUERIES)
        random.Random(self.seed * 1000 + self.passes).shuffle(order)
        start = time.time()
        rows = [self._execute(name, tracer) for name in order]
        return {"wall": time.time() - start, "rows": rows}

    def measure(self, tracer: Tracer) -> dict:
        passes, start = [], time.time()
        while len(passes) < MIN_PASSES or (
                time.time() - start + median([p["wall"] for p in passes]) <= self.seconds):
            passes.append(self._pass(tracer))
        return {"passes": passes, "tracer": tracer}

    def single_core_pass(self) -> float:
        """One pass on ``local[1]``: the single-thread baseline. The JVM's
        code is warm from the passes before it."""
        self.teardown()
        self.setup("local[1]")
        return self._pass(Tracer(False))["wall"]

    def finish(self, windows: list[dict]) -> list[dict]:
        results = [self._window(w) for w in windows]
        if windows[-1]["tracer"].enabled:
            results[-1]["layers"]["exec.c1_ratio"] = (
                self.single_core_pass() / results[-1]["detail"]["mix_wall_s"])
        unstable = [n for n, hs in self.hashes.items() if len(hs) > 1]
        problems = self.problems + [f"{n}: result hash differs between passes" for n in unstable]
        for r in results:
            r["attempted"] += len(QUERIES)
            r["failed"] += len(problems)
            r["problems"] = problems[:5]
        return results

    def _window(self, w: dict) -> dict:
        passes = w["passes"]
        rows = [r for p in passes for r in p["rows"]]
        wall = median([p["wall"] for p in passes])
        per_query = {n: median([r["total"] for r in rows if r["name"] == n]) for n in QUERIES}
        # the mean over the list of each query's median, not a median over
        # every execution: with ten queries of different cost that median
        # sits between two of them and jumps between runs, and a per-query
        # median drops a pass's one-off stall that a pass wall keeps
        per_query_cpu = {n: median([r["cpu"] for r in rows if r["name"] == n]) for n in QUERIES}
        e2e = {"latency_s": sum(per_query.values()) / len(QUERIES),
               "cpu_per_op_s": sum(per_query_cpu.values()) / len(QUERIES)}
        detail = {"query_p50_s": percentile([r["total"] for r in rows], 0.5),
                  "mix_wall_s": wall, "passes": len(passes),
                  "per_query_s": {n: round(v, 4) for n, v in per_query.items()},
                  "per_query_cpu_s": {n: round(v, 4) for n, v in per_query_cpu.items()}}
        layers: dict[str, float] = {}
        if w["tracer"].enabled:
            # a window holds a dozen executions: medians, not sample
            # percentiles (which need 20)
            def p50(key):
                return median([r[key] for r in rows])

            def per_pass(key):
                return median([sum(r[key] for r in p["rows"]) for p in passes])

            layers.update({
                "workload.build_s": p50("build"), "workload.build_jobs": per_pass("build_jobs"),
                "plan.analysis_ms": p50("analysis"), "plan.optimization_ms": p50("optimization"),
                "plan.planning_ms": p50("planning"), "exec.s": p50("exec"),
                "exec.stages": per_pass("stages"),
                "exec.shuffle_write_bytes": per_pass("shuffle_write_bytes"),
                "exec.spill_bytes": per_pass("spill_bytes"), "exec.arrow_rows": per_pass("arrow_rows"),
                "exec.late_early_ratio": sum(r["total"] for r in passes[-1]["rows"])
                / sum(r["total"] for r in passes[0]["rows"]),
            })
        return {"e2e": e2e, "layers": layers, "detail": detail,
                "attempted": len(rows), "failed": 0}
