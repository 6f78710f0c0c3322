"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the workload's seeded inputs (cached under ``.perfbench/cache``),
sets the workload up ``SETUPS`` times (``setup_s`` is the median CPU
time of all but the first, which also launches the JVM), warms it,
measures it for
``--seconds``, checks its outputs outside timing, and prints a report line
followed by the result line the schema in ``perfbench/SCHEMA.md``
describes. ``--trace 1`` measures once untraced and once traced, reports
the per-layer metrics of the traced window and the tracing overhead, and
writes the spans to ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

# Import from the repository root, not this script's directory, where
# `tests` would name perfbench/tests instead of the repository's tests.
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from perfbench import common  # noqa: E402
from perfbench.stats import median  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

# The first set-up also launches the JVM (``session.start_s``); ``setup_s``
# is the median CPU time of the ones after it, which start the system on a
# running JVM. It is CPU, not wall time, because the host lends our cores
# to other guests: set-up wall time moved 40% between two sets of ten runs.
SETUPS = 3


def _metric_units(kind: str) -> dict[str, str]:
    """Name → unit of every ``end_to_end`` or ``per_layer`` metric that
    ``BENCHMARK.json`` declares; a run prints exactly these."""
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _workloads():
    from perfbench.live import LiveDashboard
    from perfbench.mix import AnalyticMix

    return {w.name: w for w in (LiveDashboard, AnalyticMix)}


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    run_dir = common.prepare_env()
    modes = [False, True] if trace else [False]
    wl = _workloads()[name](run_dir, seed, seconds, len(modes))
    steal0 = common.steal_s()
    try:
        with common.RssSampler() as rss:
            wl.exclude_pids, wl.cpu_s = rss.exclude, rss.cpu_s
            start = time.time()
            wl.make_inputs()
            inputs_s = time.time() - start
            setups, setups_cpu = [], []
            for i in range(SETUPS):
                common.full_gc()
                start, cpu0 = time.time(), rss.cpu_s()
                wl.setup()
                setups.append(time.time() - start)
                setups_cpu.append(rss.cpu_s() - cpu0)
                if i < SETUPS - 1:
                    wl.teardown()
            try:
                start = time.time()
                wl.warm()
                warm_s = time.time() - start
                start = time.time()
                windows = [wl.measure(Tracer(t)) for t in modes]
                measure_s = time.time() - start
                results = wl.finish(windows)
                finish_s = time.time() - start - measure_s
            finally:
                wl.teardown()
    finally:
        wl.close()
        common.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)

    untraced, last = results[0], results[-1]
    e2e = {"setup_s": median(setups_cpu[1:]), **untraced["e2e"]}
    units = _metric_units("per_layer" if trace else "end_to_end")
    metrics = e2e
    if trace:
        # a layer the workload does not exercise reads 0
        metrics = {**dict.fromkeys(units, 0.0), **last["layers"],
                   "session.start_s": setups[0], "session.warm_s": warm_s,
                   "session.peak_rss_mb": rss.peak_mb, "session.jit_cpu_s": rss.cpu_s.jit_s,
                   **{f"trace.overhead_{k}": last["e2e"][k] - untraced["e2e"][k]
                      for k in ("latency_s", "cpu_per_op_s")}}
        windows[-1]["tracer"].dump(os.path.join(common.WORK, f"trace-{name}-{seed}.json"))
    report = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "host": {**common.host_info(), "steal_s": common.steal_s() - steal0},
        "inputs_s": inputs_s, "setups_s": setups, "setups_cpu_s": setups_cpu,
        "jit_cpu_s": rss.cpu_s.jit_s, "gc_cpu_s": rss.cpu_s.gc_s, "warm_s": warm_s,
        "measure_s": measure_s, "finish_s": finish_s,
        "end_to_end": e2e, "peak_rss_mb": rss.peak_mb, "detail": untraced["detail"],
        "failed_frac": untraced["failed"] / untraced["attempted"],
        "problems": untraced["problems"],
    }
    if trace:
        report["traced_end_to_end"] = last["e2e"]
    bad = [k for k in units if metrics.get(k) is None]
    if bad:
        raise RuntimeError(f"metrics without enough samples: {bad}")
    return {
        "report": report,
        "result": {
            "correct": untraced["failed"] == 0,
            "attempted": untraced["attempted"],
            "failed": untraced["failed"],
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in _workloads():
        ap.error(f"unknown workload {args.workload!r}")
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(out["report"], default=str))
    print(json.dumps(out["result"]))


if __name__ == "__main__":
    main()
