#!/usr/bin/env python
"""Benchmark harness for the ``workload.QUERIES`` suite.

Runs every registered query (or only the ones named on the command
line, still in suite order) at $SPARK_GRAFT_SF_DIR (default: the sf0.1
test data, see ``SF_DIR``) on local[$SPARK_GRAFT_CPUS] (default: every
core of the host) and prints ONE JSON line to stdout:

    {"metric": "workload_wall_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1, "calibration": {...}}

plus ``isolation_retried`` when a retry ran and ``gate`` under
``--check``. Progress goes to stderr; nothing is written into the
checkout.

    python bench.py [--check [BASELINE_QUERIES.json]] [--plans DIR] [name ...]

Each query is forced with ``perfbench.common.forced``, i.e.
``agg(bit_xor(xxhash64(struct(*))))`` — a one-row collect that still
evaluates EVERY output column (bit_xor, not sum: summing 64-bit hashes
overflows under ANSI mode). A bare ``count()`` would let Catalyst prune
unreferenced projections, so projection-heavy queries (text features,
winnowing) would measure the scan instead of their expressions.

``--check [PATH]`` (default BASELINE_QUERIES.json next to this file)
additionally compares every query against its frozen per-query baseline
and exits 1 on regression: measured > 1.5x frozen AND measured above
the 1-second noise floor (sub-second timings jitter from scheduling
alone, see BASELINE.md, so they can't gate at a ratio), both scaled by
the run's ``host_drift``. Queries new since the freeze are reported
informationally, never failed. The freeze's ``sf`` and ``cpus`` must
equal the run's (the ``sf<N>`` name of $SPARK_GRAFT_SF_DIR, and
$SPARK_GRAFT_CPUS); otherwise it exits 2 before the session starts,
like an unknown query name: timings at another scale or core count say
nothing about this one.

Would-be regressions get one ISOLATION RETRY (best of three, in a FRESH
JVM at the end of the suite) before the gate fails. Against the 4-core
freeze, 2 of 6 full ``--check`` runs of unchanged code flagged 6 and 7
rows, each set one stretch of consecutive suite rows at 1.3-5.3x the
freeze while ``host_drift`` read 1.07-1.09; the one run sampled had
7-20% hypervisor steal while its stretch ran (BASELINE.md, "Round-15
host re-freeze"). A long session also slows late queries from
accumulated driver/codegen state, which an in-JVM retry would inherit
(measured: 4.0 s in-JVM retry vs 0.95 s fresh, identical code). A
genuine plan regression reproduces in the fresh JVM too; a steal window
does not. Retried names are recorded in the JSON (``isolation_retried``)
so a pass never hides that a retry happened.

The record also carries a ``calibration`` block (host_drift vs the
committed freeze, the core count, 1/5/15-min load averages around the
run) so a reader can adjudicate host noise from the artifact alone: a
drift near 1.0x and load << cpus mean per-query ratios are believable;
load >> cpus means the run measured the neighbors, not the code.

``--plans DIR`` writes DIR/<name>.txt with each query's
``explain("formatted")`` text once all timing (and the gate's retry) is
done, so dumping plans moves no timing. Diffing two such directories
(after masking expression ids) shows whether a refactor changed a plan.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from cdc_pipeline_spark.session import create_spark_session
from cdc_pipeline_spark import workload
from perfbench.common import forced, warm_workers

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))


def _session(app_name: str):
    """A local[CPUS] session warmed before anything is timed: the
    JVM/codegen once on the smallest SF, so per-query numbers measure
    the plan, not first-run JIT, then the Python worker pool, so the
    first Arrow query doesn't absorb the one-time spawn cost. The pool
    is warmed to one worker per host core (nproc): with CPUS above
    nproc, the first Arrow row also pays the remaining worker spawns."""
    spark = create_spark_session(
        app_name=app_name,
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")
    forced(workload.QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")).collect()
    warm_workers(spark)
    return spark


def _best_of(spark, name: str, runs: int, sf_dir: str) -> float:
    best = None
    for _ in range(runs):
        start = time.perf_counter()
        forced(workload.QUERIES[name](spark, sf_dir)).collect()
        elapsed = time.perf_counter() - start
        best = elapsed if best is None else min(best, elapsed)
    return best


def _write_plans(spark, names: list[str], out_dir: str) -> None:
    """DIR/<name>.txt: each query's ``explain("formatted")`` text."""
    os.makedirs(out_dir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names:
        df = workload.QUERIES[name](spark, SF_DIR)
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(df._jdf.queryExecution().explainString(mode))


# Suite order: these rows run first, in this order, then every other
# registered query alphabetically. The order is not cosmetic: a long
# session slows the queries that run late in it (late-suite aging), so
# the per-query freeze in BASELINE_QUERIES.json holds only for the order
# it was measured in. Editing this list moves queries within the suite;
# re-freeze the rows it moves.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_volume",
    "kpi_sliding_window",
    "traffic_tumbling_count",
    "health_conditional_avg",
    "platform_breakdown",
    "geo_header_load",
    "customer_region_enrichment",
    "cdc_latest_state",
    "grouped_topk_events",
    "hourly_value_trend",
    "embedding_neardup_pairs",
    "embedding_neardup_lsh",
    "docs_incremental_neardup",
]


REGRESSION_RATIO = 1.5
NOISE_FLOOR_SEC = 1.0


def load_baseline(path: str) -> tuple[float | None, int | None, dict[str, float]]:
    """The freeze's scale factor, core count and per-query timings from
    BASELINE_QUERIES.json ({"sf": 0.1, "cpus": 4, "queries": {name: sec}})."""
    with open(path) as fh:
        doc = json.load(fh)
    queries = {str(k): float(v) for k, v in doc["queries"].items()}
    return doc.get("sf"), doc.get("cpus"), queries


def host_drift(timings: dict[str, float], baseline: dict[str, float]) -> float:
    """Calibration factor for UNIFORM host-speed drift: the median
    measured/frozen ratio over every comparable query, floored at 1.0.

    The freeze ran on a particular machine at a particular load; a
    shared host that is globally 1.3× slower months later would flag
    dozens of phantom "regressions" under a raw per-query ratio (seen
    live mid-round-5: median 1.27×, 23 untouched queries over the raw
    gate, including pure TPC-H joins whose code hadn't changed in
    rounds). The MEDIAN is the right normalizer: a real regression
    moves one query's ratio, not the median of 150 — so dividing by it
    preserves per-query sensitivity while cancelling fleet-wide drift.
    Floored at 1.0 so a FASTER host never loosens the gate's absolute
    meaning (everything simply passes more easily, which is fine)."""
    ratios = sorted(
        timings[n] / baseline[n] for n in timings if n in baseline and baseline[n] > 0
    )
    if not ratios:
        return 1.0
    mid = len(ratios) // 2
    med = ratios[mid] if len(ratios) % 2 else (ratios[mid - 1] + ratios[mid]) / 2
    return max(1.0, med)


def find_regressions(
    timings: dict[str, float],
    baseline: dict[str, float],
    drift: float | None = None,
) -> tuple[dict[str, tuple[float, float]], list[str], float]:
    """(regressions {name: (measured, frozen)}, new-query names, drift).

    A query regresses when measured > REGRESSION_RATIO x drift x frozen
    AND measured exceeds the drift-scaled NOISE_FLOOR_SEC — sub-second
    timings jitter from scheduling alone, so a pure ratio would flag
    noise, and `host_drift` cancels uniform machine-speed shifts since
    the freeze (a genuine single-query regression still stands out
    against the median). Pass ``drift`` to pin a previously computed
    ratio — the isolation-retry pass must re-evaluate under the SAME
    drift it selected retries with, or lowering the retried timings
    would lower the median and flag a query that never got its retry.
    """
    if drift is None:
        drift = host_drift(timings, baseline)
    regressions: dict[str, tuple[float, float]] = {}
    new: list[str] = []
    for name, measured in timings.items():
        frozen = baseline.get(name)
        if frozen is None:
            new.append(name)
        elif measured > REGRESSION_RATIO * drift * frozen and measured > NOISE_FLOOR_SEC * drift:
            regressions[name] = (measured, frozen)
    return regressions, new, drift


def _retry(names: list[str], sf_dir: str) -> None:
    """Isolation-retry body, run by :func:`_subprocess_retry` in a fresh
    process: prints {name: best_sec} as one JSON line. Best of THREE,
    not two: the first run pays plan analysis/codegen (measured
    1.7-2.3s vs 0.8-1.0s steady for HOF-heavy queries), so best-of-2
    leaves a single steady draw and its jitter false-flags sub-2s rows;
    two steady draws make the min a real steady-state reading. Cost is
    one extra run, only for flagged queries."""
    spark = _session("cdc-pipeline-spark-bench-retry")
    print(json.dumps({name: _best_of(spark, name, 3, sf_dir) for name in names}))


def _subprocess_retry(names: list[str]) -> dict[str, float]:
    """Best-of-three re-measurement of flagged queries at ``SF_DIR`` in
    a brand-new Python process (hence a brand-new py4j gateway JVM),
    warmed the same way the suite is. Returns {} on any failure — the
    gate then judges the in-suite numbers, never silently passes."""
    import subprocess

    try:
        proc = subprocess.run(
            [sys.executable, "-c", f"import bench; bench._retry({names!r}, {SF_DIR!r})"],
            capture_output=True,
            text=True,
            timeout=1800,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
        if proc.returncode != 0 or not lines:
            print(
                f"# isolation-retry subprocess failed rc={proc.returncode}: "
                f"{proc.stderr[-500:]}",
                file=sys.stderr,
            )
            return {}
        return {k: float(v) for k, v in json.loads(lines[-1]).items()}
    except (OSError, subprocess.TimeoutExpired, ValueError) as exc:
        print(f"# isolation-retry subprocess error: {exc}", file=sys.stderr)
        return {}


def main() -> None:
    default_baseline = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BASELINE_QUERIES.json"
    )
    parser = argparse.ArgumentParser(
        description="Time the workload.QUERIES suite; print one JSON record."
    )
    parser.add_argument(
        "--check", nargs="?", const=default_baseline, metavar="BASELINE_QUERIES.json",
        help="gate every query against a frozen per-query baseline; exit 1 on regression",
    )
    parser.add_argument(
        "--plans", metavar="DIR",
        help="after timing, write DIR/<name>.txt with each query's formatted plan",
    )
    parser.add_argument("names", nargs="*", help="run only these queries (default: all)")
    args = parser.parse_args()
    unknown = [n for n in args.names if n not in workload.QUERIES]
    if unknown:
        parser.error(f"unknown queries: {' '.join(unknown)}")
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else None
    cpus = int(CPUS)
    # load BEFORE the multi-minute run: a typo'd path, or a freeze of
    # another scale factor or core count (its timings say nothing about
    # this run), must fail in milliseconds, not after the whole
    # benchmark ran
    baseline = None
    if args.check:
        baseline_sf, baseline_cpus, baseline = load_baseline(args.check)
        if baseline_sf != sf:
            parser.error(f"--check: this run is at sf {sf}, {args.check} froze sf {baseline_sf}")
        if baseline_cpus != cpus:
            parser.error(
                f"--check: this run is on {cpus} cpus, {args.check} froze {baseline_cpus} cpus"
            )
    # calibration baseline: even WITHOUT --check, load the default
    # freeze if present so the record carries its own host drift and
    # can be adjudicated without a fresh probe; at another scale factor
    # or core count its ratios would read as phantom speedups or
    # slowdowns, so only load averages are emitted there
    calib_baseline = baseline
    if calib_baseline is None:
        try:
            calib_sf, calib_cpus, calib_baseline = load_baseline(default_baseline)
        except (OSError, ValueError, KeyError):
            calib_baseline = None
        else:
            if (calib_sf, calib_cpus) != (sf, cpus):
                calib_baseline = None
    try:
        loadavg_start: tuple[float, ...] | None = os.getloadavg()
    except OSError:
        loadavg_start = None
    names = [n for n in HEADLINE if n in workload.QUERIES]
    names += [n for n in sorted(workload.QUERIES) if n not in names]
    if args.names:
        names = [n for n in names if n in args.names]
    spark = _session("cdc-pipeline-spark-bench")

    timings: dict[str, float] = {}
    total = 0.0
    for name in names:
        # best of two runs: the first run pays plan compilation/codegen,
        # the second measures the steady-state plan — which is what a
        # resident engine re-executing a query shape actually costs
        timings[name] = round(_best_of(spark, name, 2, SF_DIR), 3)
        total += timings[name]
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)

    # Isolation retry for would-be regressions: a flag from the in-suite
    # pass alone can measure a steal window or an aged JVM, not the
    # plan, and a genuine plan regression reproduces on a re-measure in
    # a fresh JVM (a subprocess: PySpark's py4j gateway JVM survives a
    # SparkContext stop, so an in-process "fresh" session inherits the
    # aged JVM). Keep the better of the two measurements, the same
    # steady-state philosophy as best-of-two. Gate timings are a
    # SEPARATE view: the record keeps the in-suite best-of-2 for every
    # query, so a retried query never gets a tighter freeze than its
    # never-flagged peers, and the drift is pinned from the in-suite
    # pass so retries lowering the median cannot move the threshold
    # under a query that never got its retry.
    retried: list[str] = []
    gate_timings = dict(timings)
    drift0: float | None = None
    if baseline is not None:
        pre, _, drift0 = find_regressions(timings, baseline)
        if pre:
            retry_timings = _subprocess_retry(sorted(pre))
            for name in sorted(pre):
                fresh_best = retry_timings.get(name)
                if fresh_best is not None:
                    gate_timings[name] = min(timings[name], round(fresh_best, 3))
                retried.append(name)
                print(
                    f"# isolation retry {name}: {gate_timings[name]:.3f}s",
                    file=sys.stderr,
                )

    doc = {
        "metric": "workload_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if retried:
        doc["isolation_retried"] = retried
    try:
        loadavg_end: tuple[float, ...] | None = os.getloadavg()
    except OSError:
        loadavg_end = None
    calibration: dict = {
        "loadavg_start": list(loadavg_start) if loadavg_start else None,
        "loadavg_end": list(loadavg_end) if loadavg_end else None,
        "cpus": cpus,
    }
    if calib_baseline is not None:
        calibration["host_drift"] = round(host_drift(timings, calib_baseline), 3)
    doc["calibration"] = calibration
    if baseline is not None:
        regressions, new, drift = find_regressions(
            gate_timings, baseline, drift=drift0
        )
        doc["gate"] = {
            "gated": len(timings) - len(new),
            "new": len(new),
            "regressions": sorted(regressions),
            "drift": round(drift, 3),
        }
    print(json.dumps(doc))
    if args.plans:
        _write_plans(spark, names, args.plans)
    spark.stop()

    if baseline is not None:
        print(f"# host drift vs freeze (median ratio): {drift:.2f}x", file=sys.stderr)
        if loadavg_start and loadavg_end:
            print(
                f"# loadavg start {loadavg_start} -> end {loadavg_end} "
                f"on {CPUS} cpus",
                file=sys.stderr,
            )
        for name in new:
            print(f"# new since freeze (not gated): {name}", file=sys.stderr)
        for name, (measured, frozen) in sorted(regressions.items()):
            print(
                f"REGRESSION {name}: {measured:.3f}s vs frozen {frozen:.3f}s "
                f"({measured / frozen:.2f}x > {REGRESSION_RATIO}x·{drift:.2f}x drift)",
                file=sys.stderr,
            )
        if regressions:
            sys.exit(1)
        print(
            f"# regression gate: OK ({len(timings) - len(new)} gated, "
            f"{len(new)} new)",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
