#!/usr/bin/env python
"""Benchmark harness for the ``workload.QUERIES`` suite.

Runs every registered query (or only the ones named on the command
line, still in suite order) twice at $SPARK_GRAFT_SF_DIR (default: the
sf0.1 test data, see ``SF_DIR``) on local[$SPARK_GRAFT_CPUS] (default:
every core of the host) and prints ONE JSON line to stdout. Progress
goes to stderr; nothing is written into the checkout.

    python bench.py [--check [BASELINE_QUERIES.json]] [--plans DIR] [name ...]

The record's keys are stable; each is always present unless noted:

- ``metric``: ``"workload_wall_sec"``; ``unit``: ``"sec"``.
- ``value``: the sum of ``queries``, in seconds.
- ``queries``: {name: wall seconds}, the faster of the row's two runs.
- ``cpu``: {name: CPU seconds}, the smaller of the row's two runs' CPU
  time: this process and its descendants (the JVM, the Python worker
  daemons), without the JVM's JIT compiler threads
  (``perfbench.common.CpuMeter``).
- ``sf``: the scale factor, the ``sf<N>`` suffix of
  $SPARK_GRAFT_SF_DIR; null when the path has none.
- ``calibration``: ``cpus`` (the core count); ``loadavg_start`` and
  ``loadavg_end`` (1/5/15-min load averages, null where the OS has
  none); ``steal_s`` (CPU seconds the hypervisor gave other guests
  from session start to the last row, summed over the host's cores,
  ``perfbench.common.steal_s``); and ``host_drift``, only when the
  run's ``sf`` and ``cpus`` match the default freeze and it has ``cpu``.
- ``gate``, under ``--check`` only: ``gated`` and ``new`` (counts of
  rows with and without a frozen CPU time), ``regressions`` (names)
  and ``drift`` (the ``host_drift`` the gate applied).

Each query is forced with ``perfbench.common.forced``, i.e.
``agg(bit_xor(xxhash64(struct(*))))`` — a one-row collect that still
evaluates EVERY output column (bit_xor, not sum: summing 64-bit hashes
overflows under ANSI mode). A bare ``count()`` would let Catalyst prune
unreferenced projections, so projection-heavy queries (text features,
winnowing) would measure the scan instead of their expressions.

``--check [PATH]`` (default BASELINE_QUERIES.json next to this file)
additionally compares every row's CPU time with the freeze's ``cpu``
map and exits 1 on regression: measured > ``REGRESSION_RATIO`` x frozen
AND measured above ``NOISE_FLOOR_SEC`` (short rows jitter from
scheduling alone, see BASELINE.md, so they can't gate at a ratio),
both scaled by the run's ``host_drift``. Queries new since the freeze
are reported, never failed. The freeze must have ``cpu``, and its
``sf`` and ``cpus`` must equal the run's; otherwise it exits 2 before
the session starts, like an unknown query name: timings at another
scale or core count say nothing about this one.

The gate reads CPU time, not wall time. The kernel charges time the
hypervisor steals to no process, so a window of steal stretches the
wall time of the rows it overlaps (1.3-5.3x the freeze in two of six
4-core gate runs, BASELINE.md "Round-15 host re-freeze") but not
their CPU, while a plan regression costs CPU wherever it runs.
``steal_s`` says how contended the host was; BASELINE.md "Round-20
CPU freeze" has the spread the ratio and floor are set from.

``--plans DIR`` writes DIR/<name>.txt with each query's
``explain("formatted")`` text once all timing is done, so dumping
plans moves no timing. Diffing two such directories (after masking
expression ids) shows whether a refactor changed a plan.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from cdc_pipeline_spark.session import create_spark_session
from cdc_pipeline_spark import workload
from perfbench.common import CpuMeter, forced, steal_s, warm_workers

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))


def _session():
    """A local[CPUS] session warmed before anything is timed: the
    JVM/codegen once on the smallest SF, so per-query numbers measure
    the plan, not first-run JIT, then the Python worker pool, so the
    first Arrow query doesn't absorb the one-time spawn cost. The pool
    is warmed to one worker per host core (nproc): with CPUS above
    nproc, the first Arrow row also pays the remaining worker spawns."""
    spark = create_spark_session(
        app_name="cdc-pipeline-spark-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")
    forced(workload.QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")).collect()
    warm_workers(spark)
    return spark


def _best_of_two(spark, name: str, meter: CpuMeter) -> tuple[float, float]:
    """(wall s, CPU s), each the smaller of two runs: the first run pays
    plan compilation/codegen, the second measures the steady-state plan,
    which is what a resident engine re-executing a query shape costs.
    The meter's /proc walk stays outside the wall timer."""
    walls, cpus = [], []
    for _ in range(2):
        cpu0 = meter()
        start = time.perf_counter()
        forced(workload.QUERIES[name](spark, SF_DIR)).collect()
        walls.append(time.perf_counter() - start)
        cpus.append(meter() - cpu0)
    return min(walls), min(cpus)


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


REGRESSION_RATIO = 2.0
NOISE_FLOOR_SEC = 2.0


def load_baseline(path: str) -> tuple[float | None, int | None, dict[str, float] | None]:
    """The freeze's scale factor, core count and per-query CPU seconds
    (None when it has no ``cpu`` map) from BASELINE_QUERIES.json
    ({"sf": 0.1, "cpus": 4, "cpu": {name: sec}, ...})."""
    with open(path) as fh:
        doc = json.load(fh)
    cpu = doc.get("cpu")
    if cpu is not None:
        cpu = {str(k): float(v) for k, v in cpu.items()}
    return doc.get("sf"), doc.get("cpus"), cpu


def host_drift(timings: dict[str, float], baseline: dict[str, float]) -> float:
    """Calibration factor for UNIFORM host-speed drift: the median
    measured/frozen CPU ratio over every comparable query, floored at 1.0.

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
    timings: dict[str, float], baseline: dict[str, float]
) -> tuple[dict[str, tuple[float, float]], list[str], float]:
    """(regressions {name: (measured, frozen)}, new-query names, drift),
    over CPU seconds.

    A query regresses when measured > REGRESSION_RATIO x drift x frozen
    AND measured exceeds the drift-scaled NOISE_FLOOR_SEC — short rows
    jitter from scheduling alone, so a pure ratio would flag noise, and
    `host_drift` cancels uniform machine-speed shifts since the freeze
    (a genuine single-query regression still stands out against the
    median).
    """
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
        if baseline is None:
            parser.error(f"--check: {args.check} has no per-query \"cpu\" map to gate on")
    # calibration baseline: even WITHOUT --check, load the default
    # freeze if present so the record carries its own host drift and
    # can be adjudicated without a fresh probe; at another scale factor
    # or core count its ratios would read as phantom speedups or
    # slowdowns, so only load averages and steal are emitted there
    calib_baseline = baseline
    if calib_baseline is None:
        try:
            calib_sf, calib_cpus, calib_baseline = load_baseline(default_baseline)
        except (OSError, ValueError):
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
    steal0 = steal_s()
    spark = _session()

    meter = CpuMeter(set())
    timings: dict[str, float] = {}
    cpu: dict[str, float] = {}
    for name in names:
        wall, used = _best_of_two(spark, name, meter)
        timings[name], cpu[name] = round(wall, 3), round(used, 3)
        print(f"# {name}: {wall:.3f}s wall, {used:.3f}s cpu", file=sys.stderr)
    steal = round(steal_s() - steal0, 2)

    doc = {
        "metric": "workload_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "cpu": cpu,
        "sf": sf,
    }
    try:
        loadavg_end: tuple[float, ...] | None = os.getloadavg()
    except OSError:
        loadavg_end = None
    calibration: dict = {
        "loadavg_start": list(loadavg_start) if loadavg_start else None,
        "loadavg_end": list(loadavg_end) if loadavg_end else None,
        "cpus": cpus,
        "steal_s": steal,
    }
    if calib_baseline is not None:
        calibration["host_drift"] = round(host_drift(cpu, calib_baseline), 3)
    doc["calibration"] = calibration
    if baseline is not None:
        regressions, new, drift = find_regressions(cpu, baseline)
        doc["gate"] = {
            "gated": len(cpu) - len(new),
            "new": len(new),
            "regressions": sorted(regressions),
            "drift": round(drift, 3),
        }
    print(json.dumps(doc))
    if args.plans:
        _write_plans(spark, names, args.plans)
    spark.stop()

    if baseline is not None:
        print(
            f"# host drift vs freeze (median CPU ratio): {drift:.2f}x; "
            f"steal {steal:.1f}s; loadavg start {loadavg_start} -> end {loadavg_end} "
            f"on {CPUS} cpus",
            file=sys.stderr,
        )
        for name in new:
            print(f"# new since freeze (not gated): {name}", file=sys.stderr)
        for name, (measured, frozen) in sorted(regressions.items()):
            print(
                f"REGRESSION {name}: {measured:.3f}s cpu vs frozen {frozen:.3f}s "
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
