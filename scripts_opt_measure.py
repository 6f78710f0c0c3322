#!/usr/bin/env python
"""Optimization measurement harness.

Times selected queries (bench methodology: ``bench._best_of``, best-of-N)
and captures ``explain("formatted")`` text, in ONE session warmed the
way ``bench.py`` warms it — the same conditions a mid-suite bench
reading sees, minus neighbors. The plans under ``plans/`` come from it.

Usage:
    python scripts_opt_measure.py [--sf DIR] [--n N] [--plans OUTDIR] \
        [--label SUFFIX] name [name ...]
    python scripts_opt_measure.py --top K        # K slowest from BENCH_LOCAL_r11.json

With --plans, writes OUTDIR/<name>_<SUFFIX>.txt (default suffix
"before") containing the formatted plan. Prints one JSON line at the
end: {"timings": {name: best_sec}, "n": N}.
"""

from __future__ import annotations

import json
import os
import sys

from bench import _best_of, _session
from cdc_pipeline_spark import workload

SF_DIR = "/root/testdata/sf0.1"


def _explain_formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    args = sys.argv[1:]
    n_runs = 3
    plans_dir = None
    label = "before"
    top_k = 0
    names: list[str] = []
    global SF_DIR
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            SF_DIR = args[i + 1]; i += 2
        elif a == "--n":
            n_runs = int(args[i + 1]); i += 2
        elif a == "--plans":
            plans_dir = args[i + 1]; i += 2
        elif a == "--label":
            label = args[i + 1]; i += 2
        elif a == "--top":
            top_k = int(args[i + 1]); i += 2
        else:
            names.append(a); i += 1
    if top_k:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_LOCAL_r11.json")) as fh:
            base = json.load(fh)["queries"]
        names += [k for k, _ in sorted(base.items(), key=lambda kv: -kv[1])[:top_k]
                  if k not in names]

    spark = _session("opt-measure")

    timings: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"opt-measure: {name}")
        timings[name] = round(_best_of(spark, name, n_runs, SF_DIR), 3)
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr, flush=True)
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            df = workload.QUERIES[name](spark, SF_DIR)
            with open(os.path.join(plans_dir, f"{name}_{label}.txt"), "w") as fh:
                fh.write(_explain_formatted(df))
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"timings": timings, "n": n_runs, "sf": SF_DIR}))


if __name__ == "__main__":
    main()
