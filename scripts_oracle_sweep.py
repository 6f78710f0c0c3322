#!/usr/bin/env python
"""One-off: run the driver-style oracle compare for EVERY registered
query at a given sf (default sf0.01 — the driver's correctness scale).
Prints one line per query; exits nonzero if any mismatch.

Usage: python scripts_oracle_sweep.py [sf_dir] [first_n]
"""
from __future__ import annotations

import sys
import time

sys.path.insert(0, "tests")
from oracle import compare  # noqa: E402

from cdc_pipeline_spark import workload  # noqa: E402
from cdc_pipeline_spark.session import create_spark_session  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
FIRST_N = int(sys.argv[2]) if len(sys.argv) > 2 else 0

def main() -> int:
    spark = create_spark_session(app_name="oracle-sweep", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    names = list(workload.QUERIES)
    if FIRST_N:
        names = names[:FIRST_N]
    bad = []
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            if name in workload.ORACLE_SQL:
                problems = compare(spark, workload.QUERIES[name], workload.ORACLE_SQL[name], SF_DIR)
            else:
                from oracle import rows_only_check
                rows_only_check(spark, workload.QUERIES[name], SF_DIR)
                problems = []
        except Exception as e:  # noqa: BLE001
            problems = [f"EXC {type(e).__name__}: {e}"]
        dt = time.time() - t0
        status = "ok" if not problems else "FAIL"
        print(f"[{i+1}/{len(names)}] {status} {name} ({dt:.1f}s)", flush=True)
        if problems:
            bad.append(name)
            for p in problems:
                print("    " + str(p)[:500], flush=True)
    print(f"\n{len(names)-len(bad)}/{len(names)} ok; failures: {bad}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
