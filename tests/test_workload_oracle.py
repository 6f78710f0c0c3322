"""Every oracle-backed workload query must match DuckDB at sf0.001.

This is the local replica of the driver's t2 gate (the driver runs
sf0.01; sf0.001 keeps the suite fast — run
``SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 pytest`` for the full check).
"""

from __future__ import annotations

import os

import pytest

from cdc_pipeline_spark import workload
from tests.oracle import compare, rows_only_check

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

ORACLE_QUERIES = sorted(workload.ORACLE_SQL.keys())


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, name):
    problems = compare(spark, workload.QUERIES[name], workload.ORACLE_SQL[name], SF_DIR)
    assert not problems, f"{name}: " + "; ".join(problems)


NO_ORACLE_QUERIES = sorted(set(workload.QUERIES) - set(workload.ORACLE_SQL))


@pytest.mark.parametrize("name", NO_ORACLE_QUERIES)
def test_rows_only_queries_execute(spark, name):
    """Queries without an oracle must survive the driver's rows-only
    canonicalization (collect + pandas sort/factorize), not just
    execute — round 1's winnowing array column passed `.count()` locally
    but crashed the real gate."""
    assert rows_only_check(spark, workload.QUERIES[name], SF_DIR) >= 0


def test_driver_window_is_exactly_fifty():
    """The correctness driver re-checks only the FIRST 50 registered
    queries. The priority list must therefore hold exactly 50 names —
    a longer list silently parks its tail outside the window while
    still reading as 'covered' (review batch 4 finding). Carryover
    names are tracked separately and must directly follow the window."""
    assert len(workload._DRIVER_WINDOW_PRIORITY) == 50
    regs = list(workload.QUERIES)
    assert regs[:50] == workload._DRIVER_WINDOW_PRIORITY
    n_carry = len(workload._DRIVER_WINDOW_CARRYOVER)
    assert regs[50 : 50 + n_carry] == workload._DRIVER_WINDOW_CARRYOVER
    # EVERY registered query must appear in one of the two lists: the
    # stated invariant is that rotation position is a recorded decision,
    # never silent registration-order fallthrough (round-5 review finding)
    listed = workload._DRIVER_WINDOW_PRIORITY + workload._DRIVER_WINDOW_CARRYOVER
    assert len(listed) == len(set(listed)), "duplicate names across window lists"
    assert set(listed) == set(workload.QUERIES)
    assert set(workload.QUERIES) == set(workload.ORACLE_SQL)


def test_format_mirrors_are_removed_at_process_exit(tmp_path):
    """The ORC/XML mirror queries write a per-process copy under
    $TMPDIR; the process must remove it when it exits, or every driver
    that runs them leaves its copy behind. The copy of a process killed
    before its exit goes when the next process makes its first mirror."""
    import json
    import subprocess
    import sys

    finished = subprocess.Popen(["true"])
    finished.wait()
    stale = tmp_path / "cdc-spark-format-mirrors" / f"sf0.001-000000000000-pid{finished.pid}"
    (stale / "orc").mkdir(parents=True)

    child = f"""
import json, os
from cdc_pipeline_spark import workload
from cdc_pipeline_spark.session import create_spark_session
spark = create_spark_session(app_name="mirror-exit", master="local[2]", shuffle_partitions=2)
for name in ("nations_from_xml", "orders_priority_from_orc"):
    workload.QUERIES[name](spark, {SF_DIR!r}).collect()
root = os.path.join({str(tmp_path)!r}, "cdc-spark-format-mirrors")
print(json.dumps({{"pid": os.getpid(), "made": sorted(os.listdir(root))}}))
spark.stop()
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", child],
        cwd=repo, env=dict(os.environ, TMPDIR=str(tmp_path)),
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])
    suffix = f"-pid{out['pid']}"
    assert [d for d in out["made"] if d.endswith(suffix)], out
    left = list((tmp_path / "cdc-spark-format-mirrors").glob(f"*{suffix}"))
    assert not left, left
    assert not stale.exists()
