"""Contract of the preloaded worker daemon (``cdc_pipeline_spark.worker_daemon``).

Factory sessions fork Python workers from a daemon that imported the
Arrow/pandas stack and froze its heap; these tests pin that the workers
really come from it, that it resolves from any working directory, and
that a failed worker is replaced by another fork of it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _probe(spark):
    """Rows 0..7 over four tasks, each tagged with its worker's pid,
    frozen-object count and whether pyarrow was loaded when the task's
    function was entered. (Nested, so cloudpickle ships it by value: the
    workers cannot import this test module.)"""

    def probe(batches):
        import gc

        import pandas as pd

        freeze, pyarrow = gc.get_freeze_count(), "pyarrow" in sys.modules
        for pdf in batches:
            yield pd.DataFrame({"id": pdf["id"], "freeze": freeze, "pyarrow": pyarrow, "pid": os.getpid()})

    df = spark.range(8, numPartitions=4)
    rows = df.mapInPandas(probe, "id long, freeze long, pyarrow boolean, pid long").collect()
    assert sorted(r.id for r in rows) == list(range(8))
    return rows


def test_workers_fork_from_frozen_preloaded_heap(spark):
    rows = _probe(spark)
    assert all(r.freeze > 0 for r in rows), rows
    assert all(r.pyarrow for r in rows), rows


_FOREIGN_CWD = """
import gc, json, os, sys
sys.path.insert(0, {repo!r})
from cdc_pipeline_spark.session import create_spark_session

def double(batches):
    for pdf in batches:
        pdf["twice"] = pdf["id"] * 2
        pdf["freeze"] = gc.get_freeze_count()
        yield pdf

spark = create_spark_session(app_name="foreign-cwd", master="local[2]", shuffle_partitions=2)
rows = spark.range(6, numPartitions=2).mapInPandas(double, "id long, twice long, freeze long").collect()
spark.stop()
print(json.dumps({{"cwd": os.getcwd(), "rows": sorted([r.id, r.twice, r.freeze > 0] for r in rows)}}))
"""


def test_daemon_resolves_from_a_foreign_working_directory(tmp_path):
    """A driver whose cwd is not the repo and whose PYTHONPATH is unset
    finds the package only through ``sys.path.insert``; the factory's
    ``spark.executorEnv.PYTHONPATH`` entry is what lets the daemon
    module start."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD.format(repo=REPO)],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["cwd"] == str(tmp_path)
    assert out["rows"] == [[i, 2 * i, True] for i in range(6)]


def test_failed_worker_is_replaced_by_a_preloaded_fork(spark, tmp_path):
    """A UDF that raises fails its own query and takes its worker down;
    the next query in the same session gets correct rows from workers
    that are still forks of the preloaded daemon."""
    pid_file = str(tmp_path / "failed.pid")

    def boom(batches):
        with open(pid_file, "w") as fh:
            fh.write(str(os.getpid()))
        raise ValueError("worker-daemon-recovery-probe")
        yield from batches

    one = spark.range(1, numPartitions=1)
    with pytest.raises(Exception, match="worker-daemon-recovery-probe"):
        one.mapInPandas(boom, one.schema).collect()
    with open(pid_file) as fh:
        failed_pid = int(fh.read())

    rows = _probe(spark)
    assert all(r.freeze > 0 and r.pyarrow for r in rows), rows
    assert failed_pid not in {r.pid for r in rows}
