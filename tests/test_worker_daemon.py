"""Contract of the preloaded worker daemon (``cdc_pipeline_spark.worker_daemon``).

Factory sessions fork Python workers from a daemon that imported the
Arrow/pandas stack and froze its heap; these tests pin that the workers
really come from it, that they import PySpark from its installed copy
rather than Spark's zip (and when the daemon may choose that copy),
that it resolves from any working directory, and that a failed worker
is replaced by another fork of it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from cdc_pipeline_spark.worker_daemon import prefer_installed_pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _probe(spark):
    """Rows 0..7 over four tasks, each tagged with its worker's pid,
    frozen-object count, whether pyarrow was loaded when the task's
    function was entered, the file ``pyspark`` was imported from and how
    many loaded modules came out of a zip. (Nested, so cloudpickle ships
    it by value: the workers cannot import this test module.)"""

    def probe(batches):
        import gc

        import pandas as pd
        import pyspark

        freeze, pyarrow = gc.get_freeze_count(), "pyarrow" in sys.modules
        zipped = sum(".zip" + os.sep in (getattr(m, "__file__", None) or "") for m in list(sys.modules.values()))
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "freeze": freeze,
                    "pyarrow": pyarrow,
                    "pid": os.getpid(),
                    "pyspark_file": pyspark.__file__,
                    "zipped": zipped,
                }
            )

    df = spark.range(8, numPartitions=4)
    schema = "id long, freeze long, pyarrow boolean, pid long, pyspark_file string, zipped long"
    rows = df.mapInPandas(probe, schema).collect()
    assert sorted(r.id for r in rows) == list(range(8))
    return rows


def test_workers_fork_from_frozen_preloaded_heap(spark):
    """Workers inherit the daemon's frozen Arrow stack, and its PySpark:
    Spark puts ``pyspark.zip`` first on their path, but the daemon
    imports the driver's same-version installed copy, so no module is
    compiled out of a zip."""
    import pyspark

    rows = _probe(spark)
    assert all(r.freeze > 0 for r in rows), rows
    assert all(r.pyarrow for r in rows), rows
    assert {r.pyspark_file for r in rows} == {pyspark.__file__}, rows
    assert all(r.zipped == 0 for r in rows), rows


def _version_py(version):
    return f"__version__: str = {version!r}\n"


@pytest.mark.parametrize(
    "installed, moved",
    [
        ({"__init__.py": "", "version.py": _version_py("4.1.2")}, True),
        ({"__init__.py": "", "version.py": _version_py("4.0.1")}, False),
        ({}, False),
        ({"version.py": _version_py("4.1.2")}, False),
    ],
    ids=["same-version", "other-version", "no-installed-copy", "namespace-dir"],
)
def test_spark_zips_move_behind_a_same_version_installed_copy(tmp_path, installed, moved):
    """A fake ``$SPARK_HOME/python/lib`` holds ``pyspark.zip`` at 4.1.2,
    a py4j zip and a jar; ``site`` holds the given ``pyspark/`` files."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/version.py", _version_py("4.1.2"))
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    (lib / "spark-core.jar").write_bytes(b"")
    (tmp_path / "site").mkdir()
    if installed:
        (tmp_path / "site" / "pyspark").mkdir()
    for name, text in installed.items():
        (tmp_path / "site" / "pyspark" / name).write_text(text)

    pyspark_zip, py4j_zip, jar, site = (
        str(p) for p in (lib / "pyspark.zip", lib / "py4j-0.10.9.9-src.zip", lib / "spark-core.jar", tmp_path / "site")
    )
    path = [pyspark_zip, py4j_zip, jar, site]
    reordered = prefer_installed_pyspark(path, str(tmp_path / "spark"))
    assert reordered == ([jar, site, pyspark_zip, py4j_zip] if moved else path)
    assert prefer_installed_pyspark(path, None) == path


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


def test_package_import_leaves_pyspark_unloaded():
    """``python -m cdc_pipeline_spark.worker_daemon`` runs the package
    ``__init__`` before the daemon can reorder ``sys.path``; an eager
    PySpark import there would load it from Spark's zip again."""
    snippet = "import sys, cdc_pipeline_spark; print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"
    proc = subprocess.run(
        [sys.executable, "-c", snippet],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip() == "[]"
