"""Contract of the preloaded worker daemon (``cdc_pipeline_spark.worker_daemon``).

Factory sessions fork Python workers from a daemon that imported the
Arrow/pandas stack and froze its heap; these tests pin that the workers
really come from it, that they import PySpark from its installed copy
rather than Spark's zip, that they hold no ``zipimporter`` for a task's
``importlib.invalidate_caches()`` to re-read (and when the daemon may
drop Spark's archives from the path), that it resolves from any working
directory, and that a failed worker is replaced by another fork of it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from cdc_pipeline_spark.worker_daemon import redundant_spark_archives

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _probe(spark):
    """Rows 0..7 over four tasks, each tagged with its worker's pid,
    frozen-object count, whether its garbage collector is on, whether
    pyarrow was loaded when the task's
    function was entered, the file ``pyspark`` was imported from, how
    many loaded modules came out of a zip, and (as JSON lists) the keys
    of its cached ``zipimporter``s and its ``sys.path``. (Nested, so
    cloudpickle ships it by value: the workers cannot import this test
    module.)"""

    def probe(batches):
        import gc
        import zipimport

        import pandas as pd
        import pyspark

        freeze, gc_on, pyarrow = gc.get_freeze_count(), gc.isenabled(), "pyarrow" in sys.modules
        zipped = sum(".zip" + os.sep in (getattr(m, "__file__", None) or "") for m in list(sys.modules.values()))
        importers = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "freeze": freeze,
                    "gc_on": gc_on,
                    "pyarrow": pyarrow,
                    "pid": os.getpid(),
                    "pyspark_file": pyspark.__file__,
                    "zipped": zipped,
                    "zipimporters": json.dumps(importers),
                    "path": json.dumps(sys.path),
                }
            )

    df = spark.range(8, numPartitions=4)
    schema = (
        "id long, freeze long, gc_on boolean, pyarrow boolean, pid long, pyspark_file string, zipped long,"
        " zipimporters string, path string"
    )
    rows = df.mapInPandas(probe, schema).collect()
    assert sorted(r.id for r in rows) == list(range(8))
    return rows


def test_workers_fork_from_frozen_preloaded_heap(spark):
    """Workers inherit the daemon's frozen Arrow stack with the collector
    back on (the daemon turns it off only while it imports), and its
    PySpark:
    Spark puts ``pyspark.zip``, the py4j zip and its spark-core jar on
    their path, but the daemon drops them for the driver's same-version
    installed copy, so no module is compiled out of a zip, and forgets
    their importers, so no task re-reads an archive directory."""
    import pyspark

    home = os.path.realpath(os.environ["SPARK_HOME"])
    rows = _probe(spark)
    assert all(r.freeze > 0 for r in rows), rows
    assert all(r.gc_on for r in rows), rows
    assert all(r.pyarrow for r in rows), rows
    assert {r.pyspark_file for r in rows} == {pyspark.__file__}, rows
    assert all(r.zipped == 0 for r in rows), rows
    assert all(json.loads(r.zipimporters) == [] for r in rows), rows
    for r in rows:
        spark_archives = [
            p for p in json.loads(r.path) if p.endswith((".zip", ".jar")) and os.path.realpath(p).startswith(home + os.sep)
        ]
        assert spark_archives == [], r.path


def _version_py(version):
    return f"__version__: str = {version!r}\n"


_SAME_BUILD = {"pyspark/__init__.py": "", "pyspark/version.py": _version_py("4.1.2")}


@pytest.mark.parametrize(
    "installed, dropped",
    [
        ({**_SAME_BUILD, "py4j/__init__.py": ""}, ["pyspark.zip", "py4j zip", "spark-core.jar"]),
        ({"pyspark/__init__.py": "", "pyspark/version.py": _version_py("4.0.1"), "py4j/__init__.py": ""}, []),
        ({"py4j/__init__.py": ""}, []),
        ({"pyspark/version.py": _version_py("4.1.2"), "py4j/__init__.py": ""}, []),
        (_SAME_BUILD, ["pyspark.zip", "spark-core.jar"]),
    ],
    ids=["same-version", "other-version", "no-installed-copy", "namespace-dir", "same-version-no-installed-py4j"],
)
def test_spark_zips_move_behind_a_same_version_installed_copy(tmp_path, installed, dropped):
    """A fake Spark install holds ``python/lib/pyspark.zip`` at 4.1.2, a
    py4j zip and ``jars/spark-core.jar``, reached through a ``spark``
    symlink as ``$SPARK_HOME`` while the path names the jar by its real
    directory, as Spark does; ``site`` holds the given files and
    ``app.jar`` lies outside ``$SPARK_HOME``. Only a same-version
    installed PySpark lets the daemon drop Spark's archives, the py4j zip
    only when py4j is installed too (as with ``PYTHONPATH=$SPARK_HOME/python``,
    where only the zip holds py4j), and the outside jar always stays."""
    real = tmp_path / "spark-4.1.2"
    lib, jars = real / "python" / "lib", real / "jars"
    lib.mkdir(parents=True)
    jars.mkdir()
    (tmp_path / "spark").symlink_to(real)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/version.py", _version_py("4.1.2"))
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    (jars / "spark-core.jar").write_bytes(b"")
    (tmp_path / "app.jar").write_bytes(b"")
    for name, text in installed.items():
        (tmp_path / "site" / name).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / "site" / name).write_text(text)
    (tmp_path / "site").mkdir(exist_ok=True)

    home = tmp_path / "spark"
    archives = {
        "pyspark.zip": str(home / "python" / "lib" / "pyspark.zip"),
        "py4j zip": str(home / "python" / "lib" / "py4j-0.10.9.9-src.zip"),
        "spark-core.jar": str(jars / "spark-core.jar"),
    }
    path = [*archives.values(), str(tmp_path / "app.jar"), str(tmp_path / "site")]
    expected = [archives[name] for name in dropped]
    assert redundant_spark_archives(path, str(home)) == expected
    assert redundant_spark_archives(path, str(real)) == expected
    assert redundant_spark_archives(path, None) == []


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
    ``__init__`` before the daemon can drop Spark's zips from
    ``sys.path``; an eager PySpark import there would load it from
    Spark's zip again."""
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
