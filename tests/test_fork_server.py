"""The per-driver fork server behind ``cdc_pipeline_spark.worker_daemon``.

A factory session on a ``local`` master starts one fork server per
driver process; each SparkContext's daemon hands its streams to it and
the server forks that context's manager from the heap it preloaded on
its first request. These tests pin that a second context reuses the
server and its frozen heap, that a context the server refuses falls
back to a daemon of the JVM's own, that a worker's ``print()`` reaches
the driver, that no manager or worker outlives its context or the
server its driver, that a killed server only costs the fallback, and
the refusal rule itself.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
from importlib.machinery import PathFinder

import pytest

from cdc_pipeline_spark import session
from cdc_pipeline_spark.worker_daemon import forward, refusal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_HELPERS = """
import gc, json, os, signal, sys, time
sys.path.insert(0, {repo!r})
from cdc_pipeline_spark import session
from cdc_pipeline_spark.session import create_spark_session


def probe(batches):
    import zipimport

    import pandas as pd

    print(f"probe-print {{os.getpid()}}")
    info = json.dumps({{
        "pid": os.getpid(),
        "ppid": os.getppid(),
        "freeze": gc.get_freeze_count(),
        "gc_on": gc.isenabled(),
        "pyarrow": "pyarrow" in sys.modules,
        "secret": os.environ.get("PYTHON_WORKER_FACTORY_SECRET"),
        "probe": os.environ.get("PROBE"),
        "zipimporters": [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)],
    }})
    for pdf in batches:
        yield pd.DataFrame({{"id": pdf["id"], "twice": pdf["id"] * 2, "info": info}})


def parent(pid):
    with open(f"/proc/{{pid}}/stat") as fh:
        return int(fh.read().rsplit(")", 1)[1].split()[1])


def descendants(pid):
    kids = {{}}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                kids.setdefault(parent(int(name)), []).append(int(name))
            except (OSError, IndexError):
                pass
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        out.append(todo.pop())
        todo.extend(kids.get(out[-1], ()))
    return out


def run(extra):
    \"\"\"One factory session: its JVM and server pids, and per worker its
    rows, report and parent chain (worker, manager, manager's parent,
    and that one's parent).\"\"\"
    spark = create_spark_session(app_name="fork-server", master="local[2]", shuffle_partitions=2, extra_conf=extra)
    rows = spark.range(6, numPartitions=2).mapInPandas(probe, "id long, twice long, info string").collect()
    workers = {{}}
    for r in rows:
        info = json.loads(r.info)
        w = workers.setdefault(info["pid"], {{**info, "rows": []}})
        w["rows"].append([r.id, r.twice])
        if "chain" not in w:
            manager = info["ppid"]
            w["chain"] = [info["pid"], manager, parent(manager), parent(parent(manager))]
    ctx = {{"jvm": spark.sparkContext._gateway.proc.pid, "workers": list(workers.values())}}
    server = session._fork_server[0].pid if session._fork_server else None
    spark.stop()
    deadline = time.time() + 30
    while server and descendants(server) and time.time() < deadline:
        time.sleep(0.1)
    ctx.update(server=server, left=descendants(server) if server else [])
    return ctx
"""

_REUSE = """
out = {"driver": os.getpid(), "contexts": [run({}), run({}), run({"spark.executorEnv.PROBE": "seen"})]}
print(json.dumps(out))
"""

_KILLED = """
first = run({})
os.kill(first["server"], signal.SIGKILL)
session._fork_server[0].wait()
print(json.dumps({"driver": os.getpid(), "contexts": [first, run({})]}))
"""


def _drive(body: str) -> dict:
    """Run ``body`` after the helpers in a driver process of its own, with
    the driver's standard streams buffered (no ``PYTHONUNBUFFERED``), and
    return its last stdout line with its stderr."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONUNBUFFERED"}
    proc = subprocess.run(
        [sys.executable, "-c", _HELPERS.format(repo=REPO) + body],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return {**json.loads(proc.stdout.strip().splitlines()[-1]), "stderr": proc.stderr}


def _rows(ctx) -> list:
    return sorted(row for w in ctx["workers"] for row in w["rows"])


@pytest.fixture(scope="module")
def reuse_run():
    return _drive(_REUSE)


def test_second_context_forks_from_the_same_preloaded_server(reuse_run):
    """Two sessions with the same conf, one after the other, share one
    server; the second context's workers are forks of a manager the
    server forked, carry that context's secret and the frozen Arrow
    heap with the collector on, and hold no zipimporter. A third
    session that adds an executor variable is refused: its manager is
    the daemon the JVM started, and its workers see the variable."""
    driver = reuse_run["driver"]
    first, second, probed = reuse_run["contexts"]
    assert first["server"] and first["server"] == second["server"] == probed["server"]
    for ctx in reuse_run["contexts"]:
        assert _rows(ctx) == [[i, 2 * i] for i in range(6)]
    for w in first["workers"] + second["workers"]:
        assert w["chain"][2:] == [first["server"], driver], w
    assert {w["secret"] for w in second["workers"]}.isdisjoint({w["secret"] for w in first["workers"]})
    for w in second["workers"]:
        assert w["secret"] and w["freeze"] > 0 and w["gc_on"] and w["pyarrow"], w
        assert w["zipimporters"] == [], w
        assert w["probe"] is None
    for w in probed["workers"]:
        assert w["chain"][2] == probed["jvm"], w
        assert w["probe"] == "seen" and w["freeze"] > 0 and w["pyarrow"], w


def test_worker_print_reaches_the_driver_at_once(reuse_run):
    """A forked manager keeps the server's ``sys.stdout``; the server starts
    unbuffered as Spark starts each daemon, so what a worker prints reaches
    the JVM before the worker is killed at ``spark.stop()``, even from a
    driver whose own streams are buffered."""
    for ctx in reuse_run["contexts"]:
        for w in ctx["workers"]:
            assert f"probe-print {w['pid']}" in reuse_run["stderr"], w


def test_no_manager_or_worker_outlives_its_context_nor_the_server_its_driver(reuse_run):
    """After each ``spark.stop()`` nothing, live or zombie, is left under
    the server; once the driver has exited its server is gone too."""
    for ctx in reuse_run["contexts"]:
        assert ctx["left"] == [], ctx
    assert not os.path.exists(f"/proc/{reuse_run['contexts'][0]['server']}")


def test_killed_server_falls_back_to_the_daemons_own_preload():
    """With the server killed by SIGKILL, the driver's next session gets
    its manager from the JVM-started daemon and still correct rows."""
    out = _drive(_KILLED)
    before, after = out["contexts"]
    assert all(w["chain"][2] == before["server"] for w in before["workers"])
    assert _rows(after) == [[i, 2 * i] for i in range(6)]
    for w in after["workers"]:
        assert w["chain"][2] == after["jvm"], w
        assert w["freeze"] > 0 and w["pyarrow"], w


def _baseline(env=None, **changes) -> dict:
    base = {
        "interpreter": ["/usr/bin/python3", "3.11.7", [0, 1], 7, [["PYTHONUNBUFFERED", "YES"]]],
        "argv": ["worker_daemon.py", "pyspark.worker"],
        "env": {"PATH": "/usr/bin", "PYTHON_WORKER_FACTORY_SECRET": "a1", "SPARK_LOCAL_DIRS": "/tmp/blockmgr-a"},
        "cwd": "/",
        "path": list(sys.path),
        "modules": {"pyspark": PathFinder.find_spec("pyspark", sys.path).origin},
    }
    return {**base, "env": {**base["env"], **(env or {})}, **changes}


def test_refusal_rule(tmp_path):
    """The server forks only for a request that a fresh daemon would
    match: the same interpreter, started with the same start-up
    variables, the same environment but for the
    per-context secret and local dirs, and every loaded module resolving
    to the same file under the request's path."""
    (tmp_path / "pyspark").mkdir()
    (tmp_path / "pyspark" / "__init__.py").write_text("")
    baseline = _baseline()
    cases = {
        "other interpreter": _baseline(interpreter=["/opt/other/bin/python3", "3.11.7", [0, 1], 7, [["PYTHONUNBUFFERED", "YES"]]]),
        "buffered start": _baseline(interpreter=["/usr/bin/python3", "3.11.7", [0, 1], 7, []]),
        "pyspark elsewhere": _baseline(path=[str(tmp_path), *sys.path]),
        "extra variable": _baseline(env={"OMP_NUM_THREADS": "1"}),
        "per-context only": _baseline(env={"PYTHON_WORKER_FACTORY_SECRET": "b2", "SPARK_LOCAL_DIRS": "/tmp/blockmgr-b"}),
    }
    why = {name: refusal(request, baseline) for name, request in cases.items()}
    assert why == {
        "other interpreter": "another interpreter",
        "buffered start": "another interpreter",
        "pyspark elsewhere": "pyspark resolves elsewhere",
        "extra variable": "environment differs: OMP_NUM_THREADS",
        "per-context only": None,
    }


def test_shim_without_a_reachable_server_runs_its_own_preload(tmp_path):
    """No server, or none listening on the socket path: ``forward`` returns
    None and the daemon preloads in its own process."""
    assert forward(None) is None
    assert forward(str(tmp_path / "absent")) is None


def test_unbindable_socket_path_means_no_server(tmp_path, monkeypatch):
    """A temporary directory too deep for an ``AF_UNIX`` path: the factory
    starts no server and leaves nothing behind."""
    deep = tmp_path / ("d" * 120)
    deep.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(deep))
    assert session._start_fork_server() is False
    assert list(deep.iterdir()) == []
