"""PySpark worker daemon that forks from a preloaded, frozen heap.

Runs ``pyspark.daemon.manager()`` after importing what every
pandas/Arrow worker loads on its first task, so forked workers inherit
those modules instead of importing them again. The collector is off
while those imports run: they only allocate objects that live as long
as the daemon, so the generational passes they would trigger find
nothing to free. One ``gc.collect()`` then clears what the imports left
behind, and ``gc.freeze()`` moves the inherited objects out of the
collector's reach: the ``gc.collect()`` a reused worker runs after each
task neither walks them nor touches their pages (which would copy them
on write). The collector is back on before the first fork, so workers
collect as usual.

Before importing anything from PySpark it drops from ``sys.path`` the
archives Spark puts on every worker's ``PYTHONPATH``: the
``$SPARK_HOME/python/lib`` zips (``pyspark.zip`` and the py4j source
zip) and the spark-core jar under ``$SPARK_HOME/jars``, which holds no
Python module. They cost twice. ``zipimport`` keeps no bytecode cache,
so a daemon importing from the zip compiles every PySpark module from
source, on every new SparkContext, and its forks compile again each
module they import lazily. And every task ends in PySpark's
``importlib.invalidate_caches()`` (kept for the ``--py-files`` a task
adds), which makes each ``zipimporter`` in ``sys.path_importer_cache``
re-read its archive's central directory in pure Python: about 0.1 s of
CPU per task for the four importers (two of them on the 5,000-entry
jar) that ``runpy`` creates while resolving this module and the forks
inherit. So the daemon also deletes the cached importers of the dropped
entries before it freezes the heap.

The drop happens only when the installed directory copy of PySpark,
which has its ``__pycache__``, is the same build: its
``pyspark/version.py`` equals the zip's, byte for byte. With no
installed copy, or another version, the path stays as Spark set it. A
zip also stays while a package in it resolves from nowhere else: with
``PYTHONPATH=$SPARK_HOME/python`` PySpark resolves from Spark's own
directory, but py4j only from its zip. (PySpark pins its py4j release
exactly, so an installed py4j beside a same-build PySpark matches.)
Directories compare by real path: ``$SPARK_HOME`` is often a symlink to
the versioned install that Spark names the jar under.

The heap forks with numpy's BLAS threads and pyarrow's jemalloc
background thread alive; both libraries reset that state in the child
through ``pthread_atfork`` (the stock daemon already forks after
importing numpy).

Fork server
-----------
Spark starts this daemon once per SparkContext, so a driver that stops
and starts contexts would pay the preload (about 0.6 s of CPU) each
time. On a ``local`` master the session factory therefore starts one
fork server per driver process (``python -m
cdc_pipeline_spark.worker_daemon --serve <fd>``, a child of the driver
with SIGINT ignored). It listens on a Unix socket in a private (0700)
temporary directory, whose path the factory passes to the executors as
``$CDC_WORKER_FORK_SERVER``, and answers only its own uid
(``SO_PEERCRED``). The daemon Spark launches is then a shim:

* it sends the server its stdin, stdout and stderr (``SCM_RIGHTS``)
  with its environment, working directory, raw ``sys.path`` and
  arguments;
* the server forks one ``pyspark.daemon.manager()`` per request, which
  takes all of these over, so the JVM reads the port, sends worker
  kills and closes stdin exactly as it does with a daemon of its own;
* the shim forwards SIGTERM to that manager and exits with its status.

The server preloads on its first request, under that request's
environment and path, not when it starts: a driver whose contexts start
no Python worker never pays for it. It then refuses (and the shim runs
the preload itself, as a daemon without a server does) any request
whose forks would differ from a fresh daemon's:

* the interpreter differs from the server's own: its executable,
  version, flags, string hash seed, or a variable CPython reads only
  while it starts (``PYTHONUNBUFFERED``, ``PYTHONWARNINGS``,
  ``PYTHONIOENCODING``, ``PYTHONFAULTHANDLER`` and the rest of its
  ``PYTHON*`` settings, and the locale). A fork keeps the server's
  ``sys.stdout``, warning filters and fault handler, so these must be
  what the daemon's own start would have made them; the factory starts
  the server with ``PYTHONUNBUFFERED=YES``, as Spark starts daemons,
  so a worker's ``print()`` reaches the JVM at once;
* the worker module Spark names differs;
* an environment variable other than the per-context
  ``PYTHON_WORKER_FACTORY_SECRET`` and ``SPARK_LOCAL_DIRS`` differs
  from the preload's, so import-time settings such as thread counts
  still follow the context;
* a module the server has loaded resolves to another file under the
  request's path.

Lifetime: the server reaps each manager with ``waitpid`` when its
pidfd turns readable, sending the status to its shim; it blocks in
``select`` while idle and exits when its stdin from the driver reaches
EOF (the driver closes it at exit and waits). Managers still running
then belong to a JVM that is exiting too: they stop when it closes
their stdin. Everything stays in the driver's process tree.
"""

from __future__ import annotations

import gc
import json
import os
import re
import select
import signal
import socket
import struct
import sys
import traceback
import zipfile
from importlib.machinery import PathFinder

# The executor environment variable holding the fork server's socket path.
SERVER_ENV = "CDC_WORKER_FORK_SERVER"
# Spark sets these anew for every SparkContext.
PER_CONTEXT_ENV = frozenset({"PYTHON_WORKER_FACTORY_SECRET", "SPARK_LOCAL_DIRS"})
_MAX_REQUEST = 1 << 18
# The variables CPython reads only while it starts: its own settings
# (``PYTHON`` and capitals; PySpark's ``PYTHON_*`` are read at run time)
# but ``PYTHONPATH``, whose ``sys.path`` each request carries, and the
# locale, which fixes the standard streams' encoding.
_STARTUP_ENV = re.compile(r"PYTHON(?!PATH$)[A-Z]+|LC_ALL|LC_CTYPE|LANG")


def redundant_spark_archives(path: list[str], spark_home: str | None) -> list[str]:
    """The entries of ``path`` that are zips in ``<spark_home>/python/lib``
    or jars in ``<spark_home>/jars``, when the PySpark that the remaining
    entries resolve is the same build as ``pyspark.zip``; otherwise none.
    A zip stays while a top-level module in it does not resolve, with a
    location, from the remaining entries."""
    if not spark_home:
        return []
    home = os.path.realpath(spark_home)
    dirs = {".zip": os.path.join(home, "python", "lib"), ".jar": os.path.join(home, "jars")}
    archives = [p for p in path if dirs.get(os.path.splitext(p)[1]) == os.path.realpath(os.path.dirname(p))]
    rest = [p for p in path if p not in archives]
    spec = PathFinder.find_spec("pyspark", rest)
    if not archives or spec is None or not spec.has_location:
        return []
    try:
        with zipfile.ZipFile(os.path.join(dirs[".zip"], "pyspark.zip")) as zf:
            zipped = zf.read("pyspark/version.py")
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as fh:
            installed = fh.read()
        provided = {p: _top_level_modules(p) for p in archives if p.endswith(".zip")}
    except (OSError, KeyError, zipfile.BadZipFile):
        return []
    if installed != zipped:
        return []
    return [p for p in archives if all(_resolves(m, rest) for m in provided.get(p, ()))]


def _top_level_modules(archive: str) -> set[str]:
    with zipfile.ZipFile(archive) as zf:
        return {n.split("/")[0].removesuffix(".py") for n in zf.namelist() if n.endswith(".py")}


def _resolves(module: str, path: list[str]) -> bool:
    spec = PathFinder.find_spec(module, path)
    return spec is not None and spec.has_location


def _kept_path(path: list[str], spark_home: str | None) -> list[str]:
    dropped = redundant_spark_archives(path, spark_home)
    return [p for p in path if p not in dropped]


def _set_path(path: list[str], spark_home: str | None) -> None:
    """Make ``path`` without Spark's redundant archives this process's
    ``sys.path``, and forget the cached importers of what it drops."""
    dropped = redundant_spark_archives(path, spark_home)
    sys.path[:] = [p for p in path if p not in dropped]
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]


def _preload(path: list[str], spark_home: str | None) -> None:
    _set_path(path, spark_home)
    gc.disable()
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401
    from pyspark import daemon  # noqa: F401

    gc.collect()
    gc.freeze()
    gc.enable()


def main() -> None:
    """Preload in this process and run the manager here."""
    _preload(sys.path, os.environ.get("SPARK_HOME"))
    from pyspark import daemon

    daemon.manager()


# ---------------------------------------------------------------------------
# Fork server
# ---------------------------------------------------------------------------


def _interpreter() -> list:
    """What a fork inherits from the interpreter's start-up and a fresh
    daemon would set up from its own; call it before adopting a request's
    environment."""
    startup = sorted([k, v] for k, v in os.environ.items() if _STARTUP_ENV.fullmatch(k))
    return [os.path.realpath(sys.executable), sys.version, list(sys.flags), hash(SERVER_ENV), startup]


def _request() -> dict:
    return {
        "interpreter": _interpreter(),
        "env": dict(os.environ),
        "cwd": os.getcwd(),
        "path": list(sys.path),
        "argv": list(sys.argv),
    }


def refusal(request: dict, baseline: dict) -> str | None:
    """Why ``request`` may not be served by a fork of the heap preloaded
    for ``baseline`` (a request plus the ``modules`` the server then had
    loaded, top-level name → file), or None when it may."""
    if request["interpreter"] != baseline["interpreter"]:
        return "another interpreter"
    if request["argv"][1:] != baseline["argv"][1:]:
        return "another worker module"
    env, env0 = request["env"], baseline["env"]
    changed = sorted(k for k in env.keys() | env0.keys() if k not in PER_CONTEXT_ENV and env.get(k) != env0.get(k))
    if changed:
        return f"environment differs: {', '.join(changed)}"
    path = _kept_path(request["path"], env.get("SPARK_HOME"))
    for name, origin in baseline["modules"].items():
        spec = PathFinder.find_spec(name, path)
        if spec is None or spec.origin != origin:
            return f"{name} resolves elsewhere"
    return None


def _located_modules() -> dict[str, str]:
    """Top-level name → file of every loaded module that came from a
    path entry."""
    out = {}
    for name, module in list(sys.modules.items()):
        spec = getattr(module, "__spec__", None)
        if "." not in name and name != "__main__" and spec is not None and spec.name == name and spec.has_location:
            out[name] = spec.origin
    return out


def _adopt(request: dict) -> None:
    """Take over a request's environment, working directory and arguments."""
    os.environ.clear()
    os.environ.update(request["env"])
    os.chdir(request["cwd"])
    sys.argv[:] = request["argv"]


def _send(conn: socket.socket, **message) -> None:
    try:
        conn.send(json.dumps(message).encode())
    except OSError:
        pass


def _run_manager(request: dict, fds: list[int], conn: socket.socket, inherited: list[int]) -> None:
    """In a fork of the server: report this pid to the shim, take over its
    standard streams, environment and path, run the manager, and exit
    with its status (never returning into the server's loop)."""
    code = 1
    try:
        _send(conn, pid=os.getpid())
        conn.close()
        for fd in inherited:
            os.close(fd)
        for target, fd in enumerate(fds):
            os.dup2(fd, target)
            os.close(fd)
        _adopt(request)
        _set_path(request["path"], request["env"].get("SPARK_HOME"))
        from pyspark import daemon

        daemon.manager()
        code = 0
    except SystemExit as exc:
        code = exc.code if isinstance(exc.code, int) else 1
    except Exception:
        traceback.print_exc()
    finally:
        try:
            sys.stderr.flush()
        finally:
            os._exit(code)


def serve(listener: socket.socket) -> None:
    """Answer requests on ``listener`` until stdin reaches EOF."""
    interpreter = _interpreter()
    baseline: dict | None = None
    managers: dict[int, tuple[int, socket.socket]] = {}  # pidfd → (pid, its shim's connection)
    while True:
        ready = select.select([0, listener.fileno(), *managers], [], [])[0]
        if 0 in ready and not os.read(0, 4096):
            return
        for pidfd in [fd for fd in ready if fd in managers]:
            pid, conn = managers.pop(pidfd)
            os.close(pidfd)
            status = os.waitpid(pid, 0)[1]
            _send(conn, status=os.waitstatus_to_exitcode(status))
            conn.close()
        if listener.fileno() not in ready:
            continue
        conn = listener.accept()[0]
        fds: list[int] = []
        try:
            creds = conn.getsockopt(socket.SOL_SOCKET, socket.SO_PEERCRED, struct.calcsize("3i"))
            if struct.unpack("3i", creds)[1] != os.getuid():
                conn.close()
                continue
            conn.settimeout(10)
            msg, fds, flags, _ = socket.recv_fds(conn, _MAX_REQUEST, 3)
            conn.settimeout(None)
            request = json.loads(msg)
            if flags & socket.MSG_TRUNC or len(fds) != 3:
                raise ValueError("malformed request")
        except (OSError, ValueError):
            for fd in fds:
                os.close(fd)
            conn.close()
            continue
        if baseline is None and request["interpreter"] == interpreter:
            _adopt(request)
            _preload(request["path"], request["env"].get("SPARK_HOME"))
            baseline = {**request, "modules": _located_modules()}
        why = refusal(request, baseline) if baseline else "another interpreter"
        if why is None:
            inherited = [listener.fileno(), *managers, *(c.fileno() for _, c in managers.values())]
            pid = os.fork()
            if pid == 0:
                _run_manager(request, fds, conn, inherited)
            managers[os.pidfd_open(pid)] = (pid, conn)
        else:
            _send(conn, refused=why)
            conn.close()
        for fd in fds:
            os.close(fd)


# ---------------------------------------------------------------------------
# Shim
# ---------------------------------------------------------------------------


def forward(server: str | None) -> int | None:
    """Have the fork server at ``server`` run this daemon's manager on our
    standard streams; the manager's exit status, or None when the server
    is absent, unreachable or refuses (no manager then runs)."""
    if not server:
        return None
    with socket.socket(socket.AF_UNIX, socket.SOCK_SEQPACKET) as conn:
        try:
            conn.connect(server)
            socket.send_fds(conn, [json.dumps(_request()).encode()], [0, 1, 2])
            # A forked manager reports its pid before anything else, so an
            # EOF here means that none runs.
            reply = json.loads(conn.recv(4096) or b"{}")
        except (OSError, ValueError):
            return None
        if "pid" not in reply:
            return reply.get("status")
        pid = reply["pid"]
        signal.signal(signal.SIGTERM, lambda *_: os.kill(pid, signal.SIGTERM))
        try:
            return json.loads(conn.recv(4096) or b"{}")["status"]
        except (OSError, ValueError, KeyError):
            pass
    # The server died first: wait for the manager without its status.
    try:
        select.select([os.pidfd_open(pid)], [], [])
    except OSError:
        pass
    return 1


if __name__ == "__main__":
    if sys.argv[1:2] == ["--serve"]:
        # as PySpark launches its JVM: Ctrl-C in the driver's terminal is
        # the driver's to handle
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        serve(socket.socket(fileno=int(sys.argv[2])))
    else:
        status = forward(os.environ.get(SERVER_ENV))
        if status is None:
            main()
        else:
            sys.exit(status if status >= 0 else 128 - status)
