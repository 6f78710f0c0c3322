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
"""

from __future__ import annotations

import gc
import os
import sys
import zipfile
from importlib.machinery import PathFinder


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


def main() -> None:
    dropped = redundant_spark_archives(sys.path, os.environ.get("SPARK_HOME"))
    sys.path[:] = [p for p in sys.path if p not in dropped]
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]

    gc.disable()
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401
    from pyspark import daemon

    gc.collect()
    gc.freeze()
    gc.enable()
    daemon.manager()


if __name__ == "__main__":
    main()
