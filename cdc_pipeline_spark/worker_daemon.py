"""PySpark worker daemon that forks from a preloaded, frozen heap.

Runs ``pyspark.daemon.manager()`` after importing what every
pandas/Arrow worker loads on its first task, so forked workers inherit
those modules instead of importing them again. ``gc.freeze()`` moves
the inherited objects out of the collector's reach: the ``gc.collect()``
a reused worker runs after each task neither walks them nor touches
their pages (which would copy them on write).

Before importing anything from PySpark it moves the
``$SPARK_HOME/python/lib`` zips (``pyspark.zip`` and the py4j source
zip), which Spark puts first on every worker's ``PYTHONPATH``, behind
the directory entries of ``sys.path``. ``zipimport`` keeps no bytecode
cache, so a daemon importing from the zip compiles every PySpark module
from source, on every new SparkContext, and its forks compile again
each module they import lazily. The installed directory copy has its
``__pycache__``. The move happens only when that copy is the same
build: its ``pyspark/version.py`` equals the zip's, byte for byte
(PySpark pins its py4j release exactly, so the installed py4j matches
too). With no installed copy, or another version, the zips stay first.

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


def prefer_installed_pyspark(path: list[str], spark_home: str | None) -> list[str]:
    """Return ``path`` with the zips in ``<spark_home>/python/lib`` moved
    to its end when the PySpark that the remaining entries resolve is
    the same build as ``pyspark.zip``; otherwise ``path`` unchanged.
    Only ``.zip`` entries move (never the spark-core jar Spark also
    lists)."""
    if not spark_home:
        return path
    lib = os.path.normpath(os.path.join(spark_home, "python", "lib"))
    zips = [p for p in path if p.endswith(".zip") and os.path.dirname(os.path.normpath(p)) == lib]
    rest = [p for p in path if p not in zips]
    spec = PathFinder.find_spec("pyspark", rest)
    if not zips or spec is None or not spec.has_location:
        return path
    try:
        with zipfile.ZipFile(os.path.join(lib, "pyspark.zip")) as zf:
            zipped = zf.read("pyspark/version.py")
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as fh:
            installed = fh.read()
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest + zips if installed == zipped else path


def main() -> None:
    sys.path[:] = prefer_installed_pyspark(sys.path, os.environ.get("SPARK_HOME"))

    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401
    from pyspark import daemon

    gc.collect()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
