"""PySpark worker daemon that forks from a preloaded, frozen heap.

Runs ``pyspark.daemon.manager()`` after importing what every
pandas/Arrow worker loads on its first task, so forked workers inherit
those modules instead of importing them again. ``gc.freeze()`` moves
the inherited objects out of the collector's reach: the ``gc.collect()``
a reused worker runs after each task neither walks them nor touches
their pages (which would copy them on write).

The heap forks with numpy's BLAS threads and pyarrow's jemalloc
background thread alive; both libraries reset that state in the child
through ``pthread_atfork`` (the stock daemon already forks after
importing numpy).
"""

import gc

import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyspark.sql.pandas.serializers  # noqa: F401
import pyspark.worker  # noqa: F401
from pyspark import daemon

if __name__ == "__main__":
    gc.collect()
    gc.freeze()
    daemon.manager()
