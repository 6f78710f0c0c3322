"""SparkSession factory.

Reference equivalent: ``src/streaming/spark_session.py:10-21`` (fixed
``spark.sql.shuffle.partitions=4``, master from env). The new engine makes
the knobs explicit and enables AQE so the shuffle partition count adapts at
runtime — at 100 TB a fixed small shuffle count is the first bottleneck,
and AQE coalescing + skew-join splitting replace hand tuning.

Factory sessions fork their Python workers from
``cdc_pipeline_spark.worker_daemon`` rather than the stock
``pyspark.daemon``: it imports pandas, pyarrow and PySpark's Arrow
serializers once and freezes that heap before forking, so each worker of
a new SparkContext starts with the Arrow stack already loaded instead of
importing it on its first ``mapInPandas``/``applyInPandas`` task. When
the installed, bytecode-cached PySpark is the same build as the
``$SPARK_HOME`` zips Spark puts on the workers' path, it drops those zips
and Spark's jar from the path, so nothing is compiled out of a zip and
no task re-reads an archive directory (see ``worker_daemon``). The
package's parent directory is prepended to the executors' ``PYTHONPATH``
so the daemon module resolves whatever the driver's working directory is.
Sessions built elsewhere (e.g. a bare ``SparkSession.builder``) keep the
stock daemon; plans are identical either way.

Factory sessions also turn off PySpark's DataFrame call-site capture
(``spark.python.sql.dataFrameDebugging.enabled``) unless ``extra_conf``
sets it. With it on, every ``Column`` method and ``F.col`` walks the
Python stack and makes about ten extra py4j calls to record where it was
called; starting the streaming pipelines took 1,935 non-memory py4j
commands with it and 715 without. Plans are unchanged; what is lost is
the Python call-site fragment in ``AnalysisException`` messages.
PySpark reads the flag once per driver process, from the first active
session that asks.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# On a real cluster master/shuffle come from spark-submit / cluster conf
# and these are only fallbacks.
DEFAULT_MASTER = os.environ.get("SPARK_MASTER_URL", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_SQL_SHUFFLE_PARTITIONS", "32")
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """Local-mode heap default: SPARK_GRAFT_DRIVER_MEM, else a quarter
    of the host's MemTotal clamped to [2g, 16g] (unreadable /proc →
    conservative 2g)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    gib = int(line.split()[1]) // (1 << 20)  # kB → GiB
                    return f"{max(2, min(16, gib // 4))}g"
    except OSError:
        pass
    return "2g"


def create_spark_session(
    app_name: str = "cdc-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for windowed-aggregation analytics.

    Scale posture (100 TB / 1000 executors):
      * AQE on: runtime shuffle coalescing, skew-join splitting and
        dynamic broadcast-join demotion/promotion.
      * Arrow on: any Pandas UDF operator transfers columnar batches.
      * ``maxPartitionBytes`` at the 128 MiB default keeps scan tasks
        sized for executor memory; we do not shrink it for local tests so
        plans keep production shape.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or DEFAULT_MASTER)
        # In local mode the driver JVM IS the executor, and pyspark's
        # default is 1 GiB — with 32 concurrent tasks that is ~14 MiB of
        # execution memory each, and a long query suite accumulates
        # enough driver state (listener/AQE/py4j) that late queries GC-
        # thrash: measured 0.84 s → 4.1 s for the winnowing query after
        # 71 prior queries at 1 GiB. Sized from the HOST's RAM (quarter
        # of MemTotal, clamped to [2g, 16g]) rather than hardcoded, so
        # a small CI container is not OOM-killed by a harness-sized
        # -Xmx. On a real cluster spark-submit has already launched the
        # driver before this builder runs, so the setting is inert
        # there and executor memory comes from cluster conf as usual.
        .config("spark.driver.memory", _default_driver_memory())
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Testdata `events.ts` is parquet TIMESTAMP(NANOS); Spark has no
        # nanos timestamp type, so read as long and convert (files.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Streaming: durable checkpoints are configured per-query; state
        # store defaults (HDFS-backed) are fine for the operators we use.
        .config("spark.sql.streaming.stateStore.stateSchemaCheck", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
    )
    conf = dict(extra_conf or {})
    conf.setdefault("spark.python.daemon.module", "cdc_pipeline_spark.worker_daemon")
    conf.setdefault("spark.python.sql.dataFrameDebugging.enabled", "false")
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


@contextmanager
def temp_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for the duration of a block, then restore it.

    ``spark.conf.get(key, None)`` returns None when the conf was never
    set — restoring must then UNSET, not skip: a skipped restore leaks
    the temporary value for the rest of the session (e.g. a writer that
    flips partitionOverwriteMode to "dynamic" would silently change the
    semantics of every later ``mode("overwrite").partitionBy(...)``
    write in the session).
    """
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
