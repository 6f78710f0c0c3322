"""The streaming state-table protocol shared by every durable
``foreachBatch`` table: the rollups (time buckets, histogram, Gram),
the BM25, MinHash near-dup and phash indexes, and the crawl frontier.

Exactly-once without a transaction log (the idempotent-sink route of
Structured Streaming): each micro-batch writes its rows under
``batch_id=<n>`` (one hive partition per batch) with a per-write
dynamic-partition overwrite, so an at-least-once replay rewrites ITS OWN
partition and nothing else. Readers re-fold the partitions with a
mergeable aggregate, so a batch landing twice never double-counts.

Compaction folds every partition into one ``batch_id=-1`` partition to
bound the file listing. It writes the fold to a ``.compact.tmp``
sibling, records the highest folded batch id in a run-scoped marker,
then swaps rename-aside (``<table>`` → ``<table>.old``, tmp →
``<table>``): a crash at any point leaves a complete table at either
``<table>`` or ``<table>.old``. The marker is the replay guard — a
batch replayed after its partition was folded would otherwise re-create
that partition and double-count. Batch ids restart at 0 with a new
checkpoint, so the guard applies only within the marker's ``run_id``.

An O_EXCL sidecar lock serializes writers and compactions on a table,
so a write can never land inside the swap and vanish with ``.old``.

A table whose directory is missing while ``<table>.old`` exists is the
crash-between-renames state. Every write, compaction and read here
refuses it with a RuntimeError: writing would start a fresh table that
the next compaction's swap then replaces, deleting ``.old`` — the
complete history — with it; reading would serve an empty table.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import time
import uuid
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = [
    "COMPACTION_MARKER",
    "LOCK_SUFFIX",
    "LOCK_STALE_SECONDS",
    "compaction_state",
    "replay_folded",
    "table_lock",
    "write_batch",
    "compact",
    "read_table",
]

COMPACTION_MARKER = "_compaction.json"
LOCK_SUFFIX = ".compact.lock"
LOCK_STALE_SECONDS = 600.0

Fold = Callable[[DataFrame], DataFrame]


@contextlib.contextmanager
def table_lock(path: str, timeout: float = 30.0):
    """Cross-process mutual exclusion between the per-batch writers and
    compaction, via an O_EXCL sidecar lock file ``<path>.compact.lock``.

    Writers hold it for one batch's writes (fast), compaction for the
    fold+swap — so "run compaction from the maintenance cadence, not per
    micro-batch" is ENFORCED rather than advised: a compaction that
    overlaps an active writer waits its turn, and two concurrent
    compactions serialize (the loser folds an already-folded table).

    A lock older than ``LOCK_STALE_SECONDS`` is presumed left by a crash
    and broken ATOMICALLY (rename-aside — two waiters cannot both claim
    the same stale lock; the rename loser just re-polls). A heartbeat
    refreshes the mtime while the lock is held, so only a dead holder
    goes stale. On timeout the caller gets a RuntimeError rather than a
    silent corruption window. Release checks an owner token so a
    breaker's fresh lock is never unlinked by the stale holder's cleanup.
    """
    lock = path.rstrip("/") + LOCK_SUFFIX
    parent = os.path.dirname(lock)
    if parent:
        # before the table's first write nothing has created the parent
        # (Spark's writer does it lazily) — the lock must not be the
        # thing that crashes the first micro-batch
        os.makedirs(parent, exist_ok=True)
    token = f"{os.getpid()}:{uuid.uuid4().hex}"
    deadline = time.time() + timeout
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, token.encode())
            os.close(fd)
            break
        except FileExistsError:
            # deadline is checked FIRST so every branch below (stale
            # break failing persistently, stat races) still terminates
            # in the promised RuntimeError instead of spinning forever
            if time.time() > deadline:
                raise RuntimeError(
                    f"state table {path} is locked by another writer/compaction "
                    f"({lock}); retry from the maintenance cadence"
                )
            try:
                stale = time.time() - os.path.getmtime(lock) > LOCK_STALE_SECONDS
            except OSError:
                time.sleep(0.05)  # holder released between check and stat
                continue
            if stale:
                # atomic break: exactly one waiter wins the rename; the
                # loser's rename raises and it simply re-polls
                try:
                    os.rename(lock, f"{lock}.broken.{token}")
                    os.unlink(f"{lock}.broken.{token}")
                except OSError:
                    time.sleep(0.05)
                continue
            time.sleep(0.1)

    stop_beat = threading.Event()

    def _beat() -> None:
        while not stop_beat.wait(LOCK_STALE_SECONDS / 10):
            try:
                os.utime(lock)
            except OSError:
                return  # lock gone (broken/released) — stop quietly

    beater = threading.Thread(target=_beat, daemon=True)
    beater.start()
    try:
        yield
    finally:
        stop_beat.set()
        beater.join(timeout=1.0)
        try:
            # only release OUR lock: if a breaker replaced it after
            # declaring us stale, the file now carries their token
            with open(lock) as fh:
                if fh.read() == token:
                    os.unlink(lock)
        except OSError:
            pass


def compaction_state(path: str) -> tuple[int, str]:
    """(highest folded batch_id, run_id it applies to) — (-1, "") when
    never compacted. Stored in an underscore-prefixed sidecar file,
    which Spark/Hadoop parquet listings ignore."""
    try:
        with open(os.path.join(path, COMPACTION_MARKER)) as fh:
            data = json.load(fh)
        return int(data["compacted_through"]), str(data.get("run_id", ""))
    except (OSError, ValueError, KeyError, TypeError):
        # TypeError: valid-JSON-but-not-a-dict marker (truncated or
        # hand-edited) must degrade to "never compacted" like every
        # other corruption shape, not crash the streaming query
        return -1, ""


def replay_folded(path: str, run_id: str, batch_id: int) -> bool:
    """True when compaction already folded ``batch_id`` of THIS run into
    ``batch_id=-1``, so a replay must be skipped. Decide it while holding
    the table lock: checked before acquiring it, a concurrent compaction
    could land its fold between the check and the write."""
    through, marker_run = compaction_state(path)
    return marker_run == run_id and int(batch_id) <= through


def _refuse_crashed_swap(table: str) -> None:
    # the swap is a local rename, so is this check
    old = table.rstrip("/") + ".old"
    if not os.path.isdir(table) and os.path.isdir(old):
        raise RuntimeError(
            f"state table {table} is missing but {old} exists — a compaction "
            f"crashed mid-swap; rename {old} back to {table} to recover"
        )


def _write_partition(rows: DataFrame, table: str) -> None:
    """Overwrite exactly the ``batch_id=<n>`` partitions in ``rows``.

    The dynamic-overwrite mode rides on the WRITER (per-write option),
    not the session conf: a session-level flip races other concurrent
    foreachBatch writers on the same SparkSession — one writer's restore
    could downgrade another's in-flight overwrite to static mode, which
    deletes every existing partition of that table.
    """
    _refuse_crashed_swap(table)
    (
        rows.coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(table)
    )


def write_batch(
    table: str,
    batch_id: int,
    run_id: str,
    rows: DataFrame | Callable[[], list[tuple[str, DataFrame]]],
) -> None:
    """Land one micro-batch: take ``table``'s lock, skip a replay of a
    batch its marker says is folded, then overwrite the ``batch_id``
    partition with ``rows`` (``batch_id`` column added or replaced).

    ``rows`` is either this batch's rows for ``table``, or — for a
    family of tables guarded by ``table``'s lock and marker — a callable
    run under the lock once the guard passes, returning ``(table, rows)``
    pairs in write order (the near-dup indexes probe their history there
    before appending to it)."""
    with table_lock(table):
        if replay_folded(table, run_id, batch_id):
            return
        pairs = rows() if callable(rows) else [(table, rows)]
        for target, frame in pairs:
            _write_partition(frame.withColumn("batch_id", F.lit(int(batch_id))), target)


def read_table(
    spark: SparkSession, table: str, schema: str | StructType | None = None
) -> DataFrame:
    """Every partition of ``table``, read with ``schema``.

    Existence is decided by the READ (the path may be object storage):
    a never-written table, or one whose batches all wrote zero files,
    reads as an empty frame of ``schema``. Without a schema (a family
    whose columns depend on the caller) such a table raises Spark's
    AnalysisException. A table left only at ``<table>.old`` by a crashed
    swap raises a RuntimeError naming the ``.old`` directory."""
    _refuse_crashed_swap(table)
    if schema is None:
        return spark.read.parquet(table)
    try:
        return spark.read.schema(schema).parquet(table)
    except AnalysisException:
        return spark.createDataFrame([], schema)


def compact(
    spark: SparkSession,
    tables: list[tuple[str, Fold, str | None]],
    run_id: str = "",
    lock_timeout: float = 30.0,
) -> list[int]:
    """Fold each ``(table, fold, schema)`` into one ``batch_id=-1``
    partition, in order, under the FIRST table's lock; returns each
    table's row count after compaction, 0 for a never-written table.

    ``fold`` merges partitions into the rows one partition would hold
    (it may drop ``batch_id``; it is set to -1 here). It is the same
    fold the family's reader applies, so reads are unchanged by
    compaction. Readers running during the swap can transiently error on
    the rename; run compaction from the maintenance cadence."""
    counts = []
    with table_lock(tables[0][0], timeout=lock_timeout):
        for table, fold, schema in tables:
            _refuse_crashed_swap(table)
            if not os.path.isdir(table):  # never written: nothing to swap
                counts.append(0)
                continue
            try:
                partials = read_table(spark, table, schema)
            except AnalysisException:  # schema-less, and no batch wrote a file
                counts.append(0)
                continue
            folded = fold(partials).withColumn("batch_id", F.lit(-1))
            counts.append(_swap_compacted(spark, table, partials, folded, run_id))
    return counts


def _swap_compacted(
    spark: SparkSession, table: str, partials: DataFrame, folded: DataFrame, run_id: str
) -> int:
    """Write the fold to a tmp sibling, record the run-scoped replay
    marker (highest folded batch_id), then swap rename-aside."""
    high = partials.agg(F.max("batch_id")).collect()[0][0]
    high = int(high) if high is not None else -1
    tmp = table.rstrip("/") + ".compact.tmp"
    folded.coalesce(1).write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
    n = spark.read.schema(folded.schema).parquet(tmp).count()
    prev_through, prev_run = compaction_state(table)
    with open(os.path.join(tmp, COMPACTION_MARKER), "w") as fh:
        json.dump(
            {
                # the guard window only carries over within the same run's
                # id sequence; a new run starts its own watermark
                "compacted_through": max(high, prev_through) if prev_run == run_id else high,
                "run_id": run_id,
            },
            fh,
        )
    old = table.rstrip("/") + ".old"
    if os.path.isdir(old):
        shutil.rmtree(old)
    os.rename(table, old)
    os.rename(tmp, table)
    shutil.rmtree(old)
    return n
