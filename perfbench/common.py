"""Shared plumbing: the work directory, the Spark session, memory sampling,
the force helper, and readers for what Spark already reports (plan-phase
tracker, executed-plan SQL metrics, job counts by job group)."""

from __future__ import annotations

import os
import shutil
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Everything the benchmark writes lives here, inside the checkout.
WORK = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(WORK, "cache")
NPROC = os.cpu_count() or 1


def prepare_env() -> str:
    """Point Spark's JVM, its Python workers and temp files at the
    checkout. Must run before the first session starts."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(CACHE, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # spark-submit's helper JVM would otherwise keep its perf counters
    # under /tmp (the driver JVM gets the same flag in create_session)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    return run_dir


def create_session(run_dir: str, master: str | None = None):
    from cdc_pipeline_spark.session import create_spark_session

    tmp = os.path.join(run_dir, "tmp")
    spark = create_spark_session(
        app_name="perfbench",
        master=master or f"local[{NPROC}]",
        shuffle_partitions=NPROC,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit (it exits
    when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def warm_workers(spark) -> None:
    """Start one Python worker per core (the pool Arrow queries use), so
    worker start-up is paid in set-up, not by the first timed query."""

    def gen(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    df = spark.range(NPROC, numPartitions=NPROC)
    df.mapInPandas(gen, df.schema).count()


def full_gc() -> None:
    """Collect the JVM heap and Python's, so that a timed phase starts from
    the same heap state in every run instead of paying, at a moment that
    depends on timing, for garbage an earlier phase left."""
    import gc

    from pyspark import SparkContext

    gc.collect()
    if SparkContext._jvm is not None:
        SparkContext._jvm.System.gc()


def forced(df):
    """One-row frame that evaluates every output column of every row when
    collected (a bare count() would let Catalyst prune projections)."""
    from pyspark.sql import functions as F

    return df.agg(F.bit_xor(F.xxhash64(F.struct(*df.columns))))


def spawned() -> int:
    """Processes created on the host since boot (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("processes "):
                return int(line.split()[1])
    return 0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    cores (``/proc/stat`` steal column). A run whose steal grows fast was
    measured on a contended host."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_info() -> dict:
    return {"nproc": NPROC, "loadavg": list(os.getloadavg())}


# ---------------------------------------------------------------------------
# Memory
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(exclude) -> list[int]:
    """This process and its descendants (the JVM and its Python workers),
    leaving out the processes in ``exclude`` with their subtrees."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _stat(path: str) -> tuple[str, list[str]] | None:
    """The command name and the fields after it of a ``/proc`` stat file,
    or None once the process or thread is gone."""
    try:
        with open(path) as fh:
            text = fh.read()
    except OSError:
        return None
    return text[text.index("(") + 1:text.rindex(")")], text[text.rindex(")") + 1:].split()


class CpuMeter:
    """CPU seconds used so far by the system under test: this process and
    its descendants, live or reaped, without the ``exclude`` subtrees,
    and without the JVM's JIT compiler threads.

    Unlike wall time it does not grow when the host runs other guests on
    our cores: the kernel charges stolen time to no process. A process's
    time moves into its parent's cutime when the parent reaps it, so the
    total is continuous across worker exits. JIT compilation is warm-up
    that goes on in the background for minutes after the JVM starts, and
    how much of it lands in a window depends on timing, so it is counted
    apart (``jit_s``). So are the short-lived commands the JVM spawns
    (``spawned_s``): Hadoop's local file system runs ``chmod`` and
    ``readlink`` for each checkpoint and state file, over 200 a second on
    ``live_dashboard``, and their CPU for the same count of commands
    varied twofold between runs (7 to 14 s in a 13 s window).
    ``common.spawned()`` counts them. Garbage collection stays in the total;
    ``gc_s`` shows its share, and ``threads()`` every JVM thread's. A JVM
    thread that exits keeps its last count."""

    JIT = ("CN CompilerThre",)
    GC = ("GC Thread", "GN ", "VM Thread")

    def __init__(self, exclude: set[int]) -> None:
        self.exclude = exclude
        # (pid, tid) → (thread name without digits, ticks)
        self._threads: dict[tuple[int, str], tuple[str, int]] = {}
        self._spawned: dict[int, int] = {}

    def __call__(self) -> float:
        total = 0
        for pid in _tree(self.exclude):
            st = _stat(f"/proc/{pid}/stat")
            if st is None:
                continue
            if st[0] == "java":
                # utime + stime; cutime + cstime is the reaped commands
                self._spawned[pid] = sum(int(f) for f in st[1][13:15])
                total += sum(int(f) for f in st[1][11:13])
                self._scan_threads(pid)
            else:
                # utime + stime + cutime + cstime (reaped Python workers)
                total += sum(int(f) for f in st[1][11:15])
        return (total - self._ticks(self.JIT)) / os.sysconf("SC_CLK_TCK")

    def _scan_threads(self, pid: int) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for tid in tids:
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st is not None:
                name = "".join("N" if c.isdigit() else c for c in st[0])
                self._threads[(pid, tid)] = (name, int(st[1][11]) + int(st[1][12]))

    def _ticks(self, prefixes: tuple[str, ...]) -> int:
        return sum(t for name, t in self._threads.values() if name.startswith(prefixes))

    def threads(self) -> dict[str, float]:
        """CPU seconds per JVM thread name (digits as ``N``) as of the last
        call."""
        out: dict[str, float] = {}
        for name, t in self._threads.values():
            out[name] = out.get(name, 0.0) + t / os.sysconf("SC_CLK_TCK")
        return out

    @property
    def jit_s(self) -> float:
        return self._ticks(self.JIT) / os.sysconf("SC_CLK_TCK")

    @property
    def spawned_s(self) -> float:
        return sum(self._spawned.values()) / os.sysconf("SC_CLK_TCK")

    @property
    def gc_s(self) -> float:
        return self._ticks(self.GC) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory of this process and its descendants (the JVM
    and its Python workers), sampled every ``interval`` seconds. Processes
    listed in ``exclude`` (the load generator) are left out with their
    subtrees."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak = 0
        self.cpu_s = CpuMeter(self.exclude)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> int:
        total = sum(_rss_bytes(pid) for pid in _tree(self.exclude))
        self.peak = max(self.peak, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


# ---------------------------------------------------------------------------
# What Spark reports
# ---------------------------------------------------------------------------


def jobs_in_group(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stages_of(spark, job_ids) -> int:
    tracker = spark.sparkContext.statusTracker()
    n = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            n += len(info.stageIds)
    return n


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst phase times from ``QueryExecution.tracker()``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


_SQL_METRICS = {
    "shuffleBytesWritten": "shuffle_write_bytes",
    "spillSize": "spill_bytes",
    "pythonNumRowsReceived": "arrow_rows",
}


def _plan_nodes(node):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan())
        return
    yield node
    if name.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
        return
    if name == "ReusedExchangeExec":
        return
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def exec_metrics(df) -> dict[str, int]:
    """Shuffle-write, spill and Arrow-row totals from the executed plan's
    SQL metrics (the UI is off, so they are read from the plan itself)."""
    out = dict.fromkeys(_SQL_METRICS.values(), 0)
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        it = node.metrics().iterator()
        while it.hasNext():
            entry = it.next()
            key = _SQL_METRICS.get(entry._1())
            if key:
                out[key] += int(entry._2().value())
    return out

