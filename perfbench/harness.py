"""Benchmark plumbing: run isolation, the Spark session, per-call Spark
counters, closed loops, summary statistics and the result line.

Nothing here knows about a particular workload.  Importing this module
starts nothing; :func:`isolate` must run before pyspark is imported so
the private temp roots reach every process Spark starts.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import statistics
import tempfile
import threading
import time
import uuid
from dataclasses import dataclass, field

from metrics import NAME_RE, UNIT_RE

# ---------------------------------------------------------------------------
# Isolation
# ---------------------------------------------------------------------------


def usable_cores() -> int:
    """Cores this process may run on (CPU affinity, not the host total)."""
    return len(os.sched_getaffinity(0))


def isolate(repo_root: str) -> str:
    """Create this run's private root under the checkout and point every
    temp location Spark, the JVM and Python workers use at it.  Returns
    the root; :func:`cleanup` removes it."""
    root = os.path.join(repo_root, ".perfbench_tmp", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    for sub in ("tmp", "spark-local", "warehouse", "data", "stores"):
        os.makedirs(os.path.join(root, sub))
    pp = os.environ.get("PYTHONPATH")
    jto = os.environ.get("JAVA_TOOL_OPTIONS")
    os.environ.update(
        TMPDIR=os.path.join(root, "tmp"),
        # every JVM the run starts (spark-submit's launcher too): temp files
        # under the root, and no /tmp/hsperfdata_<user> monitoring file
        JAVA_TOOL_OPTIONS=(jto + " " if jto else "")
        + f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(root, 'tmp')}",
        SPARK_LOCAL_DIRS=os.path.join(root, "spark-local"),
        # Python workers start with the JVM's environment: the package must
        # resolve from the checkout whatever the working directory is
        PYTHONPATH=repo_root + (os.pathsep + pp if pp else ""),
        SPARK_GRAFT_CPUS=str(usable_cores()),
        SPARK_DRIVER_MEMORY="2g",
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return root


def cleanup(root: str) -> None:
    shutil.rmtree(root, ignore_errors=True)
    parent = os.path.dirname(root)
    with contextlib.suppress(OSError):
        os.rmdir(parent)  # only when no concurrent run still owns a root


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


def start_session(root: str):
    """A fresh SparkSession at the usable core count (stops a live one
    first).  The JVM survives ``stop()``, so only the first call pays
    the JVM launch."""
    from pyspark.sql import SparkSession

    from scalligraph_spark import get_spark

    live = SparkSession.getActiveSession()
    if live is not None:
        live.stop()
    n = usable_cores()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.local.dir": os.path.join(root, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in (it exits when its stdin
    closes), and wait until the JVM has ended."""
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        with contextlib.suppress(Exception):  # the JVM end of the socket is gone
            gateway.close()


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this Python driver plus the JVM."""

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return (hwm_kb("self") + hwm_kb(jvm_pid)) / 1024.0


# ---------------------------------------------------------------------------
# Per-call Spark counters
# ---------------------------------------------------------------------------


@dataclass
class Counts:
    wall_ms: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


class SparkCounters:
    """Time a call and count the Spark work it launched.

    Each :meth:`span` sets a fresh job group on the calling thread (job
    groups are thread-local), and on exit reads the group's jobs and
    every stage attempt from the status store: tasks, executor run time,
    shuffle bytes and spill.  Works with the UI disabled.  Spans must
    not overlap on one thread.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = 0

    @contextlib.contextmanager
    def span(self):
        self._n += 1
        gid = f"perfbench-{os.getpid()}-{self._n}"
        self.sc.setJobGroup(gid, gid)
        c = Counts()
        t0 = time.perf_counter()
        try:
            yield c
        finally:
            c.wall_ms = (time.perf_counter() - t0) * 1000.0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._fill(c, gid)

    def _fill(self, c: Counts, gid: str) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        job_ids = tracker.getJobIdsForGroup(gid)
        c.jobs = len(job_ids)
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for s in stage_ids:
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # a skipped stage has no attempt
                continue
            if sd.numCompleteTasks() == 0:
                continue
            c.stages += 1
            c.tasks += sd.numTasks()
            c.executor_run_ms += sd.executorRunTime()
            c.shuffle_read_bytes += sd.shuffleReadBytes()
            c.shuffle_write_bytes += sd.shuffleWriteBytes()
            c.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()


class HttpClient:
    """One keep-alive connection to a local server."""

    def __init__(self, port: int):
        import http.client

        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def post(self, path: str, body: dict) -> tuple[int, dict, bytes]:
        self.conn.request("POST", path, body=json.dumps(body).encode(),
                          headers={"Content-Type": "application/json"})
        r = self.conn.getresponse()
        return r.status, dict(r.getheaders()), r.read()

    def close(self) -> None:
        self.conn.close()


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 1))."""
    s = sorted(xs)
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


def samples_beyond(n: int, q: float) -> int:
    return n - math.ceil(q * n)


def tail(xs, q: float, min_beyond: int = 10) -> float | None:
    """The ``q`` percentile, or None unless at least ``min_beyond``
    samples lie beyond it."""
    if samples_beyond(len(xs), q) < min_beyond:
        return None
    return percentile(xs, q)


# ---------------------------------------------------------------------------
# Closed loop
# ---------------------------------------------------------------------------


@dataclass
class LoopResult:
    latencies_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    busy_s: float = 0.0  # loop start until the last completion

    @property
    def rate(self) -> float:
        return len(self.latencies_ms) / self.busy_s if self.busy_s > 0 else 0.0


def closed_loop(op, seconds: float, clients: int = 1, min_ops: int = 1) -> LoopResult:
    """Run ``op(i)`` for operation indices 0, 1, 2, … from ``clients``
    threads, each sending its next operation only after the previous one
    returned, until ``seconds`` have passed and at least ``min_ops``
    operations have started.  An operation that raises is counted as
    failed and the loop continues."""
    res = LoopResult()
    lock = threading.Lock()
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def client():
        while True:
            with lock:
                if res.attempted >= min_ops and time.perf_counter() >= deadline:
                    return
                i = res.attempted
                res.attempted += 1
            t0 = time.perf_counter()
            try:
                op(i)
            except Exception as e:  # counted, reported, loop continues
                with lock:
                    res.failed += 1
                    if len(res.errors) < 5:
                        res.errors.append(f"op {i}: {type(e).__name__}: {e}"[:500])
                continue
            t1 = time.perf_counter()
            with lock:
                res.latencies_ms.append((t1 - t0) * 1000.0)
                res.busy_s = max(res.busy_s, t1 - t_start)

    threads = [threading.Thread(target=client, daemon=True) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return res


# ---------------------------------------------------------------------------
# Result
# ---------------------------------------------------------------------------


def check_metric(name: str, unit: str) -> None:
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}")
    if not UNIT_RE.match(unit):
        raise ValueError(f"bad unit {unit!r} for {name}")


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """``metrics``: name → (value, unit); printed as the run's last line."""
    out = {}
    for name, (value, unit) in metrics.items():
        check_metric(name, unit)
        out[name] = {"value": float(value), "unit": unit}
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": out}
    )
