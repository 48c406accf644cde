"""Process-level plumbing shared by every workload: the Spark session,
spans, the process-tree CPU and memory readings, and the host-drift
readings.

All scratch state (Spark local dirs, temp files, the compiled sweep
kernel, the event log, generated inputs, outputs) lives under one work
directory inside the checkout, which :class:`Bench` removes when it
closes.
"""

from __future__ import annotations

import hashlib
import os
import shlex
import shutil
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

__all__ = ["EXTRA", "Bench", "Check", "Tracer", "NoTracer", "JvmMemory", "ProcTree",
           "median", "steal_s", "calib_s"]

CLK_TCK = os.sysconf("SC_CLK_TCK")
# Job-group prefix of the traced run's calls made after the traced pass.
EXTRA = "extra."


def median(values) -> float:
    return float(statistics.median(list(values)))


@dataclass
class Check:
    """Outcome of checking one pass: operations attempted and failed,
    what failed, and figures the check computed on the way."""

    attempted: int
    failed: int
    messages: list[str]
    details: dict[str, float]


class Bench:
    """Owns the work directory and the Spark session of one benchmark run."""

    def __init__(self, root: str, work_dir: str, cores: int, driver_memory: str,
                 event_log: bool):
        self.work = work_dir
        self.cores = cores
        self.spark = None
        self.event_log_dir = os.path.join(work_dir, "eventlog")
        for sub in ("tmp", "spark-local", "warehouse", "eventlog", "inputs", "outputs"):
            os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
        tmp = os.path.join(work_dir, "tmp")
        conf = {
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if event_log else "false",
            "spark.eventLog.dir": f"file://{self.event_log_dir}",
            # Spark 4 writes a rolling zstd log by default; the reader
            # needs one plain JSON-lines file.
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        # Python workers inherit this environment: they import the
        # library from the checkout, and the sweep kernel they compile
        # and every temp file they write stay in the work dir.
        os.environ.update({
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH")) if p),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": driver_memory,
            # the JVM spark-submit runs first to build the driver's command line
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_SUBMIT_ARGS": " ".join([
                "--driver-java-options",
                # A fixed, pre-touched heap: the JVM's resident memory
                # then moves with its off-heap use, not with when the
                # collector happens to grow the heap.
                shlex.quote(f"-Xms{driver_memory} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                            f"-Djava.io.tmpdir={tmp}"),
                *[arg for k, v in conf.items() for arg in ("--conf", shlex.quote(f"{k}={v}"))],
                "pyspark-shell",
            ]),
        })

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        """Start the session through the library's own ``get_spark``."""
        from plda_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def event_log(self) -> str:
        """The application's event log (call after the session stopped)."""
        done = [f for f in os.listdir(self.event_log_dir) if not f.endswith(".inprogress")]
        if len(done) != 1:
            raise RuntimeError(f"expected one finished event log, found {done}")
        return os.path.join(self.event_log_dir, done[0])

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it, remove the work dir."""
        from pyspark import SparkContext

        try:
            self.stop_session()
            gateway = SparkContext._gateway
            if gateway is not None:
                proc = gateway.proc
                gateway.shutdown()
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
        finally:
            shutil.rmtree(self.work, ignore_errors=True)


class JvmMemory:
    """Heap peak and collector time of the driver JVM (local mode: the
    driver is the executor), read through its management beans."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def reset_peak(self) -> None:
        for p in self._pools:
            p.resetPeakUsage()

    def peak_heap_mb(self) -> float:
        """Sum over the heap pools of each pool's peak since the reset."""
        return sum(p.getPeakUsage().getUsed() for p in self._pools) / 2**20

    def gc_s(self) -> float:
        return sum(max(g.getCollectionTime(), 0) for g in self._gcs) / 1e3


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str


class Tracer:
    """Spans around benchmark calls, kept in memory.

    Each span that names a ``group`` also becomes the Spark job group of
    the calls inside it, so the event log attributes their jobs to it."""

    def __init__(self, run_id: str, spark_context):
        self.run_id = run_id
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[tuple[str, str | None]] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        parent = self._stack[-1][0] if self._stack else None
        outer_group = next((g for _, g in reversed(self._stack) if g), None)
        self._stack.append((name, group))
        if group:
            self.sc.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(name, start, end, parent, self.run_id))
            if group:
                if outer_group:
                    self.sc.setJobGroup(outer_group, parent or outer_group)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def seconds(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(self.seconds(name))

    def records(self) -> list[dict]:
        return [vars(s) for s in self.spans]


class NoTracer:
    """The untraced run's stand-in: no spans, no job groups."""

    @contextmanager
    def span(self, name: str, group: str | None = None):
        yield


# -- process tree: CPU time and proportional memory -------------------------

def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # the command name is parenthesised and may hold spaces
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out.setdefault(ppid, []).append(int(entry))
    return out


def _tree(root: int) -> list[int]:
    children = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime of the process and of its waited-for children.  A
    Python worker that exits is waited for by the worker daemon, so its
    time moves into the daemon's child counters and is never lost."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return 0
    fields = stat[stat.rindex(")") + 2:].split()
    return sum(int(x) for x in fields[11:15])  # utime stime cutime cstime


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared among
    n processes counted 1/n times.  The Python workers are forked from one
    daemon and share most of their pages with it, so summing plain RSS
    would count those pages once per worker alive at the moment."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


class ProcTree:
    """CPU seconds of this process's tree (driver Python, the Spark JVM,
    its Python workers) and the peak PSS of the JVM's tree, sampled on a
    background thread while a pass runs."""

    INTERVAL_S = 0.25

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @staticmethod
    def cpu_s() -> float:
        return sum(_cpu_ticks(p) for p in _tree(os.getpid())) / CLK_TCK

    def _sample(self) -> None:
        self.peak = max(self.peak, sum(_pss_bytes(p) for p in _tree(self.jvm)))

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self._sample()

    def __enter__(self) -> "ProcTree":
        self.peak = 0
        self._stop.clear()
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# -- host drift --------------------------------------------------------------

def steal_s() -> float:
    """CPU steal of the whole machine so far, summed over its CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


_CALIB_BLOCK = bytes(range(256)) * 4096  # 1 MiB
_CALIB_ROUNDS = 48


def calib_s() -> float:
    """A fixed single-thread probe that does not depend on the program:
    SHA-256 over 48 MiB.  Its time moves only with the host."""
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(_CALIB_ROUNDS):
        h.update(_CALIB_BLOCK)
    h.digest()
    return time.perf_counter() - t0
