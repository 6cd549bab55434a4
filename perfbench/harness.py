"""Shared run state for the workloads: session, tracer, counters,
checks, and the measurements every workload reports the same way."""

from __future__ import annotations

import os
import statistics
import subprocess
import threading
import time
import traceback
from contextlib import contextmanager

from tracing import Tracer


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float]:
    """(value, percentile): the highest percentile that still has at
    least ``beyond`` samples above it. When that percentile would not
    lie above the median (fewer than ``2 * beyond + 1`` samples) the
    maximum is returned, with percentile 100."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    k = n - beyond - 1  # xs[k] has exactly `beyond` samples above it
    if k < n // 2:
        return xs[-1], 100.0
    return xs[k], round(100.0 * (k + 1) / n, 1)


def slope(ys: list[float]) -> float:
    """Least-squares slope of ``ys`` against their index."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(ys) / n
    den = sum((i - mx) ** 2 for i in range(n))
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / den


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def _stat_fields(pid: int) -> list[str] | None:
    """/proc/<pid>/stat fields after the command name (which may hold
    spaces): index 1 is the ppid, 11-14 are utime, stime, cutime, cstime."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def process_tree() -> list[int]:
    """This process and all its descendants (the JVM and the Python
    workers it forks), minus JVM children caught between vfork and exec,
    which share the JVM's pages."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                parent[int(name)] = int(fields[1])
    tree = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return [p for p in tree if not _exe(p) == _exe(parent.get(p, 0)) == "java"]


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, including children
    it has already reaped."""
    total = 0
    for pid in process_tree():
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


class RssSampler:
    """Peak resident set size of the process tree, sampled every 500 ms
    (the JVM heap is committed up front, so the peak moves slowly, and
    a sparse sampler adds little CPU to the measured tree)."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(0.5)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        return self.peak_bytes / 2**20


def lake_stats(lake_dir: str) -> dict[str, int]:
    """Parquet files, their bytes, and manifests under a lake root."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(lake_dir):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    mdir = os.path.join(lake_dir, "_manifests")
    manifests = (
        sum(1 for n in os.listdir(mdir) if n.endswith(".json"))
        if os.path.isdir(mdir)
        else 0
    )
    return {"files": files, "bytes": size, "manifests": manifests}


class Run:
    """One benchmark run: owns the work directory, the tracer, the
    operation counters and the metrics a workload fills in."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer(enabled=trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup_s = 0.0
        self.e2e: dict[str, float] = {}  # contract metric name -> value
        self.named: dict[str, tuple[float, str]] = {}  # named metric -> (value, unit)
        self.layer: dict[str, float] = {}  # per-layer metric -> value
        self.notes: dict[str, float] = {}  # run facts printed with the named metrics

    def start_session(self) -> None:
        from collect_mobile_devices_datalake_spark import session

        with self.tracer.span("session.start"):
            self.spark = session.get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.tracer.sc = self.spark.sparkContext

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and the workers it forked) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None

    def settle(self) -> None:
        """Read the Spark job counts of every span recorded so far."""
        if self.spark is not None:
            time.sleep(0.5)  # let the listener bus deliver the last job events
            self.tracer.resolve_spark_counts()

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    @contextmanager
    def op(self, what: str):
        """One operation: counted as attempted; an exception raised inside
        counts it as failed and the run goes on."""
        self.attempted += 1
        try:
            yield
        except Exception:  # the run must survive a failing operation
            self.fail(what, traceback.format_exc(limit=3))

    def fail(self, what: str, detail: str = "") -> None:
        self.failed += 1
        self.failures.append(f"{what}: {detail}".strip())

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        """A correctness check is one operation; a false check fails it."""
        self.attempted += 1
        if not ok:
            self.fail(what, detail)
