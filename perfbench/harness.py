"""Shared benchmark machinery: Spark session, timing loop, statistics, RSS.

Everything here is workload-agnostic. A workload (see workloads.py) supplies
set-up, one timed iteration, and an output check; this module times the
set-ups, runs the closed loop for a fixed wall-clock window, and samples
memory.
"""

from __future__ import annotations

import contextlib
import math
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

MASTER = "local[4]"
CPUS = "4"
# standard percentiles; a timing reports the highest one that still has at
# least ten samples beyond it
PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def configure_env(root: str, work: str) -> None:
    """Point every path Spark, the JVM and Python workers write to inside
    `work`, and make the package importable in the Python workers (they are
    forked by the JVM and do not inherit this process's sys.path)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    # every JVM (spark-submit's launcher too): temp files under `work`, and
    # no hsperfdata file (HotSpot writes it to /tmp whatever java.io.tmpdir)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"


def start_spark(work: str):
    from mvt_wrangler_spark.session import get_spark

    spark = get_spark(master=MASTER, app_name="perfbench", extra={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait until
    every child process (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    me = os.getpid()
    deadline = time.monotonic() + 30
    while (left := [p for p in _tree_pids(me) if p != me]):
        if time.monotonic() > deadline:
            for pid in left:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.2)


def gc_seconds(spark) -> float:
    """Accumulated GC time of the driver JVM (in local mode the executors
    live in the same JVM)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def quantile(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile of an already sorted list."""
    k = math.ceil(p / 100.0 * len(sorted_vals)) - 1
    return sorted_vals[max(0, min(len(sorted_vals) - 1, k))]


def describe(values: list[float]) -> dict:
    """Median, sample count, and the highest standard percentile with at
    least ten samples beyond it (None when there are fewer than 20)."""
    s = sorted(values)
    out = {"n": len(s), "median": statistics.median(s), "tail": None}
    for p in PERCENTILES:
        if len(s) * (1.0 - p / 100.0) >= 10:
            out["tail"] = (p, quantile(s, p))
    return out


def aging(times: list[float]) -> bool:
    """True when iteration times rise steadily within one JVM: at least
    three iterations, each slower than the one before, and the last over
    20% slower than the first."""
    if len(times) < 3:
        return False
    rising = all(b > a for a, b in zip(times, times[1:]))
    return rising and times[-1] > 1.2 * times[0]


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

def _tree_pids(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root_pid: int) -> float:
    """User + system CPU time of the process tree under root_pid, including
    the children its processes have reaped (Python workers that exited)."""
    total = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        total += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:15])
    return total / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """Wall time and the CPU time of this process tree (Python driver,
    JVM, Python workers) spent inside a `with` block."""

    def __enter__(self) -> "Stopwatch":
        self._cpu0 = tree_cpu_seconds(os.getpid())
        self._wall0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._wall0
        self.cpu = tree_cpu_seconds(os.getpid()) - self._cpu0


def tree_rss_bytes(root_pid: int) -> dict[str, int]:
    """Resident bytes of the process tree under root_pid, split into the
    JVM, Python workers and the rest (this process)."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {"jvm": 0, "workers": 0, "driver": 0}
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        kind = "jvm" if b"java" in cmd else "workers" if b"pyspark" in cmd else "driver"
        out[kind] += rss
    return out


class RssSampler:
    """Samples the resident set of this process and all its descendants
    (driver JVM, Python workers) every `interval` seconds; keeps the peak
    of each part."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.parts = {"jvm": 0, "workers": 0, "driver": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            now = tree_rss_bytes(pid)
            for k, v in now.items():
                self.parts[k] = max(self.parts[k], v)
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def timed_setups(workload, repeats: int) -> list[float]:
    """Run the workload's set-up `repeats` times, each into a fresh
    directory; the last one's inputs stay in place for the timed loop."""
    times = []
    for k in range(repeats):
        t0 = time.perf_counter()
        workload.setup(k)
        times.append(time.perf_counter() - t0)
        log(f"{workload.name} setup {k}: {times[-1]:.3f} s")
    return times


class Loop:
    """Closed loop, one client: the next iteration starts when the previous
    one and its output check have finished. Records every iteration's
    timings in order and counts attempts and failures."""

    def __init__(self, workload):
        self.workload = workload
        self.samples: list[dict] = []
        self.attempted = 0
        self.failed = 0

    def one(self, keep: bool = True, tracer=None) -> dict | None:
        index = self.attempted
        self.attempted += 1
        try:
            if tracer is not None:
                tracer.iteration = index
            try:
                rec = self.workload.iterate(index, traced=tracer is not None)
            finally:
                if tracer is not None:
                    tracer.iteration = None
            problems = self.workload.check(rec)
        except Exception as exc:  # an iteration that raises counts as failed
            traceback.print_exc(file=sys.stderr)
            problems = [f"raised {type(exc).__name__}: {exc}"]
        if problems:
            self.failed += 1
            log(f"{self.workload.name} iteration {index} FAILED: {problems}")
            return None
        if keep:
            self.samples.append(rec)
        log(f"{self.workload.name} iteration {index}: "
            + ", ".join(f"{k}={v:.4f}" for k, v in rec["timings"].items()))
        return rec

    def warm_up(self, iterations: int) -> None:
        """Unkept (but checked) iterations: the JIT, Spark's codegen cache
        and the Python workers warm up. The first iteration of a session
        takes about twice as long as the second, the second about 1.3x the
        later ones."""
        for _ in range(iterations):
            self.one(keep=False)

    def run_for(self, seconds: float, min_iterations: int = 2) -> None:
        """Iterate until `seconds` of wall time have passed and at least
        `min_iterations` have run (iteration cost still falls slowly after
        the warm-up, so a slow host must not time fewer iterations)."""
        t_end = time.perf_counter() + seconds
        n = 0
        while n < min_iterations or time.perf_counter() < t_end:
            self.one()
            n += 1
