"""Shared plumbing for the benchmark workloads.

Everything a run writes lives under ``.perfbench/`` at the checkout root:
``cache/`` holds seeded inputs (safe to delete), ``run-<pid>/`` the tables
one run builds (deleted when the run ends), ``spark-local/`` and ``tmp/``
Spark's and Python's scratch space.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
CACHE = WORK / "cache"
CACHE_KEEP = 8  # input sets (one per workload and seed) kept between runs

# local[k] with k <= nproc, shuffle partitions fixed, a driver heap that
# leaves room on a 15 GB box shared with other processes
CORES = min(4, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = CORES  # the session factory's own default
DRIVER_MEMORY = "3g"

_CLK = os.sysconf("SC_CLK_TCK")


def prepare_env() -> None:
    """Point every scratch directory of Spark, the JVM and Python inside
    the checkout. Must run before the JVM starts."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    (WORK / "spark-local").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None


def start_session(app: str, event_log_dir: Path | None = None):
    """The engine's own session factory, at fixed parallelism."""
    from omop_meds_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
    }
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir.as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name=app, cores=CORES,
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``, read from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                pass
    out, frontier = [], [root]
    while frontier:
        top = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == top]
        out += kids
        frontier += kids
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _reap() -> None:
    """Collect every ended child of this process."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def shutdown(grace_s: float = 30.0) -> None:
    """Stop Spark, its JVM and every other process this one started, and
    wait until each has ended.

    The gateway JVM exits by itself only once it reads EOF on its stdin,
    i.e. after this process is gone, and the Python workers the JVM forks
    exit after it; so without this the JVM and its workers outlive the run.
    Safe to call on any path out of a run, with or without a session.
    """
    from pyspark import SparkContext

    family = _descendants(os.getpid())
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # a dead JVM still has to be waited for
            pass
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()  # EOF: the JVM's gateway server calls System.exit
        except OSError:
            pass
        try:
            proc.wait(grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    from multiprocessing import resource_tracker

    stop_tracker = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop_tracker is not None:
        stop_tracker()
    # whatever is left: Python workers orphaned by the JVM, pool workers
    deadline = time.monotonic() + grace_s
    family = set(family) | set(_descendants(os.getpid()))
    while True:
        _reap()
        left = [p for p in family if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


class Procs:
    """CPU time and peak RSS of the Spark driver's Python process plus its
    JVM, read from /proc. Stolen time is not charged to a process, so CPU
    time holds still while the host's speed swings."""

    def __init__(self, spark):
        self.pids = [os.getpid(),
                     int(spark.sparkContext._jvm.java.lang.ProcessHandle
                         .current().pid())]

    def cpu_s(self) -> float:
        total = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])  # utime + stime
        return total / _CLK

    def peak_rss_mb(self) -> float:
        kb = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        return kb / 1024


def host_sample() -> dict:
    """Host state that explains a slow run; printed beside the metrics,
    never a metric itself."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load = f.read().split()
    return {"steal_s": int(cpu[8]) / _CLK, "load1": float(load[0]),
            "t": time.monotonic()}


def host_diag(before: dict, after: dict) -> dict:
    return {"stolen_cpu_s": round(after["steal_s"] - before["steal_s"], 2),
            "load1_start": before["load1"], "load1_end": after["load1"],
            "wall_s": round(after["t"] - before["t"], 1)}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def dir_bytes(root: Path, pattern: str = "*.parquet") -> tuple[int, int]:
    """(file count, total bytes) of the files under ``root``."""
    n = size = 0
    for p in root.rglob(pattern):
        n += 1
        size += p.stat().st_size
    return n, size


def head_bytes(table) -> int:
    """Bytes of the data files the table's head manifest references."""
    m = table.latest() or {"files": {}}
    return sum((table.root / f).stat().st_size
               for fs in m["files"].values() for f in fs)


def prune_cache() -> None:
    """Keep the inputs of the most recently used seeds only."""
    if CACHE.exists():
        entries = sorted(CACHE.iterdir(), key=lambda p: p.stat().st_mtime)
        for p in entries[:-CACHE_KEEP]:
            shutil.rmtree(p, ignore_errors=True)


def run_dir() -> Path:
    d = WORK / f"run-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


class Result:
    """Operation counts, checks and metrics of one run; ``emit`` prints
    the run's closing JSON line."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, dict] = {}

    def op(self, n: int = 1) -> None:
        self.attempted += n

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; a wrong answer is a failed one."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": value, "unit": unit}

    def emit(self, info: dict) -> None:
        for p in self.problems:
            print("WRONG:", p)
        print("info:", json.dumps(info, sort_keys=True))
        print(json.dumps({"correct": self.failed == 0,
                          "attempted": self.attempted,
                          "failed": self.failed,
                          "metrics": self.metrics}))


def process_start() -> float:
    """``time.monotonic()`` at the moment this process was started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.monotonic() - (uptime - start_ticks / _CLK)


def last_job_id(spark) -> int:
    """Highest Spark job id so far; job ids are sequential, so the
    difference across a call is the number of jobs it launched."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1)
