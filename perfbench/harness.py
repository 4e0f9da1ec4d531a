"""Measuring pieces shared by the workloads: environment pinning, machine
CPU and peak RSS, spans, Spark's own counters, and the state-isolation
check. Importing this module starts nothing; the objects do.
"""

from __future__ import annotations

import json
import math
import os
import shlex
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = max(1, min(4, os.cpu_count() or 1))   # Spark runs as local[CPUS]
HZ = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def pin_environment(root: str, cpus: int, driver_mem: str) -> dict:
    """Export everything Spark and its Python workers must see before the
    JVM starts: the package on PYTHONPATH (workers import it by name, so
    the run does not depend on the cwd), no bytecode writes into the
    checkout, and every temporary directory under ``root``."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    tmp = os.path.join(root, "tmp")
    path = os.environ.get("PYTHONPATH")
    env = {
        "PYTHONPATH": REPO + (os.pathsep + path if path else ""),
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(root, "spark-local"),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote("spark.sql.warehouse.dir="
                                  + os.path.join(root, "warehouse")),
            "--driver-java-options",
            # no hsperfdata file under /tmp
            shlex.quote(f"-Djava.io.tmpdir={tmp} "
                        f"-Dderby.system.home={tmp} -XX:-UsePerfData"),
            "pyspark-shell"]),
    }
    os.environ.update(env)
    sys.path.insert(0, REPO)
    sys.dont_write_bytecode = True
    return env


# --- statistics ---------------------------------------------------------------

def pct(values, p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sequence."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def median(values) -> float:
    s = sorted(values)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


# --- machine CPU and memory ----------------------------------------------------

def proc_stat() -> tuple[float, float]:
    """Machine-wide (busy, steal) CPU seconds from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return (user + nice + system + irq + softirq) / HZ, steal / HZ


class Meter:
    """Sums wall, machine CPU and steal seconds over timed windows."""

    def __init__(self):
        self.wall = self.cpu = self.steal = 0.0

    @contextmanager
    def window(self):
        c0, s0 = proc_stat()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall += time.perf_counter() - t0
            c1, s1 = proc_stat()
            self.cpu += c1 - c0
            self.steal += s1 - s0


def yardstick(reps: int = 5) -> float:
    """Thread CPU seconds of a fixed memory-copy task that does not touch
    the program, median of ``reps``. It slows with the host, not with the
    program, so it witnesses the host's speed at the time it runs; run it
    only while the program is idle."""
    blob = bytes(32 * 2 ** 20)
    times = []
    for _ in range(reps):
        t0 = time.thread_time()
        for _ in range(4):
            bytearray(blob)
        times.append(time.thread_time() - t0)
    return median(times)


def _tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def tree_rss_bytes(pid: int) -> int:
    """RSS of ``pid`` and all its descendants (JVM, Python workers)."""
    total = 0
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the process tree's RSS every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --- spans ---------------------------------------------------------------------

class Tracer:
    """In-memory spans around calls into the program's layers. A
    disabled tracer records nothing, so untraced runs pay one branch."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name]


# --- Spark's own counters --------------------------------------------------------

_SQL_UNITS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6, "B": 1.0,
              "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
              "TiB": 1024.0 ** 4}
PY_METRICS = {"time to start Python workers": "py_start_ms",
              "time to initialize Python workers": "py_init_ms",
              "time to run Python workers": "py_run_ms",
              "data sent to Python workers": "arrow_bytes_sent",
              "data returned from Python workers": "arrow_bytes_returned"}


def parse_sql_metric(value: str) -> float:
    """'2.1 s' / '640.0 B' / 'total (min, med, max ...)\\n7.2 s (...)'
    -> a number in ms or bytes."""
    toks = value.strip().splitlines()[-1].split()
    num = float(toks[0].replace(",", ""))
    return num * _SQL_UNITS.get(toks[1] if len(toks) > 1 else "", 1.0)


class SparkCounters:
    """Reads the local Spark UI's REST API. Call only after the timed
    call has returned: the first request costs seconds."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def group(self, group: str) -> dict:
        """Totals over every job tagged with job group ``group``."""
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        out = {"jobs": len(jobs), "tasks": 0, "executor_cpu_s": 0.0,
               "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
               "input_bytes": 0}
        out.update({v: 0.0 for v in PY_METRICS.values()})
        if not jobs:
            return out
        for st in self._get("/stages"):
            if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                continue
            out["tasks"] += st["numCompleteTasks"]
            out["executor_cpu_s"] += st["executorCpuTime"] / 1e9
            out["gc_s"] += st["jvmGcTime"] / 1e3
            out["shuffle_bytes"] += (st["shuffleReadBytes"]
                                     + st["shuffleWriteBytes"])
            out["spill_bytes"] += (st["memoryBytesSpilled"]
                                   + st["diskBytesSpilled"])
            out["input_bytes"] += st["inputBytes"]
        for ex in self._get("/sql?details=true&planDescription=false"):
            if not job_ids & set(ex.get("successJobIds", [])
                                 + ex.get("failedJobIds", [])):
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    key = PY_METRICS.get(m["name"])
                    if key:
                        out[key] += parse_sql_metric(m["value"])
        return out


# --- child processes ---------------------------------------------------------------

def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a Python
    worker whose parent JVM exits is re-parented here, not to init, so
    ``stop_descendants`` still finds it and can wait for it."""
    import ctypes
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1,
                                            0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _running(pids: list[int]) -> list[int]:
    out = []
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state != "Z":
            out.append(p)
    return out


def stop_descendants(grace_s: float = 30.0) -> list[int]:
    """Stop every process this one started and wait until each has ended.

    The Spark JVM is asked first, the way PySpark expects it to go: its
    gateway shuts down and its stdin closes, so it exits and runs its
    shutdown hooks, which stop the Python workers. Whatever is still
    running after ``grace_s`` gets SIGTERM, then SIGKILL. Returns the pids
    still running at the end (empty unless a process survived SIGKILL)."""
    import signal
    import subprocess
    me = os.getpid()
    ctx = sys.modules.get("pyspark.core.context") \
        or sys.modules.get("pyspark.context")
    gateway = getattr(getattr(ctx, "SparkContext", None), "_gateway", None)
    if gateway is not None:
        jvm = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may be gone already
            pass
        if jvm is not None:
            try:
                jvm.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                jvm.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        ctx.SparkContext._gateway = None
        ctx.SparkContext._jvm = None
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + (grace_s if sig is None else 10.0)
        for p in _running(_tree(me)[1:]) if sig else ():
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        while True:
            _reap()
            left = _running(_tree(me)[1:])
            if not left or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not left:
            break
    _reap()
    return left


# --- state isolation ---------------------------------------------------------------

def tree_snapshot(top: str, skip: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file under ``top`` outside ``skip``."""
    out = {}
    for d, dirs, files in os.walk(top):
        dirs[:] = [x for x in dirs
                   if os.path.join(d, x) != skip]
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.lstat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def stray_writes(before: dict, after: dict) -> list[str]:
    """Files created, changed or removed between two snapshots."""
    return sorted(p for p in before.keys() | after.keys()
                  if before.get(p) != after.get(p))
