"""Host and session pinning, host facts, and /proc readers.

Everything here runs in the benchmark process before (or beside) the
Spark session; none of it changes the engine's code, only the knobs the
engine already reads from the environment.
"""

from __future__ import annotations

import os
import shlex
import sys
import threading


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(root: str, work: str) -> dict:
    """Pin the session knobs the engine reads, before the JVM starts.

    * ``SPARK_GRAFT_CPUS`` = the CPUs this process may run on, so the
      session is ``local[nproc]``.
    * ``CUVS_SPARK_DRIVER_MEM`` well below host RAM (the engine's own
      default is sized for a much larger host).
    * ``PYTHONPATH`` so Python workers can import the engine.
    * ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVMs' ``java.io.tmpdir``
      inside the checkout's work directory, and no JVM perf-data file,
      so nothing is written outside the checkout.
    * BLAS thread variables removed, so the engine's own default (one
      BLAS thread per Spark task) applies whatever the caller's shell
      exported.
    Returns the pinned values for the report."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = host_ram_mb()
    driver_mb = min(1024, ram_mb // 4)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    old_pp = os.environ.get("PYTHONPATH")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "CUVS_SPARK_DRIVER_MEM": f"{driver_mb}m",
        "PYTHONPATH": root + (os.pathsep + old_pp if old_pp else ""),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LAUNCHER_OPTS": java_opts,       # the launcher's own JVM
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options {shlex.quote(java_opts)} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    }
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
              "CUVS_SPARK_BLAS_THREADS"):
        os.environ.pop(v, None)
    os.environ.update(pinned)
    return {"nproc": cpus, "ram_mb": ram_mb,
            "driver_mem": pinned["CUVS_SPARK_DRIVER_MEM"],
            "spark_local_dirs": "<checkout>/" + os.path.relpath(local, root)}


def versions(spark) -> dict:
    import numpy
    import pyspark
    return {"spark": spark.version, "pyspark": pyspark.__version__,
            "numpy": numpy.__version__,
            "java": spark.sparkContext._jvm.java.lang.System
            .getProperty("java.version"),
            "python": sys.version.split()[0]}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root_pid: int) -> set[int]:
    """Every live process below ``root_pid``."""
    kids = _children()
    found, todo = set(), list(kids.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        found.add(pid)
        todo.extend(kids.get(pid, ()))
    return found


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants (the
    benchmark process, the JVM it launched and the JVM's Python
    workers)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in descendants(root_pid) | {root_pid}:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's resident set on a background thread
    and keeps the peak. ``stop()`` joins the thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="rss-sampler")

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])          # user..steal; guest is inside user
    return delta[7] / total if total > 0 else 0.0
