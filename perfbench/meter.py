"""Host and Spark meters, read from outside the program.

- Process tree: CPU seconds and memory (Pss) of this process and
  every descendant (the Spark JVM and its Python workers), from /proc.
- Host: CPU count, RAM, library versions and hypervisor steal.
- Spark: executed-plan SQL metrics and stage/task data from the status
  stores, which stay reachable with the web UI off.
"""

from __future__ import annotations

import os
import platform
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")


# -- process tree --------------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name; index i = field i + 3
    return s.rsplit(")", 1)[1].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(d))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """utime+stime of the live tree plus what its members reaped."""
    ticks = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK


def tree_pss_mb() -> float:
    """Resident memory of the tree, each shared page split among the
    processes sharing it (Pss), so forked workers are not counted twice."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            pass
    return total_kb / 2**10


class MemSampler:
    """Peak memory (Pss) of the process tree, sampled in a thread;
    `take()` returns the peak since the previous `take()`. Sampling is
    sparse because reading a process's smaps takes its memory-map lock,
    which stalls the JVM it measures."""

    def __init__(self, period_s: float = 1.0):
        self.period_s = period_s
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            mem = tree_pss_mb()
            with self._lock:
                self._peak = max(self._peak, mem)
            self._stop.wait(self.period_s)

    def take(self) -> float:
        mem = tree_pss_mb()
        with self._lock:
            peak, self._peak = max(self._peak, mem), 0.0
        return peak

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- host ------------------------------------------------------------------------

def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies of the host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return sum(vals), vals[7]


def steal_frac(a: tuple[int, int], b: tuple[int, int]) -> float:
    dt = b[0] - a[0]
    return (b[1] - a[1]) / dt if dt > 0 else 0.0


def calibration() -> dict[str, float]:
    """Host speed from two fixed kernels, median of 5 each: a
    pure-Python loop (core speed) and a 256 MiB numpy pass (memory
    bandwidth). For telling host weather, which /proc steal does not
    always show, apart from a regression."""
    import numpy as np

    def loop() -> None:
        acc = 0
        for i in range(500_000):
            acc += i * i % 7

    a = np.ones(2**25)
    out = {}
    for name, fn in (("calib_py_s", loop), ("calib_mem_s", a.sum)):
        walls = []
        for _ in range(5):
            t = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t)
        out[name] = statistics.median(walls)
    return out


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_block() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": nproc(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
    }


# -- Spark status stores ---------------------------------------------------------

_UNITS = {
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"^(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric as a number: sizes in MiB, times in s,
    counts as counts. Aggregated metrics carry the total on the line
    after their "total (min, med, max ...)" header."""
    line = text.strip().split("\n")[-1].strip()
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


# SQL metric name -> per-layer key (summed over an op's executions)
SQL_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_sent_mb",
    "data returned from Python workers": "python_returned_mb",
    "shuffle bytes written": "shuffle_write_mb",
    "shuffle write time": "shuffle_write_s",
    "scan time": "scan_s",
    "spill size": "spill_mb",
}


@dataclass
class Execution:
    id: int
    description: str
    start: float  # epoch seconds
    end: float
    metrics: dict[str, float] = field(default_factory=dict)
    stage_ids: list[int] = field(default_factory=list)


def _it(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkStatus:
    def __init__(self, spark):
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()

    def last_execution_id(self) -> int:
        return max((e.executionId() for e in _it(self._sql.executionsList())),
                   default=-1)

    def executions(self, after: int, upto: int) -> list[Execution]:
        """Completed SQL executions with after < id <= upto."""
        out = []
        for e in _it(self._sql.executionsList()):
            eid = e.executionId()
            if not after < eid <= upto or not e.completionTime().isDefined():
                continue
            ex = Execution(
                eid, e.description(), e.submissionTime() / 1000.0,
                e.completionTime().get().getTime() / 1000.0,
            )
            vals = self._sql.executionMetrics(eid)
            for node in _it(self._sql.planGraph(eid).allNodes()):
                for m in _it(node.metrics()):
                    key = SQL_METRICS.get(m.name())
                    v = vals.get(m.accumulatorId())
                    if key and v.isDefined():
                        ex.metrics[key] = ex.metrics.get(key, 0.0) + parse_metric(v.get())
            for job in _it(e.jobs().keys()):
                try:
                    ex.stage_ids.extend(_it(self._app.job(int(job)).stageIds()))
                except Exception:  # job data evicted from the store
                    pass
            out.append(ex)
        return sorted(out, key=lambda x: x.id)

    def gc_s(self) -> float:
        """Cumulative JVM GC time of all executors."""
        return sum(x.totalGCTime() for x in _it(self._app.executorList(True))) / 1000.0

    def task_skew(self, stage_ids: list[int]) -> float:
        """max / median task time in the busiest stage of `stage_ids`."""
        best, busiest = -1, None
        for sid in set(stage_ids):
            try:
                st = self._app.lastStageAttempt(sid)
            except Exception:  # stage skipped or evicted
                continue
            if st.executorRunTime() > best:
                best, busiest = st.executorRunTime(), st
        if busiest is None:
            return 1.0
        durs = [
            t.duration().get() for t in _it(self._app.taskList(
                busiest.stageId(), busiest.attemptId(), 100_000))
            if t.duration().isDefined()
        ]
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med > 0 else 1.0
