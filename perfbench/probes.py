"""Counters read from outside the package: process CPU and memory from
``/proc`` (psutil is not available), and Spark's own task and SQL metrics
from the live status stores, which exist with the UI disabled."""

from __future__ import annotations

import os
import re
import statistics
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_start_monotonic() -> float:
    """``time.monotonic()`` value at which this process started (both
    clocks count from boot on Linux)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[19]) / _CLK_TCK


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(st[11]) + int(st[12])
    return total


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree (the JVM and its Python
    workers), including reaped children, without the JVM's JIT compiler
    threads: compiling is not work done on rows, and it was the part that
    varied most between runs of the same job."""
    total = -_jit_ticks(root)
    for pid in process_tree(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def tree_peak_rss_mb(root: int) -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    kib = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            pass
    return kib / 1024.0


# --- Spark status stores ---------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_TOTAL_RE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# display names of the Arrow UDF metrics (PythonSQLMetrics)
PY_TOTAL = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric (``'1,234'``, ``'15 ms'``, or
    ``'total (min, med, max ...)\\n4.6 s (...)'``) in bytes, seconds or
    units."""
    line = text.strip().splitlines()[-1]
    m = _TOTAL_RE.match(line)
    if m is None:
        raise ValueError(f"unparseable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


@dataclass
class Counters:
    """Spark's own counters for the jobs and SQL executions of one span."""

    jobs: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    # max / median task duration of each stage that read a shuffle
    shuffle_read_skews: list[float] = field(default_factory=list)
    sql: dict[str, float] = field(default_factory=dict)
    # (physical plan description, wall seconds) of each SQL execution
    executions: list[tuple[str, float]] = field(default_factory=list)


class SparkStores:
    """Reads the live ``AppStatusStore`` and ``SQLAppStatusStore``.

    ``mark()`` returns a watermark; ``since(mark)`` sums everything that
    ran after it.  The benchmark is a closed loop with one client, so ids
    above the watermark belong to the span being measured."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm
        self._app = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters

    def _drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _jobs(self):
        return list(self._conv.asJava(self._app.jobsList(None)))

    def mark(self) -> tuple[int, int]:
        self._drain()
        job_ids = [j.jobId() for j in self._jobs()]
        exec_ids = [e.executionId() for e in self._conv.asJava(self._sql.executionsList())]
        return max(job_ids, default=-1), max(exec_ids, default=-1)

    def since(self, mark: tuple[int, int]) -> Counters:
        self._drain()
        job_mark, exec_mark = mark
        c = Counters()
        stage_ids: set[int] = set()
        for j in self._jobs():
            if j.jobId() > job_mark:
                c.jobs += 1
                stage_ids.update(int(s) for s in self._conv.asJava(j.stageIds()))
        no_quantiles = self._sc._gateway.new_array(self._jvm.double, 0)
        for s in self._conv.asJava(
            self._app.stageList(None, False, False, no_quantiles, None)
        ):
            if s.stageId() not in stage_ids or s.status().toString() != "COMPLETE":
                continue
            c.tasks += s.numCompleteTasks()
            c.task_run_s += s.executorRunTime() / 1e3
            c.task_cpu_s += s.executorCpuTime() / 1e9
            c.gc_s += s.jvmGcTime() / 1e3
            c.shuffle_write_bytes += s.shuffleWriteBytes()
            c.shuffle_fetch_wait_s += s.shuffleFetchWaitTime() / 1e3
            c.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
            durations = []
            for t in self._conv.asJava(
                self._app.taskList(s.stageId(), s.attemptId(), 100000)
            ):
                c.scheduler_delay_s += (
                    self._jvm.org.apache.spark.status.AppStatusUtils.schedulerDelay(t) / 1e3
                )
                if t.duration().isDefined():
                    durations.append(t.duration().get())
            if s.shuffleReadRecords() > 0 and durations:
                c.shuffle_read_skews.append(
                    max(durations) / max(statistics.median(durations), 1)
                )
        for e in self._conv.asJava(self._sql.executionsList()):
            if e.executionId() <= exec_mark:
                continue
            end = e.completionTime().get().getTime() if e.completionTime().isDefined() else None
            c.executions.append(
                (
                    e.physicalPlanDescription(),
                    (end - e.submissionTime()) / 1e3 if end is not None else float("nan"),
                )
            )
            values = self._conv.asJava(self._sql.executionMetrics(e.executionId()))
            for m in self._conv.asJava(e.metrics()):
                text = values.get(m.accumulatorId())
                if text is not None and m.name() in (
                    PY_TOTAL, PY_BOOT, PY_INIT, PY_SENT, PY_RECEIVED
                ):
                    c.sql[m.name()] = c.sql.get(m.name(), 0.0) + parse_sql_metric(text)
        return c
