"""Measurement probes read from outside the program: Spark's own status
stores, ``/proc`` memory of the process tree, and the host descriptor.

Nothing here changes what Spark executes; every reader runs after the
work it describes, once the listener bus has drained.
"""

from __future__ import annotations

import os
import platform
import re
import threading

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def host() -> dict:
    import pyarrow
    import pyspark

    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_model": model,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``'10,000'``, ``'14 ms'`` or
    ``'total (min, med, max (stageId: taskId))\\n9.2 s (...)'`` —
    seconds for timings, bytes for sizes."""
    last = text.split("\n")[-1].split(" (")[0].strip()
    m = re.fullmatch(r"([\d,.]+)\s*([A-Za-z]*)", last)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    if unit:
        raise ValueError(f"unknown SQL metric unit {text!r}")
    return value


class SparkCounters:
    """Reads the SQL and core status stores of one session."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = self._sc.statusStore()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(60000)

    def executions(self, since_ms: int, until_ms: int | None = None) -> list[dict]:
        """SQL executions submitted in ``[since_ms, until_ms]``, oldest
        first: id, start/end (ms) and job ids."""
        self._drain()
        out = []
        it = self._sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            sub = int(e.submissionTime())
            if sub < since_ms or (until_ms is not None and sub > until_ms):
                continue
            done = e.completionTime()
            jobs = []
            jit = e.jobs().keys().iterator()
            while jit.hasNext():
                jobs.append(int(jit.next()))
            out.append(
                {
                    "id": int(e.executionId()),
                    "start_ms": sub,
                    "end_ms": int(done.get().getTime()) if done.isDefined() else None,
                    "jobs": sorted(jobs),
                }
            )
        out.sort(key=lambda e: e["id"])
        return out

    def node_metrics(self, execution_id: int) -> list[tuple[str, str, float]]:
        """(node name, metric name, value) for every plan node metric."""
        self._drain()
        values = self._sql.executionMetrics(execution_id)
        out = []
        nodes = self._sql.planGraph(execution_id).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            mit = node.metrics().iterator()
            while mit.hasNext():
                metric = mit.next()
                v = values.get(metric.accumulatorId())
                if v.isDefined():
                    out.append((node.name().strip(), metric.name(), parse_metric(v.get())))
        return out

    def metric_sum(self, executions: list[dict], node: str, metric: str) -> float:
        return sum(
            v
            for e in executions
            for n, m, v in self.node_metrics(e["id"])
            if n == node and m == metric
        )

    def jobs_between(self, since_ms: int, until_ms: int) -> list[int]:
        """Ids of the jobs submitted in ``[since_ms, until_ms]``."""
        self._drain()
        out = []
        it = self._core.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            sub = j.submissionTime()
            if sub.isDefined() and since_ms <= sub.get().getTime() <= until_ms:
                out.append(int(j.jobId()))
        return out

    def job_totals(self, job_ids: list[int]) -> dict:
        """Tasks and shuffle bytes written of the jobs' stages (raw
        task-metric sums)."""
        self._drain()
        tot = {"tasks": 0, "shuffle_write_bytes": 0}
        for jid in job_ids:
            job = self._core.job(jid)
            tot["tasks"] += int(job.numTasks())
            sit = job.stageIds().iterator()
            while sit.hasNext():
                sid = int(sit.next())
                try:
                    st = self._core.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                tot["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
        return tot


def _children(pid_map: dict[int, list[int]], root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        kids = pid_map.get(p, [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident memory of every descendant of ``root`` (the Spark driver
    JVM and the Python workers it forks), from ``/proc``."""
    pid_map: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        pid_map.setdefault(ppid, []).append(int(d))
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _children(pid_map, root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Background sampler of :func:`tree_rss_bytes` for this process."""

    def __init__(self, interval_s: float = 0.1):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
