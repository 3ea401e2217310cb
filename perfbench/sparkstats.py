"""Counters read from Spark's in-process status stores through py4j.

Nothing here needs the Spark UI (``spark.ui.enabled=false``): the listener
backed stores exist either way. Jobs are attributed to an operation by the
job group the benchmark sets before it; SQL executions by their ids, which
grow monotonically, so an operation owns every execution started after it
began.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import SparkSession

# SQL metric name -> counter name. The values are task sums.
PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[0-9.]+)\s*([A-Za-z]+)")


def parse_metric(text: str | None) -> float:
    """Total of a formatted SQL metric, in bytes or seconds.

    The store keeps values as display strings: either ``"478 ms"`` or
    ``"total (min, med, max ...)\\n19.6 s (4.8 s, ...)"``.
    """
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m or m.group(2) not in _UNITS:
        return 0.0
    return float(m.group(1)) * _UNITS[m.group(2)]


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


class StatusReader:
    """Per-operation counters: jobs, stages, tasks, executor time, shuffle,
    spill and the Python-worker SQL metrics."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def sql_mark(self) -> int:
        """Id below which every SQL execution already existed."""
        ids = [e.executionId() for e in _seq(self._sql.executionsList())]
        return max(ids) + 1 if ids else 0

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def job_counters(self, job_ids: list[int]) -> Counter:
        out: Counter = Counter()
        stages: set[int] = set()
        for jid in job_ids:
            job = self._store.job(jid)
            out["jobs"] += 1
            out["failed_tasks"] += job.numFailedTasks()
            stages.update(_seq(job.stageIds()))
        for sid in stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stages have no attempt
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def python_counters(self, since_execution: int) -> dict[str, Counter]:
        """Python-worker SQL metrics of executions with id >= the mark,
        keyed by the plan node that ran the Python code."""
        by_node: dict[str, Counter] = {}
        for ex in _seq(self._sql.executionsList()):
            eid = ex.executionId()
            if eid < since_execution:
                continue
            values = self._sql.executionMetrics(eid)
            seen: set[int] = set()
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                for m in _seq(node.metrics()):
                    key = PYTHON_METRICS.get(m.name())
                    acc = m.accumulatorId()
                    if key is None or acc in seen:
                        continue
                    seen.add(acc)
                    v = values.get(acc)
                    text = v.get() if v.isDefined() else None
                    by_node.setdefault(node.desc(), Counter())[key] += parse_metric(text)
        return by_node

    def planning_ms(self, df) -> float:
        """Analysis + optimization + planning time of ``df``'s plan."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        total = 0.0
        while it.hasNext():
            total += it.next()._2().durationMs()
        return total

    def jvm_peak_rss_mb(self) -> float:
        """Peak resident set of the driver JVM (VmHWM), in MiB."""
        pid = self.spark._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0
