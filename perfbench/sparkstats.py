"""Read per-layer counts from a live SparkSession's status stores.

Everything here reads state Spark already keeps (the core and SQL status
stores work with the UI disabled) and fires no Spark job.  Jobs are
attributed to a benchmark span through the job group set around it.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

#: SQL metric names on the Python evaluation nodes
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def parse_metric(text: str) -> float:
    """A SQL metric's display string as a number: bytes for sizes, seconds
    for durations, the plain value otherwise.  Multi-task metrics render as
    ``total (min, med, max ...)\\n<total> (...)``; the total is used."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _SIZE.get(unit, _TIME_S.get(unit, 1))


def is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


class SparkProbe:
    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self._core = spark._jsc.sc()
        self._store = self._core.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = self.sc.statusTracker()
        self._last_exec = self._max_execution_id()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def group_jobs(self, group: str | None) -> list[int]:
        """Job ids of ``group``; ``None`` gives the jobs run without one."""
        return sorted(self._tracker.getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> list[dict]:
        """Executed (not skipped) stages of ``job_ids``, once each."""
        seen: set[int] = set()
        out = []
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                d = self._store.lastStageAttempt(sid)
                if d.status().toString() == "SKIPPED":
                    continue
                out.append({
                    "tasks": d.numTasks(),
                    "failed_tasks": d.numFailedTasks(),
                    "run_s": d.executorRunTime() / 1e3,
                    "cpu_s": d.executorCpuTime() / 1e9,
                    "gc_s": d.jvmGcTime() / 1e3,
                    "input_bytes": d.inputBytes(),
                    "input_rows": d.inputRecords(),
                    "shuffle_write_bytes": d.shuffleWriteBytes(),
                    "shuffle_read_bytes": d.shuffleReadBytes(),
                    "spill_bytes": d.memoryBytesSpilled() + d.diskBytesSpilled(),
                })
        return out

    @staticmethod
    def catalyst_ms(df: DataFrame) -> dict[str, float]:
        """Analysis/optimization/planning time of ``df``'s own query
        execution (plans it if it was not planned yet; runs no job)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            p = phases.get(phase)
            out[phase] = float(p.get().durationMs()) if p.isDefined() else 0.0
        return out

    def cache_bytes(self) -> int:
        """Memory plus disk bytes of every persisted RDD right now."""
        return sum(r.memSize() + r.diskSize() for r in self._core.getRDDStorageInfo())

    def _max_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        last = self._sql.executionsList(n - 1, 1)
        return last.apply(0).executionId() if last.size() else -1

    def new_executions(self) -> list[dict]:
        """SQL executions finished since the previous call: their job group
        (the description Spark copies from it) and the plan nodes of
        interest with their metric values."""
        n = self._sql.executionsCount()
        window = self._sql.executionsList(max(0, n - 500), 500)
        out = []
        for i in range(window.size()):
            ex = window.apply(i)
            eid = ex.executionId()
            if eid <= self._last_exec:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            exchanges = broadcasts = 0
            py = {"nodes": 0, "udf_s": 0.0, "bytes_to_worker": 0.0, "bytes_from_worker": 0.0}
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                if name == "Exchange":
                    exchanges += 1
                elif name == "BroadcastExchange":
                    broadcasts += 1
                elif is_python_node(name):
                    py["nodes"] += 1
                    metrics = node.metrics()
                    for m in range(metrics.size()):
                        metric = metrics.apply(m)
                        key = {PY_TIME: "udf_s", PY_SENT: "bytes_to_worker",
                               PY_RECV: "bytes_from_worker"}.get(metric.name())
                        v = values.get(metric.accumulatorId())
                        if key and v.isDefined():
                            py[key] += parse_metric(v.get())
            out.append({
                "id": eid, "group": ex.description() or "",
                "exchanges": exchanges, "broadcast_exchanges": broadcasts, "python": py,
            })
            self._last_exec = max(self._last_exec, eid)
        return out
