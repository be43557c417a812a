"""Per-operator row-count provenance — the reference's logged invariants
as a first-class, scale-free surface.

The reference logs ``"… %d rows survived"`` after every filter
(dataset_base.py:224-229): pandas is eager, so the count is free.  A
naive Spark port would ``count()`` after every stage — one extra full
job per operator, catastrophic at 100 TB.  This module keeps the same
contract with ZERO extra jobs via Spark **Observations**
(``df.observe``): each traced stage attaches a metric expression to the
plan, and every stage's row count is harvested from the SAME action
that eventually materializes the frame.  Tracing a 40-stage pipeline
costs 40 counter accumulators, not 40 jobs.

Usage::

    trace = TraceLog()
    out = (SlicerFrame(df).traced(trace)
           .query_df("mag < 20")
           .trim_edges(10, 10)[0]
           .df)
    out.write.parquet(...)          # ONE action fills every stage
    trace.rows()                    # [("query_df", 5819), ("trim_edges", 5020)]
    trace.to_df(spark)              # side table (stage, label, rows)

Observation caveat (inherent to lazy engines): a stage's count is
available only after an action has executed the observed plan; calling
``rows()`` earlier raises.  Branches that are never materialized report
``None`` with ``rows(strict=False)``.

:func:`counted` is the structural twin: the Spark jobs, executed stages
and tasks one call ran, read from the status tracker with zero extra
jobs.  Unlike wall time, these counts do not move with host load.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

T = TypeVar("T")


class TraceLog:
    """Ordered collection of (label, Observation) stage records."""

    def __init__(self) -> None:
        self._stages: list[tuple[str, Observation]] = []

    def record(self, label: str, df: DataFrame) -> DataFrame:
        """Attach a row-count observation to ``df`` under ``label`` and
        return the observed frame (use the RETURNED frame downstream —
        the metric rides the returned plan)."""
        obs = Observation()
        out = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        self._stages.append((label, obs))
        return out

    def __len__(self) -> int:
        return len(self._stages)

    @staticmethod
    def _ready(obs: Observation) -> bool:
        """Non-blocking readiness probe: the Python API only exposes the
        BLOCKING ``Observation.get``, so check the JVM side's
        ``getOrEmpty`` (empty until the observed plan's first action
        completes).  Under Spark Connect there is no ``_jo`` handle —
        the connect-side Observation instead fills ``_result`` when the
        observed action's metrics arrive, so probe that.  Conservative
        (not-ready) on any reflection failure."""
        try:
            jo = getattr(obs, "_jo", None)  # noqa: SLF001 — no public probe
            if jo is not None:
                return not jo.getOrEmpty().isEmpty()
            # Spark Connect path: pyspark.sql.connect.observation stores
            # the metrics dict in _result once the action completes
            res = getattr(obs, "_result", None)
            return bool(res)
        except Exception:  # noqa: BLE001
            return False

    def rows(self, strict: bool = True) -> list[tuple[str, int | None]]:
        """(label, row_count) per traced stage, in trace order.

        ``strict=True`` raises if any stage's plan has not yet been
        executed by an action; ``strict=False`` reports ``None`` for
        those stages instead (e.g. a rejected-complement branch that was
        never written anywhere)."""
        out: list[tuple[str, int | None]] = []
        for label, obs in self._stages:
            if self._ready(obs):
                out.append((label, int(obs.get["rows"])))
            elif strict:
                raise RuntimeError(
                    f"trace stage {label!r} has no metrics yet — run an "
                    "action on the traced frame first, or pass strict=False"
                )
            else:
                out.append((label, None))
        return out

    def to_df(self, spark: SparkSession, strict: bool = True) -> DataFrame:
        """The provenance side table: (stage, label, rows) — one row per
        traced stage, stage = 1-based position in pipeline order."""
        data = [
            (i + 1, label, n)
            for i, (label, n) in enumerate(self.rows(strict=strict))
        ]
        from .utils import local_df

        return local_df(spark, data, "stage int, label string, rows long")


# the local properties setJobGroup writes; counted() restores them
_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def counted(spark: SparkSession, fn: Callable[[], T]) -> tuple[T, dict[str, int]]:
    """``(fn(), {"jobs", "stages", "tasks"})``: the Spark jobs ``fn`` ran,
    their executed stages and those stages' completed tasks.

    ``fn`` runs under a job group of its own (the caller's group and
    description come back afterwards).  The counts are read from the
    status tracker once the listener bus is drained, so counting runs no
    job.  A stage shared by several jobs counts once; a skipped stage (0
    completed tasks: its shuffle output already existed) counts not at
    all.  Jobs ``fn`` runs under a job group of its own are not counted.
    """
    sc = spark.sparkContext
    group = f"counted.{uuid.uuid4().hex}"
    prev = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
    # the tracker is fed by the listener bus: drain it before reading
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = {
        s for j in jobs if (job := tracker.getJobInfo(j)) for s in job.stageIds
    }
    ran = [
        st.numCompletedTasks
        for s in stage_ids
        if (st := tracker.getStageInfo(s)) and st.numCompletedTasks > 0
    ]
    return out, {"jobs": len(jobs), "stages": len(ran), "tasks": sum(ran)}


__all__ = ["TraceLog", "counted"]
