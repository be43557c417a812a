"""In-memory span tracer and the wrappers that open spans around the
program's public layer functions.

A span records a name, start, end, parent span and iteration id.  Spans stay
in memory until the run writes them out.  A span's self time is its duration
minus the part of its interval that its child spans cover.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

#: operator calls that get a span, as (module, function); the span is named
#: ``op.<last module component>.<function>``
OPERATOR_CALLS = (
    ("dataslicer_spark.operators.joins", "merge_metadata_to_sources"),
    ("dataslicer_spark.operators.clustering", "dbscan"),
    ("dataslicer_spark.operators.spatial", "crossmatch_sky"),
    ("dataslicer_spark.functions.photometry", "calmag"),
    ("dataslicer_spark.operators.joins", "select_clusters"),
    ("dataslicer_spark.operators.dedup_index", "build_minhash_index"),
    ("dataslicer_spark.operators.dedup_index", "dedup_against_minhash_index"),
    ("dataslicer_spark.operators.graph", "pagerank"),
    ("dataslicer_spark.operators.classifier", "hashed_bow_features"),
    ("dataslicer_spark.operators.classifier", "batch_perceptron_fit"),
    ("dataslicer_spark.operators.kmeans", "kmeans"),
)
#: helper calls that get a span named ``utils.<function>``
UTILS_CALLS = (
    ("dataslicer_spark.utils", "spread"),
    ("dataslicer_spark.utils", "materialize"),
)


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    iteration: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans while ``enabled``; ``span()`` is a no-op otherwise.

    ``on_start``/``on_end`` run at each span boundary (outside the span's
    recorded interval) to attach counts measured where the work happens."""

    def __init__(
        self,
        on_start: Callable[[Span], None] | None = None,
        on_end: Callable[[Span], None] | None = None,
    ):
        self.spans: list[Span] = []
        self.enabled = False
        self.iteration: int | None = None
        self._stack: list[Span] = []
        self._on_start = on_start
        self._on_end = on_end

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, 0.0, parent, self.iteration, attrs=attrs)
        if self._on_start:
            self._on_start(sp)
        self.spans.append(sp)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._on_end:
                self._on_end(sp)

    def records(self) -> list[dict]:
        return [
            {"sid": s.sid, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "iteration": s.iteration, **s.attrs}
            for s in self.spans
        ]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: duration minus the union of its children's
    intervals (clipped to the parent's interval)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(kids[s.sid], key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.sid] = s.duration - covered
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += st[s.sid]
    return dict(out)


def span_name(module: str, func: str) -> str:
    prefix = "utils" if module == "dataslicer_spark.utils" else "op." + module.rsplit(".", 1)[1]
    return f"{prefix}.{func}"


def _spanning(tracer: Tracer, name: str, fn: Callable) -> Callable:
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


def install_wrappers(tracer: Tracer, calls=OPERATOR_CALLS + UTILS_CALLS) -> None:
    """Wrap each (module, function) so every call opens a span, in the
    defining module and in every loaded ``dataslicer_spark`` module that
    imported the same function object.  Modules imported later keep the
    originals, so install after the workload has run once."""
    for module, func in calls:
        orig = getattr(importlib.import_module(module), func)
        wrapper = _spanning(tracer, span_name(module, func), orig)
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith("dataslicer_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)
