import sys
import types

import pytest

from perfbench import spans
from perfbench.spans import Span


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, parent, 0, end=end)


def test_self_time_subtracts_children_on_nested_spans():
    tree = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 2.0, 3.0, parent=1),
        _span(3, 5.0, 9.0, parent=0),
        _span(4, 5.5, 6.0, parent=3),
        _span(5, 8.0, 8.5, parent=3),
    ]
    st = spans.self_times(tree)
    assert st == pytest.approx({0: 3.0, 1: 2.0, 2: 1.0, 3: 3.0, 4: 0.5, 5: 0.5})
    # self times partition the root's wall time
    assert sum(st.values()) == pytest.approx(tree[0].duration)


def test_self_time_clips_overlapping_and_escaping_children():
    tree = [
        _span(0, 0.0, 4.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 5.0, parent=0),
    ]
    assert spans.self_times(tree)[0] == pytest.approx(1.0)


def test_tracer_records_parent_and_iteration_only_when_enabled():
    ends = []
    tr = spans.Tracer(on_end=lambda s: ends.append(s.name))
    with tr.span("off") as sp:
        assert sp is None
    tr.enabled, tr.iteration = True, 4
    with tr.span("outer"):
        with tr.span("inner", query="q"):
            pass
    outer, inner = tr.spans
    assert (outer.parent, inner.parent) == (None, outer.sid)
    assert inner.iteration == 4 and inner.attrs == {"query": "q"}
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert ends == ["inner", "outer"]
    assert spans.self_time_by_name(tr.spans)["outer"] == pytest.approx(
        outer.duration - inner.duration
    )


def test_wrappers_replace_the_function_where_it_was_imported(monkeypatch):
    ops = types.ModuleType("dataslicer_spark_fake.ops")
    user = types.ModuleType("dataslicer_spark_fake.user")

    def pagerank(x):
        return x + 1

    ops.pagerank = user.pagerank = pagerank
    monkeypatch.setitem(sys.modules, "dataslicer_spark_fake.ops", ops)
    monkeypatch.setitem(sys.modules, "dataslicer_spark_fake.user", user)
    tr = spans.Tracer()
    spans.install_wrappers(tr, calls=(("dataslicer_spark_fake.ops", "pagerank"),))
    assert ops.pagerank is user.pagerank is not pagerank
    tr.enabled = True
    assert user.pagerank(1) == 2
    assert [s.name for s in tr.spans] == ["op.ops.pagerank"]
