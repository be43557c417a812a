import pytest

from perfbench.sparkstats import is_python_node, parse_metric


@pytest.mark.parametrize("text, value", [
    ("1,024", 1024.0),
    ("0 ms", 0.0),
    ("345 ms", 0.345),
    ("1.5 s", 1.5),
    ("2.0 m", 120.0),
    ("5.3 KiB", 5.3 * 1024),
    ("total (min, med, max (stageId: taskId))\n16.9 KiB (4.2 KiB, 4.2 KiB, 4.2 KiB (stage 19.0: task 24))",
     16.9 * 1024),
    ("total (min, med, max (stageId: taskId))\n1.5 s (296 ms, 376 ms, 503 ms (stage 19.0: task 27))", 1.5),
    ("16.1 MiB", 16.1 * 2**20),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_python_nodes():
    assert all(map(is_python_node, ["ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                                    "FlatMapGroupsInPandas", "MapInArrow"]))
    assert not any(map(is_python_node, ["Exchange", "BroadcastExchange", "Project"]))
