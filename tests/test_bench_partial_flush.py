"""bench.py timeout survival (round 11): the r10 driver bench was killed
at the harness's outer timeout and produced ZERO parseable output because
every artifact was emitted only at process end.  These tests pin the
contract that prevents a recurrence:

* incremental flush — after every family, BENCH_LOCAL.json is rewritten
  and a partial headline JSON line is printed (driver tail parser takes
  the LAST line);
* SIGTERM flush — the driver's `timeout` sends SIGTERM first; the
  handler flushes artifacts + one final partial headline before dying;
* diff hygiene — a 0.5 s absolute noise floor on wall-clock rows, and
  exact structural rows (jobs/stages/tasks) only between runs on the
  same cpus, never for a query whose structure varies between reps.

The integration tests drive the real bench.py subprocess at sf0.001 with
SPARK_GRAFT_BENCH_OUT redirected to tmp_path so the committed artifacts
are never touched.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import bench  # noqa: E402

# two trivially-cheap queries with distinct prefixes: with
# SPARK_GRAFT_BENCH_MAX_FAMILY=1 they land in TWO family JVMs, so one
# incremental flush happens between them
_CHEAP = ["p1_filter_pandas_dialect", "p2_wildcard_projection"]


def _env(tmp_path) -> dict:
    env = os.environ.copy()
    env.update({
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        "SPARK_GRAFT_BENCH_OUT": str(tmp_path),
        "SPARK_GRAFT_BENCH_MAX_FAMILY": "1",
        "SPARK_GRAFT_BENCH_BUDGET_SEC": "3600",
    })
    return env


def _json_lines(text: str) -> list[dict]:
    out = []
    for line in text.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                out.append(json.loads(line))
            except json.JSONDecodeError:
                pass
    return out


# ---------------------------------------------------------------------------
# unit: flush machinery (no Spark)
# ---------------------------------------------------------------------------

def _mk_state(tmp_path, monkeypatch, prev_doc=None):
    monkeypatch.setattr(bench, "_OUT_DIR", str(tmp_path))
    st = bench._RunState(0.001, prev_doc or {}, skip_artifacts=False)
    st.families_total = 3
    return st


def test_flush_writes_partial_artifact_and_headline(tmp_path, monkeypatch, capsys):
    st = _mk_state(tmp_path, monkeypatch)
    st.timings = {"q_a": 1.5, "q_b": 0.4}
    st.run_vectors = {"q_a": [2.0, 1.5], "q_b": [0.4]}
    st.first_reps = {"q_a": 2.0, "q_b": 0.4}
    st.families["q"] = ["q_a", "q_b"]
    st.families_done = 1
    st.flush(partial=True)
    doc = json.loads((tmp_path / "BENCH_LOCAL.json").read_text())
    assert doc["partial"] is True
    assert doc["families_done"] == 1 and doc["families_total"] == 3
    assert doc["queries"] == {"q_a": 1.5, "q_b": 0.4}
    assert doc["first_rep_sec"] == {"q_a": 2.0, "q_b": 0.4}
    assert doc["families"] == {"q": ["q_a", "q_b"]}
    head = _json_lines(capsys.readouterr().out)[-1]
    assert head["partial"] is True and head["n_queries"] == 2
    assert head["value"] == pytest.approx(1.9)
    # final flush clears the partial flag in both artifact and headline
    st.families_done = 3
    st.flush(partial=False)
    doc = json.loads((tmp_path / "BENCH_LOCAL.json").read_text())
    assert doc["partial"] is False
    head = _json_lines(capsys.readouterr().out)[-1]
    assert "partial" not in head


def test_diff_noise_floor(tmp_path, monkeypatch, capsys):
    prev = {
        "queries": {"jit_small": 0.2, "real_reg": 2.0, "moved": 3.0},
        "families": {"f1": ["real_reg", "jit_small"], "f2": ["moved"]},
    }
    st = _mk_state(tmp_path, monkeypatch, prev_doc=prev)
    # jit_small doubles but |delta|=0.2 < 0.5 → suppressed;
    # real_reg 2.0→3.5 (1.75x, delta 1.5) and moved 3.0→5.0 → flagged
    st.timings = {"jit_small": 0.4, "real_reg": 3.5, "moved": 5.0}
    st.families = {"f1": ["real_reg", "jit_small"], "f2": ["moved", "newq"]}
    st.families_done = 3
    st.flush(partial=False)
    diff = (tmp_path / "BENCH_diff.md").read_text()
    assert "jit_small" not in diff
    assert "| real_reg | 2.00 | 3.50 | 1.75x |" in diff
    assert "| moved | 3.00 | 5.00 | 1.67x |" in diff


def _counts(jobs, stages, tasks):
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


_SAME = {"build": _counts(3, 4, 10), "write": _counts(1, 1, 4)}


def test_diff_lists_structural_changes_on_same_cpus(tmp_path, monkeypatch, capsys):
    grown = {"build": _counts(5, 4, 10), "write": _counts(1, 1, 4)}
    prev = {
        "queries": {"q_grew": 1.0, "q_same": 1.0},
        "structure": {"q_grew": _SAME, "q_same": _SAME},
        "cpus": 4,
        "sf": 0.001,
    }
    st = _mk_state(tmp_path, monkeypatch, prev_doc=prev)
    st.timings = {"q_grew": 1.0, "q_same": 1.0}
    st.structure = {"q_grew": grown, "q_same": _SAME}
    st.cpus = 4
    st.flush(partial=False)
    diff = (tmp_path / "BENCH_diff.md").read_text()
    assert (
        "| q_grew | 3/4/10 + 1/1/4 | 5/4/10 + 1/1/4 | build jobs +2 |" in diff
    )
    assert "q_same" not in diff
    # the structural rows come before the wall-clock table
    assert diff.index("q_grew") < diff.index("| query | before (s)")
    doc = json.loads((tmp_path / "BENCH_LOCAL.json").read_text())
    assert doc["structure"]["q_grew"] == grown and doc["cpus"] == 4

    # task counts follow the core count: no structural rows across cpus
    # (nor across sf)
    prev["cpus"] = 8
    st = _mk_state(tmp_path, monkeypatch, prev_doc=prev)
    st.timings = {"q_grew": 1.0, "q_same": 1.0}
    st.structure = {"q_grew": grown, "q_same": _SAME}
    st.cpus = 4
    st.flush(partial=False)
    diff = (tmp_path / "BENCH_diff.md").read_text()
    assert "q_grew" not in diff
    assert (
        "Structure not compared: sf 0.001, cpus 8 before; sf 0.001, cpus 4 now"
        in diff
    )


def test_diff_does_not_compare_a_structure_that_varies_between_reps(
    tmp_path, monkeypatch, capsys
):
    """A query whose reps after the first ran different jobs (AQE's stage
    jobs and checkpoint jobs racing for a shared stage) is recorded as
    varying, and BENCH_diff names it instead of listing a change."""
    odd = {"build": _counts(12, 12, 27), "write": _counts(1, 1, 4)}
    assert bench._varies([odd, _SAME, _SAME, odd])
    # the first rep pays schema inference: it alone differing is no variation
    assert not bench._varies([odd, _SAME, _SAME])
    assert not bench._varies([odd, _SAME])
    prev = {
        "queries": {"q_vary": 1.0, "q_was_varying": 1.0},
        "structure": {"q_vary": _SAME, "q_was_varying": _SAME},
        "structure_varying": ["q_was_varying"],
        "cpus": 4,
        "sf": 0.001,
    }
    st = _mk_state(tmp_path, monkeypatch, prev_doc=prev)
    st.timings = {"q_vary": 1.0, "q_was_varying": 1.0}
    st.structure = {"q_vary": odd, "q_was_varying": odd}
    st.varying = {"q_vary"}
    st.cpus = 4
    st.flush(partial=False)
    diff = (tmp_path / "BENCH_diff.md").read_text()
    assert "| q_vary |" not in diff and "| q_was_varying |" not in diff
    assert "| (none) | | | |" in diff
    assert "Varying between reps, not compared: q_vary, q_was_varying" in diff
    doc = json.loads((tmp_path / "BENCH_LOCAL.json").read_text())
    assert doc["structure_varying"] == ["q_vary"]


def test_budget_skip_recorded(tmp_path, monkeypatch, capsys):
    st = _mk_state(tmp_path, monkeypatch)
    st.timings = {"done_q": 1.0}
    st.budget_skipped = ["late_q1", "late_q2"]
    st.families_done = 1
    st.flush(partial=False)
    doc = json.loads((tmp_path / "BENCH_LOCAL.json").read_text())
    assert doc["budget_skipped"] == ["late_q1", "late_q2"]
    head = _json_lines(capsys.readouterr().out)[-1]
    assert head["budget_skipped"] == ["late_q1", "late_q2"]


# ---------------------------------------------------------------------------
# integration: real subprocess at sf0.001 (artifact dir redirected)
# ---------------------------------------------------------------------------

def test_bench_incremental_flush_end_to_end(tmp_path):
    """Two one-query families: the run must print a partial headline
    after family 1 and a final (non-partial) one at the end, with the
    artifact landing after EVERY family."""
    proc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "bench.py"), "--only", *_CHEAP],
        capture_output=True, text=True, env=_env(tmp_path), timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = _json_lines(proc.stdout)
    assert len(lines) >= 2, proc.stdout
    assert any(ln.get("partial") for ln in lines[:-1])
    final = lines[-1]
    assert "partial" not in final
    assert final["n_queries"] == 2 and final["failed_queries"] == 0
    doc = json.loads((tmp_path / "BENCH_LOCAL.json").read_text())
    assert doc["partial"] is False
    assert set(doc["queries"]) == set(_CHEAP)
    assert set(doc["first_rep_sec"]) == set(_CHEAP)
    # every query carries the exact structure of its last rep: the build
    # and the noop write (at least one job), counted separately
    assert set(doc["structure"]) == set(_CHEAP)
    assert doc["cpus"] >= 1
    for name in _CHEAP:
        st = doc["structure"][name]
        assert set(st) == {"build", "write"}, name
        for phase in st.values():
            assert set(phase) == {"jobs", "stages", "tasks"}, name
            assert phase["tasks"] >= phase["stages"], name
        assert st["write"]["jobs"] >= 1 and st["write"]["stages"] >= 1, name


def test_bench_sigterm_flushes_parseable_partial(tmp_path):
    """Kill the run (as the driver's `timeout` does) right after the
    first family's partial headline: the process must still exit having
    printed a parseable partial headline as its LAST stdout line and
    written BENCH_LOCAL.json covering the finished family."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(_REPO, "bench.py"), "--only", *_CHEAP],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        env=_env(tmp_path),
    )
    captured = []
    deadline = time.monotonic() + 300
    try:
        while time.monotonic() < deadline:
            line = proc.stdout.readline()
            if not line:
                break
            captured.append(line)
            if line.lstrip().startswith("{") and '"partial": true' in line:
                break
        else:
            pytest.fail("no partial headline within deadline")
        proc.send_signal(signal.SIGTERM)
        rest, _ = proc.communicate(timeout=60)
        captured.append(rest or "")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    assert proc.returncode == 124  # the handler's exit code
    lines = _json_lines("".join(captured))
    assert lines, "no JSON lines captured"
    last = lines[-1]
    assert last.get("partial") is True
    assert last["n_queries"] >= 1
    doc = json.loads((tmp_path / "BENCH_LOCAL.json").read_text())
    assert doc["partial"] is True and len(doc["queries"]) >= 1


def test_rep_cap_ladder_covers_before_it_skips():
    """The budget ladder must degrade rep quality BEFORE it skips
    queries: full adaptive reps only while the budget is healthy, then
    caps 3 -> 2 -> 1 (the first r11 measurement run burned the whole
    budget on 7 adaptive-rep families and skipped 130 queries)."""
    assert bench._rep_cap(0.0) is None
    assert bench._rep_cap(0.40) is None
    assert bench._rep_cap(0.41) == 3
    assert bench._rep_cap(0.65) == 3
    assert bench._rep_cap(0.66) == 2
    assert bench._rep_cap(0.85) == 2
    assert bench._rep_cap(0.86) == 1
    assert bench._rep_cap(1.5) == 1  # past-budget families (grace) still run
