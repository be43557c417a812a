"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the
host's cores) and prints ONE JSON line: {"metric": ..., "value": total_sec,
"unit": "sec", "queries": {name: sec}, "sf": ...}.

Each query is materialized through the ``noop`` sink — full computation,
no driver-side collection, mirroring a cluster write.

Isolation: queries run in prefix-grouped FAMILIES, one fresh JVM
subprocess per family.  A single 128-query session saturates HotSpot's
code cache and accumulates GC/broadcast state, inflating cheap queries
~4x over their isolated cost (measured round 4: p1 1.07s in-suite vs
0.26s isolated) — the number stops describing the query.  Family
subprocesses bound that state to ~a dozen plans each; session startup is
NOT counted in query timings.

Per-query timing: adaptive reps to a JIT plateau.  Every query runs
twice (caches cleared between runs, data always recomputed); queries
still improving run-to-run get extra reps until stable — >3 s queries
need TWO consecutive run-pairs within 10% (cap 8), others one pair
(cap 3).  The reported number is the min — per-plan JIT compile cost
that amortizes away on a long-lived cluster executor, while each rep
still recomputes all data.  (The flagship astro DAG compiles ~25s of
generated code on a cold JVM and then runs in ~6.5s; min-of-2 would
report the compiler, not the query.)  Full per-query run vectors are
persisted in BENCH_LOCAL.json so false plateaus are visible.

Structure (the exact record): every rep's build (the query function,
with its eager fits, probes and checkpoints) and its noop write are each
counted by ``dataslicer_spark.trace.counted`` — Spark jobs, executed
stages, completed tasks — from the status tracker, with no extra job.
The last rep's counts land in BENCH_LOCAL.json as ``structure`` next to
``cpus`` (the session's defaultParallelism), and BENCH_diff lists every
query whose structure changed ahead of the wall-clock table.  Wall
time on a shared host swings one query 3x between identical reps; the
counts do not move, so a plan regression shows as "+2 build jobs", not
as a guess about host steal.  A query whose reps after the first (the
first pays schema inference) disagree is listed in
``structure_varying`` — the order in which AQE's asynchronous stage jobs
and checkpoint jobs reach the scheduler can decide which job runs a
shared stage — and BENCH_diff names it instead of comparing it.
``--only <query> …`` also prints the per-rep counts to stderr.

Timeout survival (round 11 — r10's driver run was killed at the outer
timeout with ZERO parseable output because everything was emitted only
at process end):

* **Total wall-clock budget** (`SPARK_GRAFT_BENCH_BUDGET_SEC`, default
  1500): rep caps degrade 8 → 3 → 2 → 1 as the budget drains
  (``_rep_cap``; per-family caps recorded in ``rep_cap_by_family``);
  only at 100% are remaining families skipped and listed in
  ``budget_skipped`` — a degraded-but-complete artifact beats a perfect
  artifact that never lands, and COMPLETE coverage at 1 rep beats
  perfect floors for part of the registry (the first r11 run skipped
  130 queries under the old adaptive-until-85% ladder).
* **Incremental durability**: after EVERY family the full artifact set
  (BENCH_LOCAL.json + BENCH_diff.md) is rewritten and a partial
  headline JSON line (``"partial": true``) is printed — the driver's
  tail parser takes the LAST line, so a kill at any point still yields
  a parseable result covering every finished family.
* **SIGTERM flush**: the driver's `timeout` sends SIGTERM before
  SIGKILL; the handler flushes artifacts + a final partial headline
  before exiting.

Cold/warm honesty (round 11): per-query ``first_rep_sec`` (cold
JVM-position cost) is persisted next to the plateau min, and the family
packing is recorded.
"""

from __future__ import annotations

import json
import os
import re
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_HERE = os.path.dirname(os.path.abspath(__file__))
# artifact directory override so tests never clobber the committed
# BENCH_LOCAL.json / BENCH_diff.md
_OUT_DIR = os.environ.get("SPARK_GRAFT_BENCH_OUT", _HERE)

# Family packing: queries grouped by name prefix (same module/fixture →
# shared scan + similar plan shapes), groups merged/split into chunks of
# at most MAX_FAMILY queries. The astro flagship always gets its own JVM:
# its ~40-operator DAG is the code-cache heavyweight.  Env-overridable
# for triage/tests (1 → one JVM per query).
MAX_FAMILY = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_FAMILY", "14"))

# total wall-clock budget for the whole benchmark (seconds).  The r10
# driver run died at the harness's outer timeout with no output at all;
# the budget keeps us comfortably inside it by degrading gracefully —
# see _rep_cap(): full adaptive reps early, then rep caps 3 → 2 → 1 as
# the budget drains, and family skipping (budget_skipped) only as the
# last resort at 100%.  The first r11 measurement run proved the old
# ladder (adaptive until 85%, skip at 100%) wrong: 7 adaptive-rep
# families consumed the whole budget and 130 queries were SKIPPED —
# complete coverage at 1 rep beats perfect floors for a third of the
# registry.
BENCH_BUDGET_SEC = float(
    os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "1500")
)


def _rep_cap(frac_elapsed: float) -> int | None:
    """Per-query rep cap for a family starting at ``frac_elapsed`` of the
    wall-clock budget.  None = full adaptive plateau reps (cap 8); the
    caps trade floor quality for guaranteed coverage as budget drains.
    first_rep_sec / fast_mode in the artifact make the degradation
    self-describing."""
    if frac_elapsed <= 0.40:
        return None
    if frac_elapsed <= 0.65:
        return 3
    if frac_elapsed <= 0.85:
        return 2
    return 1
# diff noise floor: a flagged ratio must also move by at least this many
# absolute seconds — 0.2→0.4 s JIT jitter is not a regression signal
DIFF_MIN_ABS_DELTA_SEC = 0.5


def _family_key(name: str) -> str:
    if name.startswith("astro"):
        # each astro query is a ~40-operator code-cache heavyweight —
        # one JVM each, never share (measured round 4: sharing leaves
        # generated code interpreted once the cache saturates)
        return name
    m = re.match(r"([a-z]+)", name)
    return m.group(1) if m else name


def _pack_families(names: list[str]) -> list[list[str]]:
    """Deterministic packing: registry order preserved inside groups,
    groups >MAX_FAMILY split, consecutive small groups coalesced."""
    groups: list[tuple[str, list[str]]] = []
    for n in names:
        k = _family_key(n)
        if groups and groups[-1][0] == k:
            groups[-1][1].append(n)
        else:
            groups.append((k, [n]))
    # split oversized groups
    chunks: list[list[str]] = []
    for k, g in groups:
        if k == "astro":
            chunks.append(g)
            continue
        for i in range(0, len(g), MAX_FAMILY):
            chunks.append(g[i : i + MAX_FAMILY])
    # coalesce consecutive small chunks (never across the astro chunk)
    packed: list[list[str]] = []
    for c in chunks:
        if (
            packed
            and not c[0].startswith("astro")
            and not packed[-1][0].startswith("astro")
            and len(packed[-1]) + len(c) <= MAX_FAMILY
        ):
            packed[-1].extend(c)
        else:
            packed.append(list(c))
    return packed


def _time_query(
    spark, fn, sf_dir: str, max_reps: int | None = None
) -> tuple[float, list[float], list[dict]]:
    """Adaptive-rep timing of one query; returns
    (plateau_min, run_vector, per-rep {"build", "write"} structure).

    Plateau rule: cheap queries (min ≤ 1 s) stop after 2 runs; mid-range
    stop when the last two runs agree within 10% (cap 3); expensive
    queries (min > 3 s) need TWO consecutive pairs within 10% — the last
    three runs mutually stable — before stopping (cap 8).  The stricter
    rule exists because a slowly-decaying JIT curve can satisfy a single
    pair-agreement long before the floor: round 5's committed artifact
    recorded the astro flagship at 15.4 s when its true steady state was
    6.4 s.  The full run vector is persisted in BENCH_LOCAL.json so a
    false plateau is visible in the artifact.

    ``max_reps`` (fast mode, budget >85% spent) truncates everything:
    max_reps=1 runs each query once — the number then carries the plan's
    cold JIT cost, which the ``first_rep_sec`` honesty field and the
    ``fast_mode`` artifact flag make explicit."""
    from dataslicer_spark.trace import counted

    runs: list[float] = []
    structure: list[dict] = []

    def one() -> None:
        # the clock covers the build and the write only: reading the
        # counts (a listener-bus drain plus one tracker call per job and
        # stage) costs up to ~0.2 s on a 50-job query and is not timed
        secs: list[float] = []

        def timed(f):
            t0 = time.perf_counter()
            out = f()
            secs.append(time.perf_counter() - t0)
            return out

        df, build = counted(spark, lambda: timed(lambda: fn(spark, sf_dir)))
        save = df.write.format("noop").mode("overwrite").save
        _, write = counted(spark, lambda: timed(save))
        runs.append(round(sum(secs), 3))
        structure.append({"build": build, "write": write})
        # drop DataFrames cached inside operators so runs and queries are
        # timed independently (data is recomputed every rep)
        spark.catalog.clearCache()

    def close(a: float, b: float) -> bool:
        return abs(a - b) / max(b, 1e-9) <= 0.10

    one()
    if max_reps is not None and len(runs) >= max_reps:
        return min(runs), runs, structure
    one()
    while True:
        mn = min(runs)
        if mn <= 1.0:
            break
        strict = mn > 3.0
        cap = 8 if strict else 3
        if max_reps is not None:
            cap = min(cap, max_reps)
        if len(runs) >= cap:
            break
        if strict:
            if (
                len(runs) >= 3
                and close(runs[-1], runs[-2])
                and close(runs[-2], runs[-3])
            ):
                break
        elif close(runs[-1], runs[-2]):
            break
        one()
    return min(runs), runs, structure


def child_main(names: list[str]) -> None:
    """Run one family in this process; print a JSON timing map."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    fast = os.environ.get("SPARK_GRAFT_BENCH_MAX_REPS")
    max_reps = int(fast) if fast else None
    import __spark_entry__ as entrymod
    from dataslicer_spark.session import get_spark

    spark = get_spark("bench")
    # JVM/codegen warmup so the first measured query doesn't absorb ~6s
    # of session initialization cost
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    registry = entrymod.queries()
    timings: dict[str, float] = {}
    run_vectors: dict[str, list[float]] = {}
    structure: dict[str, list[dict]] = {}
    for name in names:
        try:
            timings[name], run_vectors[name], structure[name] = _time_query(
                spark, registry[name], sf_dir, max_reps=max_reps
            )
        except Exception as e:  # noqa: BLE001
            print(f"bench: {name} failed: {e}", file=sys.stderr)
            timings[name] = -1.0
            spark.catalog.clearCache()
    print(
        "BENCH_CHILD_JSON:"
        + json.dumps(
            {
                "timings": timings,
                "runs": run_vectors,
                "structure": structure,
                "cpus": spark.sparkContext.defaultParallelism,
            }
        ),
        flush=True,
    )


def _load_prev_doc() -> dict:
    """Snapshot the previous run's artifact ONCE — incremental flushes
    rewrite BENCH_LOCAL.json after every family, so reading it lazily
    would diff this run against its own partial self."""
    try:
        with open(os.path.join(_OUT_DIR, "BENCH_LOCAL.json")) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}


# the structural record: per phase of a rep, what trace.counted reads
_PHASES = ("build", "write")
_COUNTS = ("jobs", "stages", "tasks")


def _fmt_structure(st: dict) -> str:
    """``build jobs/stages/tasks + write jobs/stages/tasks``."""
    return " + ".join(
        "/".join(str(st[p][k]) for k in _COUNTS) for p in _PHASES
    )


def _varies(reps: list[dict]) -> bool:
    """Whether the reps after the first ran different structures."""
    return any(r != reps[1] for r in reps[2:])


def _structure_delta(was: dict, now: dict) -> str:
    """The counts that moved, e.g. ``build jobs +2, write tasks -8``."""
    return ", ".join(
        f"{p} {k} {now[p][k] - was[p][k]:+d}"
        for p in _PHASES
        for k in _COUNTS
        if now[p][k] != was[p][k]
    )


class _RunState:
    """Accumulated benchmark state, flushable at any point (incremental
    per-family flushes, the SIGTERM handler, and the final write all go
    through :meth:`flush`)."""

    def __init__(self, sf: float | None, prev_doc: dict, skip_artifacts: bool):
        self.sf = sf
        self.prev_doc = prev_doc
        self.skip_artifacts = skip_artifacts
        self.timings: dict[str, float] = {}
        self.run_vectors: dict[str, list[float]] = {}
        self.first_reps: dict[str, float] = {}
        # query -> {"build": counts, "write": counts} of its last rep
        self.structure: dict[str, dict] = {}
        # queries whose reps after the first disagree (see _varies)
        self.varying: set[str] = set()
        self.cpus: int | None = None
        self.families: dict[str, list[str]] = {}
        self.budget_skipped: list[str] = []
        self.rep_caps: dict[str, int | None] = {}
        self.fast_mode = False
        self.families_done = 0
        self.families_total = 0

    # -- artifacts ---------------------------------------------------------
    def flush(self, partial: bool) -> None:
        """Rewrite BENCH_LOCAL.json + BENCH_diff.md (full-run mode) and
        print a headline JSON line.  Called after every family so a kill
        at any point leaves a parseable, self-describing artifact."""
        if not self.skip_artifacts:
            try:
                self._write_local(partial)
                self._write_diff()
            except OSError as e:
                print(f"bench: artifact write failed: {e}", file=sys.stderr)
        self._print_headline(partial)

    def _write_local(self, partial: bool) -> None:
        prev = self.prev_doc.get("queries", {})
        # a crashed query (<= 0) must not poison the baseline: keep the
        # previous good value so a recovered query still gets a comparison
        baseline = dict(self.timings)
        for name, t in self.timings.items():
            if t <= 0 and prev.get(name, -1) > 0:
                baseline[name] = prev[name]
        failed_names = sorted(n for n, t in self.timings.items() if t <= 0)
        doc = {
            "sf": self.sf,
            "partial": partial,
            "families_done": self.families_done,
            "families_total": self.families_total,
            "fast_mode": self.fast_mode,
            "queries": baseline,
            "runs": self.run_vectors,
            # exact and host-independent: jobs/stages/tasks of the last
            # rep's build and noop write — comparable across runs at the
            # same sf and `cpus` (task counts follow defaultParallelism)
            "structure": self.structure,
            "structure_varying": sorted(self.varying),
            "cpus": self.cpus,
            # cold-position honesty: the first rep carries the plan's
            # codegen/JIT cost at its JVM position — when family packing
            # changes, THIS moves even though the plan didn't
            "first_rep_sec": self.first_reps,
            "families": {k: sorted(v) for k, v in self.families.items()},
            "failed": failed_names,
            # families never run because the wall-clock budget ran out
            "budget_skipped": sorted(self.budget_skipped),
            "budget_sec": BENCH_BUDGET_SEC,
            # per-family rep cap the budget ladder imposed (None = full
            # adaptive plateau) — a capped family's floor carries more
            # JIT than an uncapped one; compare like with like
            "rep_cap_by_family": self.rep_caps,
        }
        tmp = os.path.join(_OUT_DIR, "BENCH_LOCAL.json.tmp")
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(_OUT_DIR, "BENCH_LOCAL.json"))

    def _structure_lines(self) -> list[str]:
        """The structural section of BENCH_diff: every query whose
        counts changed, when both runs ran at the same sf and cpus."""
        prev = self.prev_doc.get("structure", {})
        if not prev:
            return []
        sf, cpus = self.prev_doc.get("sf"), self.prev_doc.get("cpus")
        if (sf, cpus) != (self.sf, self.cpus):
            return [
                f"Structure not compared: sf {sf}, cpus {cpus} before; "
                f"sf {self.sf}, cpus {self.cpus} now (task counts follow "
                "the data and the core count).",
                "",
            ]
        lines = [
            "## Structure (jobs/stages/tasks, build + write, last rep)",
            "",
            "| query | before | now | change |",
            "|---|---|---|---|",
        ]
        # a structure that varies between identical reps is no change
        varying = self.varying | set(self.prev_doc.get("structure_varying", []))
        changed = [
            (name, prev[name], now)
            for name, now in sorted(self.structure.items())
            if name in prev and prev[name] != now and name not in varying
        ]
        for name, was, now in changed:
            lines.append(
                f"| {name} | {_fmt_structure(was)} | {_fmt_structure(now)} "
                f"| {_structure_delta(was, now)} |"
            )
        if not changed:
            lines.append("| (none) | | | |")
        shown = sorted(varying & set(self.structure))
        if shown:
            lines += ["", "Varying between reps, not compared: " + ", ".join(shown)]
        return lines + ["", "## Wall clock", ""]

    def _write_diff(self) -> None:
        prev = self.prev_doc.get("queries", {})
        if not prev:
            return
        failed = sorted(n for n, t in self.timings.items() if t <= 0)
        lines = [
            "# BENCH diff — current run vs previous BENCH_LOCAL.json",
            "",
            f"Queries: {len(self.timings)} now / {len(prev)} before. "
            "Structural changes are exact; wall-clock rows flag "
            "|log-ratio| >= 1.3x AND |delta| >= "
            f"{DIFF_MIN_ABS_DELTA_SEC} s of the plateau floors.",
            "",
            *(
                ["Failed/crashed queries (baseline retained from previous "
                 "run): " + ", ".join(failed), ""]
                if failed else []
            ),
            *self._structure_lines(),
            "| query | before (s) | now (s) | ratio |",
            "|---|---|---|---|",
        ]
        flagged = []
        for name, now in sorted(self.timings.items()):
            was = prev.get(name)
            if was is None or was <= 0 or now <= 0:
                continue
            ratio = now / was
            if (
                (ratio >= 1.3 or ratio <= 1 / 1.3)
                and max(was, now) >= 0.2
                and abs(now - was) >= DIFF_MIN_ABS_DELTA_SEC
            ):
                flagged.append((ratio, name, was, now))
        for ratio, name, was, now in sorted(flagged, reverse=True):
            lines.append(f"| {name} | {was:.2f} | {now:.2f} | {ratio:.2f}x |")
        if not flagged:
            lines.append("| (none) | | | |")
        new = sorted(set(self.timings) - set(prev))
        gone = sorted(
            set(prev) - set(self.timings) - set(self.budget_skipped)
        )
        if new:
            lines += ["", "New queries: " + ", ".join(new)]
        if gone:
            lines += ["", "Removed queries: " + ", ".join(gone)]
        if self.budget_skipped:
            lines += ["", "Budget-skipped (wall clock ran out): "
                      + ", ".join(sorted(self.budget_skipped))]
        with open(os.path.join(_OUT_DIR, "BENCH_diff.md"), "w") as f:
            f.write("\n".join(lines) + "\n")

    def _print_headline(self, partial: bool) -> None:
        total = round(sum(t for t in self.timings.values() if t >= 0), 3)
        failed = sorted(n for n, t in self.timings.items() if t < 0)
        # the driver records only the LAST ~2000 chars of stdout; a full
        # 160+-entry per-query map (~8 KB) gets head-truncated into an
        # unparseable fragment (round 7's artifact lost ~half the
        # vector).  Headline line stays under that cap: slowest 40
        # queries at one decimal; the COMPLETE per-query vector + run
        # traces are committed in BENCH_LOCAL.json on every flush.
        slowest = dict(
            sorted(
                ((n, round(t, 1)) for n, t in self.timings.items() if t >= 0),
                key=lambda kv: -kv[1],
            )[:40]
        )
        print(json.dumps({
            "metric": "total_query_wall_clock",
            "value": total,
            "unit": "sec",
            "queries": slowest,
            "sf": self.sf,
            "n_queries": len(self.timings),
            "queries_note":
                "slowest 40 shown; full vector in BENCH_LOCAL.json",
            # a partial line means the run was still in progress when
            # this printed — the driver's tail parser takes the LAST
            # line, so a killed run still yields every finished family
            **(
                {
                    "partial": True,
                    "families_done": self.families_done,
                    "families_total": self.families_total,
                }
                if partial else {}
            ),
            **({"fast_mode": True} if self.fast_mode else {}),
            # a crashed family must not read as a speedup in the
            # headline total — failures are called out explicitly
            "failed_queries": len(failed),
            **({"failed": failed} if failed else {}),
            **(
                {"budget_skipped": sorted(self.budget_skipped)}
                if self.budget_skipped else {}
            ),
        }), flush=True)


def _run_family(
    family: list[str], timeout_sec: float, rep_cap: int | None
) -> dict:
    """One child-JVM run of a family; always returns a child dict."""
    env = os.environ.copy()
    if rep_cap is not None:
        env["SPARK_GRAFT_BENCH_MAX_REPS"] = str(rep_cap)
    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--family"]
            + family,
            capture_output=True,
            text=True,
            env=env,
            timeout=timeout_sec,
        )
        stdout, stderr, rc = proc.stdout, proc.stderr, proc.returncode
    except subprocess.TimeoutExpired as e:
        out = e.stdout or ""
        stdout = out.decode() if isinstance(out, bytes) else out
        stderr = f"TIMEOUT after {e.timeout}s"
        rc = -1
    got = None
    for line in stdout.splitlines():
        if line.startswith("BENCH_CHILD_JSON:"):
            got = json.loads(line[len("BENCH_CHILD_JSON:") :])
    if got is None:
        print(
            f"bench: family {family[0]}.. crashed (rc={rc}):\n"
            + stderr[-2000:],
            file=sys.stderr,
        )
        got = {
            "timings": {n: -1.0 for n in family}, "runs": {}, "structure": {}
        }
    return got


def main(only: list[str] | None = None) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    if only:
        # subset drive (testing/triage): prints per-rep structure
        names = [n for n in names if n in set(only)]

    # subset runs must never clobber the committed full-run artifacts —
    # unless the artifact dir was explicitly redirected (tests/triage)
    state = _RunState(
        sf, _load_prev_doc(), bool(only) and _OUT_DIR == _HERE
    )
    t0 = time.monotonic()
    packed = _pack_families(names)
    state.families_total = len(packed)

    # the driver's `timeout` sends SIGTERM first: flush everything we
    # have so the killed run still leaves full artifacts + a parseable
    # (partial) headline as the last stdout line
    def _on_term(signum, frame):  # noqa: ARG001
        print(
            f"bench: signal {signum} — flushing partial artifacts "
            f"({state.families_done}/{state.families_total} families)",
            file=sys.stderr,
        )
        try:
            state.flush(partial=True)
        finally:
            os._exit(124)

    signal.signal(signal.SIGTERM, _on_term)

    child_ceiling = float(os.environ.get("SPARK_GRAFT_BENCH_TIMEOUT", "2400"))
    for fam_idx, family in enumerate(packed):
        elapsed = time.monotonic() - t0
        if elapsed >= BENCH_BUDGET_SEC:
            for rest in packed[fam_idx:]:
                state.budget_skipped.extend(rest)
            print(
                f"bench: budget {BENCH_BUDGET_SEC:.0f}s exhausted after "
                f"{state.families_done}/{state.families_total} families — "
                f"skipping {len(state.budget_skipped)} queries",
                file=sys.stderr,
            )
            break
        frac = elapsed / BENCH_BUDGET_SEC
        rep_cap = _rep_cap(frac)
        state.fast_mode = state.fast_mode or rep_cap == 1
        # one wedged JVM must not stall the whole benchmark, and no
        # family may be given more time than the budget has left
        # (plus a grace margin so a near-deadline family can finish)
        fam_timeout = max(120.0, min(
            child_ceiling, BENCH_BUDGET_SEC - elapsed + 120.0
        ))
        fam_key = family[0]
        state.families[fam_key] = list(family)
        state.rep_caps[fam_key] = rep_cap
        got = _run_family(family, fam_timeout, rep_cap)
        state.timings.update(got["timings"])
        state.run_vectors.update(got["runs"])
        for n, v in got["runs"].items():
            state.first_reps[n] = v[0]
        for n, reps in got["structure"].items():
            state.structure[n] = reps[-1]
            if _varies(reps):
                state.varying.add(n)
            if only:
                for i, (sec, st) in enumerate(zip(got["runs"][n], reps), 1):
                    print(
                        f"bench: {n} rep {i}: {sec:.2f} s, "
                        f"jobs/stages/tasks {_fmt_structure(st)} "
                        "(build + write)",
                        file=sys.stderr,
                    )
        state.cpus = state.cpus or got.get("cpus")
        state.families_done += 1
        # incremental durability: every finished family lands in the
        # artifact + a partial headline immediately — a timeout kill can
        # no longer erase the whole run (r10: rc=124, zero output)
        if state.families_done < state.families_total:
            state.flush(partial=True)

    state.flush(partial=False)


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--family":
        child_main(sys.argv[2:])
    elif len(sys.argv) > 2 and sys.argv[1] == "--only":
        main(only=sys.argv[2:])
    else:
        main()
