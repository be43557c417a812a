"""Run one benchmark workload: one client, closed loop, ``local[nproc]``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

From the repository root.  The run generates the workload's tables from the
seed, sets the program up once in this fresh process (import, JVM launch,
warm-up query, the workload's one-time set-up), evaluates the DuckDB oracle,
runs one untimed warm-up iteration and then iterations back to back for
``--seconds`` (at least one).  An iteration calls each of the workload's
registry query functions (building the query and running its eager jobs)
and writes the result with the parquet sink; every written result is
checked against the oracle.

``--trace 0`` reports the end-to-end metrics and ``--trace 1`` the
per-layer metrics that BENCHMARK.json lists.  A traced run traces every
other iteration; the difference between traced and untraced iterations is
the tracing overhead.  Each run writes its full record (samples, spans,
per-operator and min/max structural counts) to ``.perfbench_out/``.  The
last line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_FILES = ("__spark_entry__.py", "dataslicer_spark", os.path.join("scripts", "check_oracle.py"))

WARMUP_ITERATIONS = 1
DRIVER_MEM = "2g"  # SPARK_DRIVER_MEM default; session.py's own default is 64g

#: units of the end-to-end figures a run prints besides those BENCHMARK.json
#: lists: rows_per_s is pipeline_s.p50 over the input rows, and peak RSS does
#: not repeat within a tenth
UNITS = {"rows_per_s": "rows/s", "peak_rss_mb": "MB"}


def declared_metrics(trace: int) -> dict[str, str]:
    """Name → unit of the metrics BENCHMARK.json lists for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    return {m["name"]: m["unit"] for m in doc["per_layer" if trace else "end_to_end"]}


#: per-iteration counts that are structural; the artifact gives their min/max
STRUCTURAL = (
    "plans.eager_jobs", "plans.eager_stages", "plans.eager_tasks",
    "action.jobs", "action.stages", "action.tasks",
    "plan.exchanges", "plan.broadcast_exchanges", "python.nodes",
    "utils.spread.calls", "utils.materialize.calls", "op.calls",
)


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> int:
    """Keep every file the run and its JVM/Python workers write inside
    ``work``; fix the core count.  Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(cores),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=(os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + java_opts).strip(),
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    tempfile.tempdir = tmp
    os.chdir(work)
    return cores


class Run:
    def __init__(self, args, work: str, cores: int):
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.cores = cores
        self.data = os.path.join(work, "data")
        self.sink = os.path.join(work, "sink")
        self.tmp = tempfile.gettempdir()
        self.spark = None
        self.probe = None
        self.tracer = None
        self.group = None

    # -- set-up ----------------------------------------------------------
    def setup(self) -> dict:
        """The program's start in this fresh process: importing it, launching
        the JVM through ``get_spark``, a warm-up query over every input
        table and the workload's one-time set-up."""
        t0 = time.perf_counter()
        from dataslicer_spark.session import get_spark

        import __spark_entry__

        self.fns = {q: __spark_entry__.queries()[q] for q in self.wl.queries}
        t1 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t2 = time.perf_counter()
        for t in self.wl.tables:
            self.spark.read.parquet(os.path.join(self.data, f"{t}.parquet")).count()
        if self.wl.setup_query:
            self.fns[self.wl.setup_query](self.spark, self.data)
        return {"setup_s": time.perf_counter() - t0, "session_start_s": t2 - t1}

    # -- one iteration ---------------------------------------------------
    def _group(self, name: str) -> None:
        if self.tracer.enabled:
            self.group = name
            self.probe.set_group(name)

    def iteration(self, i: int, expected) -> dict:
        from perfbench.metrics import written_since
        from perfbench.oracle import check_written
        from perfbench.workloads import index_dirs

        tr = self.tracer
        tr.iteration = i
        rec: dict = {"i": i, "traced": tr.enabled, "catalyst_ms": {}}
        since = time.time_ns()
        t0 = time.perf_counter()
        with tr.span("iteration"):
            for q in self.wl.queries:
                self._group(f"perfbench.{i}.{q}.plans")
                with tr.span("plans", query=q):
                    df = self.fns[q](self.spark, self.data)
                if tr.enabled:
                    with tr.span("catalyst", query=q):
                        rec["catalyst_ms"][q] = self.probe.catalyst_ms(df)
                self._group(f"perfbench.{i}.{q}.action")
                with tr.span("action", query=q):
                    df.write.mode("overwrite").parquet(os.path.join(self.sink, q))
        rec["wall_s"] = time.perf_counter() - t0
        rec["problems"] = {
            q: p for q in self.wl.queries
            if (p := check_written(q, os.path.join(self.sink, q), expected[q]))
        }
        rec["written_bytes"], rec["written_files"] = written_since(
            [self.sink, *index_dirs(self.tmp)], since
        )
        return rec

    def safe_iteration(self, i: int, expected) -> dict:
        try:
            return self.iteration(i, expected)
        except Exception:  # noqa: BLE001 - a failed iteration is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            return {"i": i, "traced": self.tracer.enabled, "error": traceback.format_exc(limit=3)}

    # -- tracing hooks ---------------------------------------------------
    def _span_start(self, sp) -> None:
        if sp.name.startswith(("op.", "utils.")):
            sp.attrs["jobs_before"] = self.probe.group_jobs(self.group)

    def _span_end(self, sp) -> None:
        if sp.name.startswith(("op.", "utils.")):
            before = set(sp.attrs.pop("jobs_before"))
            sp.attrs["jobs"] = [j for j in self.probe.group_jobs(self.group) if j not in before]
        sp.attrs["cache_bytes"] = self.probe.cache_bytes()

    # -- main loop -------------------------------------------------------
    def execute(self) -> tuple[dict, dict]:
        from perfbench import datagen, metrics, oracle, spans, sparkstats

        a = self.args
        knobs = datagen.generate(a.seed, self.data)
        art: dict = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cores": self.cores, "clients": 1, "loop": "closed",
            "driver_mem": os.environ["SPARK_DRIVER_MEM"],
            "knobs": datagen.knobs_dict(knobs),
            "input_rows": datagen.table_rows(self.data, self.wl.tables),
            "input_bytes": datagen.table_bytes(self.data, self.wl.tables),
        }
        art.update(self.setup())
        t = time.perf_counter()
        expected = oracle.expected_frames(self.wl.queries, self.data)
        art["oracle_s"] = time.perf_counter() - t
        art["oracle_rows"] = {q: len(f) for q, f in expected.items()}
        self.tracer = spans.Tracer(self._span_start, self._span_end)
        self.probe = sparkstats.SparkProbe(self.spark)
        self.jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        warm = [self.safe_iteration(-1 - k, expected) for k in range(WARMUP_ITERATIONS)]
        art["warmup"] = [_brief(r) for r in warm]
        if a.trace:
            spans.install_wrappers(self.tracer)
        metrics.reset_peak_rss(metrics.process_tree(self.jvm))
        jobs_before = self.probe.group_jobs(None)
        iters: list[dict] = []
        start = time.perf_counter()
        # a traced run traces every other iteration, with an untraced one on
        # each side of the first: iterations still speed up as the JIT warms,
        # and the overhead compares a traced one with its untraced neighbours
        while len(iters) < 1 + 2 * a.trace or time.perf_counter() - start < a.seconds:
            i = len(iters)
            self.tracer.enabled = bool(a.trace) and i % 2 == 1
            rec = self.safe_iteration(i, expected)
            if self.tracer.enabled and "error" not in rec:
                rec["layers"] = self.collect(rec)
                self.probe.set_group("perfbench.untraced")
            self.tracer.enabled = False
            iters.append(rec)
        art["timed_s"] = time.perf_counter() - start
        peak = metrics.peak_rss_bytes(metrics.process_tree(self.jvm))
        jobs = len(set(self.probe.group_jobs(None)) - set(jobs_before))
        self.shutdown()

        failed = [r for r in iters if "error" in r or r["problems"]]
        ok = [r for r in iters if r not in failed]
        art["iterations"] = [_brief(r) for r in iters]
        art["attempted"], art["failed"] = len(iters), len(failed)
        art["failed_frac"] = len(failed) / len(iters)
        walls = [r["wall_s"] for r in ok if not r["traced"]]
        e2e: dict = {}
        if walls:
            s = metrics.summarize(walls)
            e2e = {
                "setup_s": art["setup_s"],
                "spark_jobs_per_iteration": jobs / len(iters),
                "pipeline_s.p50": s["p50"],
                "rows_per_s": art["input_rows"] / s["p50"],
                "peak_rss_mb": peak / 2**20,
                "written_bytes_per_input_byte":
                    statistics.median(r["written_bytes"] for r in ok) / art["input_bytes"],
            }
            art["pipeline_s"] = s
        art["end_to_end"] = e2e
        if a.trace:
            art["per_layer"], art["per_layer_detail"] = self.layer_summary(iters, art)
            art["per_layer"]["peak_rss_mb"] = peak / 2**20
            art["spans"] = self.tracer.records()
        declared = declared_metrics(a.trace)
        source = art.get("per_layer", {}) if a.trace else e2e
        art["missing_metrics"] = [k for k in declared if k not in source]
        correct = (
            not failed and bool(walls) and not art["missing_metrics"]
            and all("error" not in r and not r["problems"] for r in warm)
        )
        result = {
            "correct": correct,
            "attempted": len(iters),
            "failed": len(failed),
            "metrics": {
                k: {"value": source[k], "unit": u} for k, u in declared.items() if k in source
            },
        }
        return result, art

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python workers)
        to exit; safe to call again."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- per-layer collection (after a traced iteration, outside its wall) --
    def collect(self, rec: dict) -> dict:
        from perfbench.spans import self_time_by_name, self_times

        i = rec["i"]
        spans = [s for s in self.tracer.spans if s.iteration == i]
        st = self_times(spans)
        by_name = self_time_by_name(spans)
        layer: dict = {}
        stages: dict[str, list[dict]] = {}
        for kind in ("plans", "action"):
            jobs, stg = [], []
            for q in self.wl.queries:
                j = self.probe.group_jobs(f"perfbench.{i}.{q}.{kind}")
                jobs += j
                stg += self.probe.stages(j)
            stages[kind] = stg
            prefix = "plans.eager_" if kind == "plans" else "action."
            layer[f"{prefix}jobs"] = len(jobs)
            layer[f"{prefix}stages"] = len(stg)
            layer[f"{prefix}tasks"] = sum(s["tasks"] for s in stg)
        layer["plans.build_s"] = sum(s.duration for s in spans if s.name == "plans")
        layer["plans.self_s"] = by_name.get("plans", 0.0)
        layer["action.s"] = sum(s.duration for s in spans if s.name == "action")
        layer["catalyst.s"] = sum(s.duration for s in spans if s.name == "catalyst")
        # catalyst.*_ms, exec.gc_s, python.udf_s and utils.*.s stay in the
        # record only: whole ms, often 0, rendered to 0.1 s, 0 when uncalled
        for phase in ("analysis", "optimization", "planning"):
            layer[f"catalyst.{phase}_ms"] = sum(c[phase] for c in rec["catalyst_ms"].values())
        every = stages["plans"] + stages["action"]
        run_s = sum(s["run_s"] for s in every)
        layer.update({
            "exec.run_s": run_s,
            "exec.cpu_s": sum(s["cpu_s"] for s in every),
            "exec.gc_s": sum(s["gc_s"] for s in every),
            "exec.utilization": run_s / (rec["wall_s"] * self.cores),
            "exec.one_task_stage_frac":
                sum(s["tasks"] == 1 for s in every) / len(every) if every else 0.0,
            "exec.failed_tasks": sum(s["failed_tasks"] for s in every),
            "exec.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in every),
            "exec.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in every),
            "exec.spill_bytes": sum(s["spill_bytes"] for s in every),
            "sources.read_bytes": sum(s["input_bytes"] for s in every),
            "sources.read_rows": sum(s["input_rows"] for s in every),
            "sources.write_bytes": rec["written_bytes"],
            "sources.write_files": rec["written_files"],
        })
        execs = [e for e in self.probe.new_executions() if e["group"].startswith(f"perfbench.{i}.")]
        action_execs = [e for e in execs if e["group"].endswith(".action")]
        layer["plan.exchanges"] = sum(e["exchanges"] for e in action_execs)
        layer["plan.broadcast_exchanges"] = sum(e["broadcast_exchanges"] for e in action_execs)
        for k in ("nodes", "udf_s", "bytes_to_worker", "bytes_from_worker"):
            layer[f"python.{k}"] = sum(e["python"][k] for e in execs)
        for u in ("spread", "materialize"):
            calls = [s for s in spans if s.name == f"utils.{u}"]
            layer[f"utils.{u}.calls"] = len(calls)
            layer[f"utils.{u}.s"] = sum(s.duration for s in calls)
        ops = [s for s in spans if s.name.startswith("op.")]
        outer = [s for s in ops if not _inside(s, ops, spans)]
        layer["op.calls"] = len(ops)
        layer["op.s"] = sum(s.duration for s in outer)
        layer["op.self_s"] = sum(st[s.sid] for s in ops)
        layer["cache.peak_bytes"] = max((s.attrs.get("cache_bytes", 0) for s in spans), default=0)
        layer["trace.unaccounted_s"] = by_name.get("iteration", 0.0)
        per_op: dict = {}
        for s in ops + [s for s in spans if s.name.startswith("utils.")]:
            d = per_op.setdefault(s.name, {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0, "stages": 0})
            d["calls"] += 1
            d["s"] += s.duration
            d["self_s"] += st[s.sid]
            d["jobs"] += len(s.attrs.get("jobs", []))
            d["stages"] += len(self.probe.stages(s.attrs.get("jobs", [])))
        return {"metrics": layer, "self_s": by_name, "ops": per_op}

    def layer_summary(self, iters: list[dict], art: dict) -> tuple[dict, dict]:
        traced = [r for r in iters if "layers" in r]
        if not traced:
            return {}, {}
        names = traced[0]["layers"]["metrics"].keys()
        per_layer = {k: statistics.fmean(r["layers"]["metrics"][k] for r in traced) for k in names}
        per_layer["session.start_s"] = art["session_start_s"]
        plain = [r["wall_s"] for r in iters if not r["traced"] and "error" not in r]
        walls = [r["wall_s"] for r in traced]
        per_layer["trace.overhead_s"] = (
            statistics.median(walls) - statistics.median(plain) if plain else 0.0
        )
        detail = {
            "traced_iterations": len(traced),
            "traced_p50_s": statistics.median(walls),
            "untraced_p50_s": statistics.median(plain) if plain else None,
            "structural_min_max": {
                k: [min(r["layers"]["metrics"][k] for r in traced),
                    max(r["layers"]["metrics"][k] for r in traced)]
                for k in STRUCTURAL
            },
            "self_s_mean": _mean_dicts([r["layers"]["self_s"] for r in traced]),
            "ops_mean": {
                name: _mean_dicts([r["layers"]["ops"].get(name, {}) for r in traced])
                for name in sorted({n for r in traced for n in r["layers"]["ops"]})
            },
        }
        return per_layer, detail


def _inside(s, candidates, spans) -> bool:
    """Whether span ``s`` has an ancestor among ``candidates``."""
    ids = {c.sid for c in candidates}
    parent = {x.sid: x.parent for x in spans}
    p = s.parent
    while p is not None:
        if p in ids:
            return True
        p = parent.get(p)
    return False


def _mean_dicts(ds: list[dict]) -> dict:
    keys = {k for d in ds for k in d}
    return {k: statistics.fmean(d.get(k, 0) for d in ds) for k in sorted(keys)}


def _brief(r: dict) -> dict:
    return {k: v for k, v in r.items() if k != "layers"}


def main(argv=None) -> int:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    args = parse_args(argv)
    missing = [f for f in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(1, os.path.join(ROOT, "scripts"))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cwd = os.getcwd()
    run = None
    try:
        cores = isolate(work)
        run = Run(args, work, cores)
        result, art = run.execute()
    finally:
        if run is not None:
            run.shutdown()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(art, fh, indent=1, default=str)
    _report(art, result, path)
    print(json.dumps(result))
    return 0


def _report(art: dict, result: dict, path: str) -> None:
    """Human-readable lines: every reported metric with its unit, the
    correctness verdict and where the full record went."""
    print(f"workload={art['workload']} seed={art['seed']} cores={art['cores']} "
          f"clients=1 loop=closed input_rows={art['input_rows']}")
    s = art.get("pipeline_s", {})
    if s:
        tail = (f"p{s['tail_pct']:.0f}={s['tail']:.4f} s" if "tail" in s
                else "n/a (fewer than 11 samples)")
        print(f"pipeline_s: n={s['n']} p50={s['p50']:.4f} s tail {tail}")
    for k, m in result["metrics"].items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    if not art["trace"]:
        for k, v in art["end_to_end"].items():
            if k not in result["metrics"]:
                print(f"{k} = {v:.6g} {UNITS.get(k, '')} (not gated)")
    if art["missing_metrics"]:
        print(f"metrics BENCHMARK.json lists but the run lacks: {art['missing_metrics']}")
    print(f"failed_frac = {art['failed_frac']:.4g} ratio "
          f"({art['failed']}/{art['attempted']} iterations)")
    print(f"correct = {result['correct']}   record: {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
