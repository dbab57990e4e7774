"""radient_spark benchmark: one closed-loop client per run.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 20 --trace 0

One Python process drives a local Spark session with one core per CPU and
issues each op only after the previous one returned. Every op's output
is checked. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones of a traced
run. The line before it is the full record (per-op samples, host noise,
settings in effect), also saved under perfbench/.work/results/.
See perfbench/README.md for the workloads and what each metric predicts.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA_DIR = HERE / "data" / "sf0.1"
WORK = HERE / ".work"
WORKLOADS = ("sql_analytics", "curation_graph", "vector_serve")

E2E = {
    "setup_s": "s",
    "op_s_p50_geomean": "s",
    "ops_per_min": "1/min",
}
_EXEC = {
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.core_busy_frac": "frac", "exec.stage_wait_s": "s",
    "exec.gc_s": "s", "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.python_bytes_out": "B", "exec.python_bytes_in": "B",
}
SPANS = ("op", "catalog", "construct", "plan", "exec", "job", "stage", "ann.load",
         "ann.search", "streaming", "ann.tombstone", "ann.compact")
PER_LAYER = {
    "ops.error_rate": "frac",
    "host.peak_rss_mb": "MB",
    "trace.overhead_frac": "frac",
    "catalog.load_tables_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "plan.analyze_s": "s",
    "plan.physical_s": "s",
    **_EXEC,
    "ann.ivf_build_call_s": "s", "ann.ivf_save_s": "s",
    "ann.forest_build_call_s": "s", "ann.forest_save_s": "s",
    "ann.load_s": "s", "ann.search_construct_s": "s", "ann.search_exec_s": "s",
    "ann.candidates_per_query": "count", "ann.useful_frac": "frac",
    "ann.cells_probed": "count", "ann.files_scanned": "count", "ann.index_files": "count",
    "ann.compact_s": "s",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s", "streaming.rows_per_batch": "count",
    "sinks.files_written": "count", "sinks.bytes_written": "B",
    **{f"span.{s}.self_s": "s" for s in SPANS},
}


def _configure_env(trace: bool) -> None:
    """Keep every file Spark, Python and the JVM write inside the checkout,
    and let Python workers import the program. A traced run also keeps
    every job, stage and SQL execution in the status stores, so the spans
    of an op never point at evicted entries."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.local.dir={WORK / 'spark-local'}",
        f"spark.sql.warehouse.dir={WORK / 'warehouse'}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Dderby.system.home={WORK}",
    ]
    if trace:
        conf += [f"{k}=1000000" for k in (
            "spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions")]
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf + ([extra] if extra else []))
    sys.path[:0] = [str(ROOT), str(HERE)]


class Run:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = WORK
        self.data_dir = DATA_DIR
        self.spark = None
        self.probe = None
        self.tracer = None
        self.layers: dict[str, list[float]] = defaultdict(list)

    def note(self, metric: str, value: float) -> None:
        self.layers[metric].append(float(value))

    def note_exec(self, wall_s: float, jobs: dict, sql: dict) -> None:
        note = self.note
        note("exec.wall_s", wall_s)
        for k in ("jobs", "stages", "tasks", "task_run_s", "stage_wait_s", "gc_s"):
            note(f"exec.{k}", jobs[k])
        note("exec.shuffle_read_mb", jobs["shuffle_read_b"] / 1e6)
        note("exec.shuffle_write_mb", jobs["shuffle_write_b"] / 1e6)
        note("exec.spill_mb", jobs["spill_b"] / 1e6)
        note("exec.python_bytes_out", sql["python_bytes_out"])
        note("exec.python_bytes_in", sql["python_bytes_in"])

    def new_session(self):
        from radient_spark.session import get_session

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_session("perfbench")
        return self.spark

    def shutdown(self) -> None:
        """Stop Spark, then the JVM it launched, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def make_workload(run: Run):
    if run.workload == "vector_serve":
        from vector import VectorServe

        return VectorServe(run)
    from registry import CURATION_GRAPH, SQL_ANALYTICS, Registry

    return Registry(run, SQL_ANALYTICS if run.workload == "sql_analytics" else CURATION_GRAPH)


def per_layer(run: Run, records, setups: list[dict], peak_rss_mb: float) -> dict:
    from stats import self_times

    traced = [r for r in records if r.traced]
    plain = [r for r in records if not r.traced]
    L = run.layers
    out = {m: (statistics.mean(L[m]) if L.get(m) else 0.0) for m in PER_LAYER}
    for m in ("ann.ivf_build_call_s", "ann.ivf_save_s", "ann.forest_build_call_s", "ann.forest_save_s"):
        vals = [s[m] for s in setups if m in s]
        out[m] = statistics.median(vals) if vals else 0.0
    wall = sum(L.get("exec.wall_s", []))
    out["exec.core_busy_frac"] = (
        sum(L.get("exec.task_run_s", [])) / (wall * run.probe.cores) if wall else 0.0)
    out["ops.error_rate"] = sum(not r.ok for r in records) / len(records)
    out["host.peak_rss_mb"] = peak_rss_mb
    out["trace.overhead_frac"] = (
        sum(r.seconds for r in traced) / sum(r.seconds for r in plain) - 1.0)
    spans = run.tracer.spans
    selfs = self_times(spans)
    by_name: dict[str, float] = defaultdict(float)
    for s in spans:
        by_name[s["name"]] += selfs[s["id"]]
    for name in SPANS:
        out[f"span.{name}.self_s"] = by_name.get(name, 0.0) / len(traced)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "radient_spark").is_dir() or not DATA_DIR.is_dir():
        print("perfbench: run from a checkout holding radient_spark/ and the benchmark data",
              file=sys.stderr)
        return 2
    _configure_env(bool(args.trace))
    from host import HostNoise, PeakRss, data_signature, environment
    from stats import latency_summary, run_op
    from spans import NULL_TRACER, SparkProbe, Tracer

    run = Run(args)
    run.signatures = {"sf0.1": data_signature(DATA_DIR)}
    wl = make_workload(run)
    wl.prepare()

    noise = HostNoise()
    noise.start()
    records, setups, setup_s = [], [], []
    try:
        # peak RSS is a per-layer metric: sample it only in traced runs, so
        # the sampler thread never competes with an untraced loop
        with PeakRss(enabled=run.trace) as rss:
            for _ in range(wl.setup_reps):
                t0 = time.perf_counter()
                details = wl.setup(run.new_session())
                setup_s.append(time.perf_counter() - t0)
                setups.append(details)
            run.probe = SparkProbe(run.spark)
            if run.trace:
                run.tracer = Tracer()
            for i, kind in enumerate(wl.schedule()):
                # traced runs pair every op with an untraced twin, in
                # alternating order, to measure the tracing overhead; both
                # run the same op body, the twin with the null tracer
                modes = (False,) if not run.trace else ((True, False) if i % 2 == 0 else (False, True))
                for traced in modes:
                    opid = f"{i}{'t' if traced else 'u'}"
                    fn, check, after = wl.op(kind, opid, run.tracer if traced else NULL_TRACER)
                    records.append(run_op(kind, fn, check, traced, after if traced else None))
            extra = wl.finish() if hasattr(wl, "finish") else {}
        env = environment(run.spark, run.seed, run.signatures)
        # read the CPU census while the JVM and its Python workers are
        # still alive: their ticks vanish once they exit unreaped
        host = noise.stop()
    finally:
        run.shutdown()

    # vector_serve's final, untimed search counts as one more checked op
    final = extra.get("final_check")
    attempted = len(records) + (final is not None)
    failed = sum(not r.ok for r in records) + (final is not None and not final["ok"])
    plain = [r for r in records if not r.traced]
    summary = latency_summary(plain)
    by_kind = {}
    for k in sorted({r.kind for r in plain}):
        secs = [r.seconds for r in plain if r.kind == k]
        by_kind[k] = {"n": len(secs), "p50_s": statistics.median(secs)}
    if run.trace:
        metrics = per_layer(run, records, setups, rss.peak / 1e6)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": statistics.median(setup_s),
            "op_s_p50_geomean": summary["p50_geomean_s"],
            "ops_per_min": summary["ops_per_min"],
        }
        units = E2E
    record = {
        "workload": run.workload, "seed": run.seed, "trace": int(run.trace),
        "loop": summary, "by_kind": by_kind, "setup_samples_s": setup_s, "setups": setups,
        "workload_extra": extra, "host": host, "env": env,
        "errors": [r.as_dict() for r in records if not r.ok],
        "ops": [r.as_dict() for r in records],
    }
    out_dir = WORK / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    stem = f"{run.workload}-seed{run.seed}-trace{int(run.trace)}"
    (out_dir / f"{stem}.json").write_text(json.dumps(record, indent=1, default=str))
    if run.trace:
        (out_dir / f"{stem}-spans.json").write_text(json.dumps(run.tracer.spans))
    print(json.dumps({k: record[k] for k in record if k != "ops"}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: {"value": metrics[m], "unit": units[m]} for m in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
