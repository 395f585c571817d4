#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload taxi_elt --seed 1 --seconds 1 --trace 0

Run from the repository root. The command generates the workload's inputs
from ``--seed`` (cached under ``.perfbench_cache``), builds the engine's
session on ``local[nproc]``, runs one untimed warm-up repetition, then
repeats the full job for ``--seconds`` seconds, checking every output
against a DuckDB oracle or the generator's planted truth. The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``; the
line before it is a report with the workload-specific figures and the
host context. ``--trace 1`` records spans and a Spark event log instead
and reports the per-layer metrics. Scratch files live under
``.perfbench_tmp`` and are removed at exit; results are kept in
``.perfbench_out``.
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
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "agent_data_pipeline_spark"

# Box-fit session settings, the same for every commit measured.
DRIVER_MEM = "2g"
MIN_REPS = 1
MAX_REPS = 50


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


class PeakRss:
    """Samples the summed resident memory of this process's descendants
    (the Spark JVM and its Python workers) from /proc."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def sample() -> int:
        me = os.getpid()
        parent, rss = {}, {}
        page = os.sysconf("SC_PAGE_SIZE")
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", "rb") as fh:
                    fields = fh.read().decode("ascii", "replace").rsplit(")", 1)[-1].split()
            except OSError:
                continue
            pid = int(entry)
            parent[pid] = int(fields[1])
            rss[pid] = int(fields[21]) * page
        total = 0
        for pid, size in rss.items():
            p = parent.get(pid, 0)
            while p > 1 and p != me:
                p = parent.get(p, 0)
            if p == me:
                total += size
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active:
                self.peak = max(self.peak, self.sample())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def trace_schema_layer(tr) -> None:
    """Wrap the schema layer's ``ensure_table``, as the taxi pipeline
    reaches it, in a span: schema work is then timed apart from the
    pipeline call around it."""
    from agent_data_pipeline_spark.pipelines import taxi

    inner = taxi.ensure_table

    def ensure_table(*args, **kwargs):
        with tr.span("ensure_table", "schema") as s:
            plan = inner(*args, **kwargs)
            s.counts["columns_added"] = len(plan.added_columns)
        return plan

    taxi.ensure_table = ensure_table


def percentile_with_tail(values: list[float], q: float, tail: int = 10) -> float | None:
    """The q-quantile, or None when fewer than ``tail`` samples lie beyond it."""
    if len(values) * (1 - q) < tail:
        return None
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        fail(f"no {PACKAGE}/ next to {os.path.basename(HERE)}/: run from a full checkout")
    sys.path.insert(0, ROOT)
    from perfbench import gen, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    traced = bool(args.trace)

    cache = os.path.join(ROOT, ".perfbench_cache")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(cache, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every scratch file of the engine inside the checkout
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    cores = len(os.sched_getaffinity(0))

    t_gen = time.perf_counter()
    inputs = gen.ensure_inputs(cache, args.workload, args.seed)
    with open(os.path.join(inputs["dir"], "truth.json")) as fh:
        inputs["truth"] = json.load(fh)
    wl = workloads.Workload(args.workload, inputs, work)
    wl.oracle()  # untimed; cached per seed
    prep_s = time.perf_counter() - t_gen

    from agent_data_pipeline_spark.hostinfo import cpu_probe, host_load

    context = {"load_start": host_load(), "cpu_probe": cpu_probe()}
    event_dir = os.path.join(work, "events")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false",
        # the session's 64 MB broadcast threshold scaled down to these
        # inputs: dimension tables (under 20 KB) stay below it and fact
        # tables (over 150 KB) above, so fact-fact joins shuffle as at
        # full size
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024),
    }
    if traced:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    reps: list = []
    spark = None
    try:
        with PeakRss() as rss:
            rss.active = True
            t_setup = time.perf_counter()
            from agent_data_pipeline_spark.session import get_spark

            spark = get_spark(
                app_name=f"perfbench-{args.workload}", master=f"local[{cores}]", extra_conf=conf
            )
            start_s = time.perf_counter() - t_setup
            tr = trace.Tracer(traced, spark.sparkContext)
            if traced:
                trace_schema_layer(tr)
            wl.setup(spark)
            tr.run = "warmup"
            warm = run_rep(wl, tr)
            # session creation plus the warm-up repetition's job time; its
            # output checks, like those of the timed repetitions, are not timed
            warmup_s = warm.wall_s
            setup_s = start_s + warmup_s

            t_loop = time.perf_counter()
            while len(reps) < MIN_REPS or (
                time.perf_counter() - t_loop < args.seconds and len(reps) < MAX_REPS
            ):
                tr.run = f"r{len(reps)}"
                reps.append(run_rep(wl, tr))
            loop_s = time.perf_counter() - t_loop
            peak_rss = rss.peak
            rss.active = False
            stream = [p for p in wl.parts if isinstance(p, workloads.EventsStream)]
            ladder = (
                [workloads.open_loop(stream[0], r) for r in workloads.LADDER_FILES_PER_S]
                if traced and stream else []
            )
    finally:
        if spark is not None:
            stop_jvm(spark)

    attempted = warm.attempted + sum(r.attempted for r in reps)
    failures = warm.failed + [f for r in reps for f in r.failed]
    job_s = statistics.median(r.wall_s for r in reps)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "inputs": {
            "hash": inputs["hash"], "gen_s": inputs["gen_s"], "cached": inputs["cached"],
            "input_mb": inputs["input_bytes"] / 2**20, "prep_s": prep_s,
        },
        "reps": len(reps),
        "loop_s": loop_s,
        "job_s_samples": [r.wall_s for r in reps],
        "fail_frac": len(failures) / max(1, attempted),
        "failures": failures[:10],
        "context": {**context, "load_end": host_load(), "cores": cores, "driver_mem": DRIVER_MEM},
    }
    report.update(workload_figures(args.workload, reps, inputs))
    if ladder:
        report.update(stream_figures(workloads, ladder))
    # peak RSS is reported, not gated: the JVM's G1 heap grows lazily, so
    # identical runs differ by up to a quarter
    report["peak_rss_mb"] = peak_rss / 2**20
    end_to_end = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "job_s": {"value": job_s, "unit": "s"},
    }
    if traced:
        metrics = layer_metrics(
            trace, tr, reps, event_dir, cores, start_s, warmup_s, report
        )
        tr.dump(os.path.join(out_dir, f"{args.workload}-s{args.seed}-spans.jsonl"))
        untraced = os.path.join(out_dir, f"{args.workload}-s{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["metrics"]["job_s"]["value"]
            report["tracing_overhead_frac"] = job_s / base - 1
        report["traced_job_s"] = job_s
    else:
        metrics = end_to_end
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump({**result, "report": report, "end_to_end": end_to_end}, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(result))


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM PySpark launched for it, and wait for
    it to exit: closing its stdin tells the gateway to shut down, and its
    Python workers exit with it."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_rep(wl, tr):
    """One repetition and its reset. An exception is a failed operation,
    not the end of the run: it is recorded and the next repetition runs."""
    from perfbench.workloads import Rep

    t0 = time.perf_counter()
    try:
        rep = wl.rep(tr)
        rep.counts["written_bytes"] = wl.written_bytes()
    except Exception as exc:  # noqa: BLE001 - counted in `failed`, traceback kept
        traceback.print_exc()
        rep = Rep(wall_s=time.perf_counter() - t0)
        rep.op(f"{wl.name} repetition", False, repr(exc)[:300])
    wl.reset()
    return rep


def workload_figures(workload: str, reps: list, inputs: dict) -> dict:
    """The workload-specific end-to-end figures, reported by name."""
    out = {}
    written = statistics.median(r.counts.get("written_bytes", 0) for r in reps)
    if workload in ("taxi_elt", "warehouse_analytics"):
        out["write_amp"] = written / inputs["input_bytes"]
    if workload == "warehouse_analytics":
        lat = [s for r in reps for s in r.latencies]
        out["query_samples"] = len(lat)
        out["query_p50_s"] = statistics.median(lat) if lat else None
        p90 = percentile_with_tail(lat, 0.9)
        if p90 is not None:
            out["query_p90_s"] = p90
        out["neardup_recall"] = statistics.median(r.counts.get("neardup_recall", 0) for r in reps)
        out["ann_recall_at_10"] = statistics.median(
            r.counts.get("ann_recall_at_10", 0) for r in reps
        )
    return out


def stream_figures(workloads, ladder: list[dict]) -> dict:
    """Open-loop figures of a traced run with a stream job: freshness at the
    reference rate, and the highest ladder rate whose backlog did not grow
    and whose freshness p90 stayed within the fixed limit."""
    ref = next(s for s in ladder if s["files_per_s"] == workloads.REFERENCE_FILES_PER_S)
    fresh = ref["freshness_s"]
    return {
        "freshness_samples": len(fresh),
        "freshness_p50_s": statistics.median(fresh),
        "freshness_p90_s": ref["freshness_p90_s"],
        "stream_max_eps": max([s["events_per_s"] for s in ladder if s["sustained"]], default=0),
        "backlog_files_max": ref["backlog_files_max"],
        "generator_lag_s": ref["generator_lag_s"],
        "ladder": [{k: v for k, v in s.items() if k != "freshness_s"} for s in ladder],
    }


def layer_metrics(trace, tr, reps, event_dir, cores, start_s, warmup_s, report) -> dict:
    """Per-layer metrics of the timed repetitions, per repetition."""
    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    jobs, stages = trace.parse_event_log(logs[0])
    spans = [s for s in tr.spans if s.run.startswith("r")]
    layers, runtime = trace.attribute(spans, jobs, stages, tr.epoch_offset)
    selfs = trace.self_times(spans)
    n = len(reps)
    mb = 2**20

    def spans_of(layer):
        return [s for s in spans if s.layer == layer]

    def wall(layer):
        return sum(s.dur for s in spans_of(layer)) / n

    def self_s(layer):
        return sum(selfs[s.id] for s in spans_of(layer)) / n

    def calls(layer):
        return sum(1 for s in spans_of(layer) if s.kind == "call") / n

    def counted(key):
        return sum(r.counts.get(key, 0) for r in reps) / n

    L = layers
    m = {
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "schema.calls": calls("schema"),
        "schema.wall_s": wall("schema"),
        "schema.jobs": L["schema"].jobs / n,
        "schema.sample_rows_read": L["schema"].tasks.input_records / n,
        "schema.columns_added": sum(s.counts.get("columns_added", 0) for s in spans_of("schema")) / n,
        "io.wall_s": runtime.io_wall_s / n,
        "io.input_mb": runtime.tasks.input_b / mb / n,
        "io.output_mb": runtime.tasks.output_b / mb / n,
        "io.files_written": counted("files_written"),
        "io.records_written": runtime.tasks.output_records / n,
        "io.task_busy_s": runtime.io_busy_s / n,
    }
    for layer in ("pipelines", "llmdata", "queries"):
        lw = L[layer]
        sf = self_s(layer)
        m.update({
            f"{layer}.calls": calls(layer),
            f"{layer}.plan_s": max(0.0, sf - lw.exec_s / n),
            f"{layer}.exec_s": lw.exec_s / n,
            f"{layer}.tasks": lw.tasks.tasks / n,
        })
    kept = counted("rows_kept")
    m.update({
        "pipelines.self_s": self_s("pipelines"),
        "pipelines.task_busy_s": L["pipelines"].tasks.busy_s / n,
        "pipelines.rows_in": counted("rows_in"),
        "pipelines.rows_kept_frac": kept / counted("rows_in") if counted("rows_in") else 0.0,
        "ops.calls": calls("ops"),
        "ops.exec_s": L["ops"].exec_s / n,
        "ops.tasks": L["ops"].tasks.tasks / n,
        "ops.shuffle_write_mb": L["ops"].tasks.shuffle_write_b / mb / n,
        "ops.stage_skew": L["ops"].skew,
    })
    lw = L["llmdata"]
    cand = counted("candidate_pairs")
    m.update({
        "llmdata.self_s": self_s("llmdata"),
        "llmdata.task_busy_s": lw.tasks.busy_s / n,
        "llmdata.task_cpu_s": lw.tasks.cpu_s / n,
        "llmdata.gc_s": lw.tasks.gc_s / n,
        "llmdata.shuffle_write_mb": lw.tasks.shuffle_write_b / mb / n,
        "llmdata.shuffle_read_mb": lw.tasks.shuffle_read_b / mb / n,
        "llmdata.spill_mb": lw.tasks.spill_b / mb / n,
        "llmdata.candidate_pairs": cand,
        "llmdata.verified_pairs": counted("verified_pairs"),
        "llmdata.candidate_precision": counted("verified_pairs") / cand if cand else 0.0,
    })
    q = L["queries"]
    plan_q, exec_q = m["queries.plan_s"], m["queries.exec_s"]
    m.update({
        "queries.plan_frac": plan_q / (plan_q + exec_q) if plan_q + exec_q else 0.0,
        "queries.jobs": q.jobs / n,
        "queries.stages": q.stages / n,
        "queries.sched_wait_s": q.tasks.sched_wait_s / n,
        "queries.shuffle_write_mb": q.tasks.shuffle_write_b / mb / n,
        "queries.spill_mb": q.tasks.spill_b / mb / n,
    })
    batch_s = [d for r in reps for d in r.counts.get("batch_s", [])]
    batches = counted("batches")
    m.update({
        "streaming.batches": batches,
        "streaming.empty_batch_frac": counted("empty_batches") / batches if batches else 0.0,
        "streaming.batch_p50_s": statistics.median(batch_s) if batch_s else 0.0,
        "streaming.batch_p90_s": (
            statistics.quantiles(batch_s, n=10, method="inclusive")[8] if len(batch_s) > 1 else 0.0
        ),
        "streaming.commit_s": counted("commit_s"),
        "streaming.state_rows": counted("state_rows"),
        "streaming.state_mb": counted("state_mb"),
        "streaming.backlog_files_max": report.get("backlog_files_max", 0),
        "streaming.generator_lag_s": report.get("generator_lag_s", 0.0),
    })
    busy_wall = sum(r.wall_s for r in reps)
    m.update({
        "runtime.jobs": runtime.jobs / n,
        "runtime.tasks": runtime.tasks.tasks / n,
        "runtime.task_busy_s": runtime.tasks.busy_s / n,
        "runtime.sched_wait_s": runtime.tasks.sched_wait_s / n,
        "runtime.gc_s": runtime.tasks.gc_s / n,
        "runtime.failed_tasks": runtime.tasks.failed / n,
        "runtime.slot_busy_frac": runtime.tasks.busy_s / (cores * busy_wall),
    })
    if set(m) != set(PER_LAYER):
        raise RuntimeError(f"per-layer metrics differ from PER_LAYER: {set(m) ^ set(PER_LAYER)}")
    return {k: {"value": m[k], "unit": UNITS[k]} for k in PER_LAYER}


def _unit(name: str) -> str:
    tail = name.split(".", 1)[1]
    if tail.endswith("_s"):
        return "s"
    if tail.endswith("_mb"):
        return "MB"
    if tail.endswith(("_frac", "precision")) or tail in ("stage_skew",):
        return "ratio"
    return "count"


PER_LAYER = [
    "session.start_s", "session.warmup_s",
    "schema.calls", "schema.wall_s", "schema.jobs", "schema.sample_rows_read", "schema.columns_added",
    "io.wall_s", "io.input_mb", "io.output_mb", "io.files_written", "io.records_written",
    "io.task_busy_s",
    "pipelines.calls", "pipelines.plan_s", "pipelines.exec_s", "pipelines.self_s",
    "pipelines.tasks", "pipelines.task_busy_s", "pipelines.rows_in", "pipelines.rows_kept_frac",
    "ops.calls", "ops.exec_s", "ops.tasks", "ops.shuffle_write_mb", "ops.stage_skew",
    "llmdata.calls", "llmdata.plan_s", "llmdata.exec_s", "llmdata.self_s", "llmdata.tasks",
    "llmdata.task_busy_s", "llmdata.task_cpu_s", "llmdata.gc_s", "llmdata.shuffle_write_mb",
    "llmdata.shuffle_read_mb", "llmdata.spill_mb", "llmdata.candidate_pairs",
    "llmdata.verified_pairs", "llmdata.candidate_precision",
    "queries.calls", "queries.plan_s", "queries.exec_s", "queries.plan_frac", "queries.jobs",
    "queries.stages", "queries.tasks", "queries.sched_wait_s", "queries.shuffle_write_mb",
    "queries.spill_mb",
    "streaming.batches", "streaming.empty_batch_frac", "streaming.batch_p50_s",
    "streaming.batch_p90_s", "streaming.commit_s", "streaming.state_rows", "streaming.state_mb",
    "streaming.backlog_files_max", "streaming.generator_lag_s",
    "runtime.jobs", "runtime.tasks", "runtime.task_busy_s", "runtime.sched_wait_s", "runtime.gc_s",
    "runtime.failed_tasks", "runtime.slot_busy_frac",
]
UNITS = {name: _unit(name) for name in PER_LAYER}


if __name__ == "__main__":
    main()
