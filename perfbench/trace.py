"""Spans recorded around the benchmark's calls into each layer, and the
Spark event-log parser that turns a traced run into per-layer metrics.

A span is one call into a layer's public function, or one action the
benchmark issues on its result. While a span is open its id is the Spark
job group, so every job it launches can be attributed to it afterwards
from the event log. Spans are kept in memory and written out at the end.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = (
    "session",
    "schema",
    "io",
    "pipelines",
    "ops",
    "llmdata",
    "queries",
    "streaming",
)


@dataclass
class Span:
    id: str
    name: str
    layer: str
    kind: str  # "call" builds a plan or runs a driver-side step; "action" executes
    start: float
    end: float = 0.0
    parent: str | None = None
    run: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op
    apart from running the wrapped block, so the untraced run pays only a
    context-manager entry per call."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self.run = ""
        self.epoch_offset = time.time() - time.perf_counter()
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str, kind: str = "call"):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"s{len(self.spans)}",
            name=name,
            layer=layer,
            kind=kind,
            start=time.perf_counter(),
            parent=parent.id if parent else None,
            run=self.run,
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.id, f"{layer}:{name}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.id, f"{parent.layer}:{parent.name}")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per span: its duration minus the part of its interval
    covered by its direct children (overlapping children count once)."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: s.dur - union_length([
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])
        ])
        for s in spans
    }


# ------------------------------------------------------------ event log


@dataclass
class TaskAgg:
    tasks: int = 0
    failed: int = 0
    busy_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_wait_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    input_b: int = 0
    input_records: int = 0
    output_b: int = 0
    output_records: int = 0

    def add(self, other: "TaskAgg") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


@dataclass
class Stage:
    tasks: TaskAgg = field(default_factory=TaskAgg)
    durations: list = field(default_factory=list)  # task seconds, for skew
    submit_ms: int = 0
    complete_ms: int = 0


@dataclass
class Job:
    group: str | None
    streaming: bool
    stages: list
    start_ms: int
    end_ms: int = 0


def parse_event_log(path: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Read a Spark JSON event log into jobs (job group, stage ids, start
    and end) and stages (task metrics summed, task durations, wall)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    group=props.get("spark.jobGroup.id"),
                    streaming="sql.streaming.queryId" in props,
                    stages=list(ev.get("Stage IDs", [])),
                    start_ms=ev.get("Submission Time", 0),
                )
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev.get("Completion Time", 0)
            elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage())
                st.submit_ms = info.get("Submission Time", st.submit_ms) or st.submit_ms
                st.complete_ms = info.get("Completion Time", st.complete_ms) or st.complete_ms
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], Stage())
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                launch = info.get("Launch Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                im = m.get("Input Metrics") or {}
                om = m.get("Output Metrics") or {}
                st.tasks.add(TaskAgg(
                    tasks=1,
                    failed=int(bool(info.get("Failed"))),
                    busy_s=m.get("Executor Run Time", 0) / 1e3,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1e3,
                    sched_wait_s=max(0, launch - st.submit_ms) / 1e3 if st.submit_ms else 0.0,
                    shuffle_write_b=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read_b=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    spill_b=m.get("Disk Bytes Spilled", 0),
                    input_b=im.get("Bytes Read", 0),
                    input_records=im.get("Records Read", 0),
                    output_b=om.get("Bytes Written", 0),
                    output_records=om.get("Records Written", 0),
                ))
                st.durations.append((info.get("Finish Time", 0) - launch) / 1e3)
    return jobs, stages


@dataclass
class LayerWork:
    jobs: int = 0
    stages: int = 0
    tasks: TaskAgg = field(default_factory=TaskAgg)
    skew: float = 0.0  # worst stage: max / median task time
    exec_s: float = 0.0  # span time covered by the layer's own jobs
    io_wall_s: float = 0.0  # wall of stages that read or wrote files
    io_busy_s: float = 0.0  # task time of those stages


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(
    spans: list[Span], jobs: dict[int, Job], stages: dict[int, Stage], epoch_offset: float,
) -> tuple[dict[str, LayerWork], LayerWork]:
    """Sum Spark work per layer: a job belongs to the span whose id is its
    job group; a streaming micro-batch job (no group) belongs to the
    streaming span open when it started. ``epoch_offset`` converts span
    clocks (perf_counter) to the event log's epoch milliseconds. Returns
    (per layer, all attributed work)."""
    by_id = {s.id: s for s in spans}
    stream_spans = [s for s in spans if s.layer == "streaming"]
    layers = {name: LayerWork() for name in LAYERS}
    runtime = LayerWork()
    own_jobs: dict[str, list[Job]] = {}
    seen: set[int] = set()
    for job in jobs.values():
        span = by_id.get(job.group) if job.group else None
        if span is None and job.streaming:
            t = job.start_ms / 1e3 - epoch_offset
            span = next((s for s in stream_spans if s.start <= t <= s.end), None)
        if span is None:
            continue  # outside the spans (e.g. the session warm-up probe)
        own_jobs.setdefault(span.id, []).append(job)
        for lw in (layers[span.layer], runtime):
            lw.jobs += 1
        for sid in job.stages:
            st = stages.get(sid)
            if st is None or sid in seen or not st.tasks.tasks:
                continue  # skipped stages (reused shuffle output) ran no tasks
            seen.add(sid)
            does_io = bool(st.tasks.input_b or st.tasks.output_b)
            io_wall = (st.complete_ms - st.submit_ms) / 1e3 if does_io else 0.0
            skew = 0.0
            if len(st.durations) >= 2:
                med = statistics.median(st.durations)
                skew = max(st.durations) / med if med > 0 else 0.0
            for lw in (layers[span.layer], runtime):
                lw.stages += 1
                lw.tasks.add(st.tasks)
                lw.io_wall_s += io_wall
                lw.io_busy_s += st.tasks.busy_s if does_io else 0.0
                lw.skew = max(lw.skew, skew)
    for sid, js in own_jobs.items():
        span = by_id[sid]
        lo, hi = span.start + epoch_offset, span.end + epoch_offset
        covered = union_length([
            (max(lo, j.start_ms / 1e3), min(hi, (j.end_ms or j.start_ms) / 1e3)) for j in js
        ])
        layers[span.layer].exec_s += covered
        runtime.exec_s += covered
    return layers, runtime
