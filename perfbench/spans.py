"""Spans around the benchmark's own calls, and attribution of Spark's
event log to the program's layers.

Nothing here runs inside the program: spans are taken around public
calls, and stage work comes from the event log Spark writes when
`spark.eventLog.enabled` is set. Job groups are not used, because they
are thread-local and `compress()` issues most of its jobs from its own
worker threads.

A stage is attributed in this order:
  1. to the benchmark span whose time window holds its submission (one
     client, so spans never overlap);
  2. within that span, to the layer named by the Python call site in the
     stage or job name (`collect at .../clp_spark/search/executor.py:180`),
     or failing that by a call site of another job of the same SQL
     execution;
  3. within a compress span, to the `_manifest.jsonl` phase whose
     [ts - wall_ms, ts] interval holds its submission (the earliest
     ending one, since the program's phase walls overlap);
  4. for any other span, to the span's own layer.
What none of these reach is reported as unattributed.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.stats import median

# top-level module under clp_spark/ -> layer; pipeline.py is absent on
# purpose: its call sites span every phase, so the phase decides
MODULE_LAYER = {
    "parse": "parse",
    "dicts": "dicts",
    "route": "route",
    "search": "search",
    "ir": "ir",
    "clps": "clps",
}
# _manifest.jsonl phase -> layer; the metrics phase is the pipeline's own
# bookkeeping
PHASE_LAYER = {"parse": "parse", "dicts": "dicts", "route": "route", "metrics": "pipeline"}
COMPRESS_LAYERS = ("parse", "dicts", "route", "pipeline")
UNATTRIBUTED = "unattributed"

_CALLSITE = re.compile(r"clp_spark/(\w+)(?:/|\.py)")


@dataclass
class Span:
    name: str  # the public call, e.g. "compress", "search.plan"
    layer: str | None  # default layer of stages in the span, None for compress
    start_ms: float
    end_ms: float
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str | None, **attrs):
        t0 = time.time() * 1000.0
        try:
            yield attrs
        finally:
            if self.enabled:
                self.spans.append(Span(name, layer, t0, time.time() * 1000.0, attrs))


@dataclass
class Task:
    run_ms: float
    gc_ms: float
    spill_bytes: int
    shuffle_write_bytes: int
    input_bytes: int
    output_bytes: int
    failed: bool


@dataclass
class Stage:
    stage_id: int
    name: str
    submit_ms: float
    end_ms: float
    callsite: str = ""  # callSite.short of the job that ran it
    exec_id: str | None = None  # spark.sql.execution.id of that job
    tasks: list = field(default_factory=list)
    span: Span | None = None
    layer: str = UNATTRIBUTED


@dataclass
class Job:
    job_id: int
    submit_ms: float


def read_event_log(path: str) -> tuple[list[Stage], list[Job]]:
    """Stages (completed attempts with their tasks) and jobs from one
    uncompressed JSON-lines Spark event log."""
    stage_job: dict[int, dict] = {}
    jobs: list[Job] = []
    stages: dict[tuple, Stage] = {}
    tasks: dict[tuple, list] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append(Job(ev["Job ID"], float(ev["Submission Time"])))
                props = ev.get("Properties") or {}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, props)
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if si.get("Submission Time") is None:
                    continue
                key = (si["Stage ID"], si.get("Stage Attempt ID", 0))
                stages[key] = Stage(
                    si["Stage ID"],
                    si.get("Stage Name", ""),
                    float(si["Submission Time"]),
                    float(si.get("Completion Time") or si["Submission Time"]),
                )
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                tasks.setdefault(key, []).append(_task(ev))
    for key, st in stages.items():
        props = stage_job.get(st.stage_id, {})
        st.callsite = props.get("callSite.short", "")
        st.exec_id = props.get("spark.sql.execution.id")
        st.tasks = tasks.get(key, [])
    return sorted(stages.values(), key=lambda s: s.submit_ms), jobs


def _task(ev: dict) -> Task:
    m = ev.get("Task Metrics") or {}
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    return Task(
        run_ms=float(m.get("Executor Run Time", 0)),
        gc_ms=float(m.get("JVM GC Time", 0)),
        spill_bytes=int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0)),
        shuffle_write_bytes=int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)),
        input_bytes=int((m.get("Input Metrics") or {}).get("Bytes Read", 0)),
        output_bytes=int((m.get("Output Metrics") or {}).get("Bytes Written", 0)),
        failed=reason != "Success",
    )


def find_event_log(log_dir: str) -> str:
    """The single finished application log in `log_dir`."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".") and not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def read_phases(manifest_path: str) -> list[tuple[str, float, float]]:
    """(phase, start_ms, end_ms) from a compress `_manifest.jsonl`; one
    interval per phase even when it committed several buckets."""
    intervals: dict[str, list[float]] = {}
    with open(manifest_path) as f:
        for line in f:
            rec = json.loads(line)
            end = float(rec["ts"]) * 1000.0
            start = end - float(rec.get("wall_ms", 0))
            lo_hi = intervals.setdefault(rec["phase"], [start, end])
            lo_hi[0], lo_hi[1] = min(lo_hi[0], start), max(lo_hi[1], end)
    return [(p, lo, hi) for p, (lo, hi) in intervals.items()]


def callsite_layer(site: str) -> str | None:
    m = _CALLSITE.search(site or "")
    return MODULE_LAYER.get(m.group(1)) if m else None


def attribute(stages: list[Stage], spans: list[Span], phases: dict[int, list] | None = None) -> None:
    """Set `span` and `layer` on every stage. `phases` maps id(span) of a
    compress span to its manifest phase intervals."""
    phases = phases or {}
    ordered = sorted(spans, key=lambda s: s.start_ms)
    for st in stages:
        st.span = next(
            (s for s in ordered if s.start_ms <= st.submit_ms <= s.end_ms), None
        )
        st.layer = callsite_layer(st.name) or callsite_layer(st.callsite) or UNATTRIBUTED
    # a stage without its own Python call site takes the one of another
    # job in the same SQL execution (AQE and broadcast sub-jobs)
    by_exec: dict[str, str] = {}
    for st in stages:
        if st.layer != UNATTRIBUTED and st.exec_id is not None:
            by_exec.setdefault(st.exec_id, st.layer)
    for st in stages:
        if st.span is None or st.layer != UNATTRIBUTED:
            continue
        if st.exec_id in by_exec:
            st.layer = by_exec[st.exec_id]
        elif st.span.layer is None:
            st.layer = _phase_layer(phases.get(id(st.span), []), st.submit_ms)
        else:
            st.layer = st.span.layer


def _phase_layer(phase_list, t_ms: float) -> str:
    holding = [(hi, p) for p, lo, hi in phase_list if lo <= t_ms <= hi]
    if not holding:
        return UNATTRIBUTED
    return PHASE_LAYER.get(min(holding)[1], UNATTRIBUTED)


def wall_shares(stages: list[Stage], lo: float, hi: float) -> tuple[dict, float]:
    """Split the interval [lo, hi] (ms) among layers: each instant goes in
    equal parts to the layers of the stages running then; instants with
    no stage running are driver-only. Returns ({layer: seconds},
    driver_only_seconds); the parts sum to hi - lo."""
    cuts = {lo, hi}
    live = []
    for st in stages:
        a, b = max(st.submit_ms, lo), min(st.end_ms, hi)
        if a < b:
            live.append((a, b, st.layer))
            cuts.update((a, b))
    edges = sorted(cuts)
    shares: dict[str, float] = {}
    idle = 0.0
    for a, b in zip(edges, edges[1:]):
        mid = (a + b) / 2
        active = [layer for s, e, layer in live if s <= mid < e]
        if not active:
            idle += b - a
            continue
        part = (b - a) / len(active)
        for layer in active:
            shares[layer] = shares.get(layer, 0.0) + part
    return {k: v / 1000.0 for k, v in shares.items()}, idle / 1000.0


def jobs_in(jobs: list[Job], span: Span) -> int:
    return sum(1 for j in jobs if span.start_ms <= j.submit_ms <= span.end_ms)


def stages_in(stages: list[Stage], span: Span) -> list[Stage]:
    return [st for st in stages if st.span is span]


def task_skew(stages: list[Stage]) -> float:
    """max / median task run time of the stage with the most task time."""
    heavy = max(stages, key=lambda st: sum(t.run_ms for t in st.tasks), default=None)
    if heavy is None or not heavy.tasks:
        return 0.0
    runs = [t.run_ms for t in heavy.tasks]
    mid = median(runs)
    return max(runs) / mid if mid else 0.0


def compress_layers(stages: list[Stage], jobs: list[Job], spans: list[Span], phases: dict) -> dict:
    """Per-layer metrics of the compress spans, each the median over the
    compress calls of one run."""
    per_call: dict[str, list[float]] = {}

    def put(name, value):
        per_call.setdefault(name, []).append(float(value))

    for sp in spans:
        mine = stages_in(stages, sp)
        shares, driver_only = wall_shares(mine, sp.start_ms, sp.end_ms)
        for layer in COMPRESS_LAYERS:
            put(f"{layer}.busy_s", shares.get(layer, 0.0))
        put("pipeline.unattributed_s", shares.get(UNATTRIBUTED, 0.0))
        put("pipeline.driver_only_s", driver_only)
        put("pipeline.wall_s", sp.wall_s)
        put("pipeline.spark_jobs", jobs_in(jobs, sp))
        tasks = [t for st in mine for t in st.tasks]
        put("pipeline.gc_s", sum(t.gc_ms for t in tasks) / 1000.0)
        put("pipeline.task_failures", sum(t.failed for t in tasks))
        plist = phases.get(id(sp), [])
        put("pipeline.phase_overlap_s", sum(hi - lo for _, lo, hi in plist) / 1000.0 - sp.wall_s)
        dicts_iv = [(lo, hi) for p, lo, hi in plist if p == "dicts"]
        put("dicts.driver_s", sum(wall_shares(mine, lo, hi)[1] for lo, hi in dicts_iv))
        route = [st for st in mine if st.layer == "route"]
        rtasks = [t for st in route for t in st.tasks]
        put("route.shuffle_write_bytes", sum(t.shuffle_write_bytes for t in rtasks))
        put("route.spill_bytes", sum(t.spill_bytes for t in rtasks))
        put("route.bytes_written", sum(t.output_bytes for t in rtasks))
        put("route.task_skew", task_skew(route))
    return {k: median(v) for k, v in per_call.items()}
