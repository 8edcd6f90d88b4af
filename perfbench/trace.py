"""Traced-run tooling: a span recorder, an event-log parser, and the
per-layer table.

Spans are recorded from the benchmark's own files, around calls into the
program's public functions; nothing inside ``mapreduce_framework_spark``
is instrumented. Each span tags the Spark jobs it starts through
``setJobDescription`` so the event log attributes jobs, stages and tasks
to spans. Jobs started on threads the program creates carry no
description; they are attributed to the innermost span whose interval
holds their submission time.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    unit: int | None


@dataclass
class Tracer:
    """In-memory span recorder. Disabled, ``span`` only yields."""

    sc: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    unit: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, time.time(), 0.0, parent, self.unit)
        self.spans.append(sp)
        self._stack.append(sid)
        self.sc.setJobDescription(f"perfbench#{sid}")
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.sc.setJobDescription(
                f"perfbench#{self._stack[-1]}" if self._stack else None
            )

    @contextmanager
    def unit_span(self, uid: int, name: str):
        self.unit = uid
        try:
            with self.span(name):
                yield
        finally:
            self.unit = None


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


@dataclass
class Job:
    jid: int
    desc: str | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    span: int | None = None


@dataclass
class Stage:
    sid: int
    scopes: set = field(default_factory=set)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0


def _scopes(stage_info: dict) -> set:
    out = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                out.add(json.loads(scope).get("name", ""))
            except ValueError:
                pass
        out.add(rdd.get("Name", ""))
    return out


def parse_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs and per-stage task aggregates from the (closed) event log."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = Job(
                    ev["Job ID"],
                    props.get("spark.job.description"),
                    ev["Submission Time"] / 1000.0,
                    stages=list(ev.get("Stage IDs", [])),
                )
                jobs[j.jid] = j
                for si in ev.get("Stage Infos", []):
                    st = stages.setdefault(si["Stage ID"], Stage(si["Stage ID"]))
                    st.scopes |= _scopes(si)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                st = stages.setdefault(si["Stage ID"], Stage(si["Stage ID"]))
                st.scopes |= _scopes(si)
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                st.tasks += 1
                run_ms = m.get("Executor Run Time", 0)
                st.run_s += run_ms / 1000.0
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                st.sched_delay_s += max(
                    wall_ms
                    - run_ms
                    - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0)
                    - info.get("Getting Result Time", 0),
                    0,
                ) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def attribute_jobs(jobs: dict[int, Job], spans: list[Span]) -> None:
    """Set ``job.span``: the tagged span, else the innermost span holding
    the job's submission time."""
    for j in jobs.values():
        if j.desc and j.desc.startswith("perfbench#"):
            j.span = int(j.desc.split("#", 1)[1])
            continue
        best = None
        for sp in spans:
            if sp.start <= j.submit <= sp.end and (
                best is None or sp.start >= best.start
            ):
                best = sp
        j.span = None if best is None else best.sid


# --------------------------------------------------------------------------
# interval arithmetic and self times
# --------------------------------------------------------------------------


def union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    return sum(max(0.0, min(b, hi) - max(a, lo)) for a, b in intervals)


def self_intervals(sp: Span, children: list[Span]) -> list[tuple[float, float]]:
    """The parts of ``sp`` not covered by any child span."""
    kids = union([(c.start, c.end) for c in children])
    out, cur = [], sp.start
    for a, b in kids:
        if a > cur:
            out.append((cur, min(a, sp.end)))
        cur = max(cur, b)
    if cur < sp.end:
        out.append((cur, sp.end))
    return out


def unit_breakdown(spans: list[Span], jobs: dict[int, Job]) -> dict:
    """Per-unit decomposition: wall = sum over spans of self time inside
    Spark jobs + ``driver.gap_s`` (wall outside every job of the unit).
    Also returns per-span-name self times (split into Spark and driver
    parts) and the largest residual of the decomposition over units."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    by_unit: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.unit is not None:
            by_unit.setdefault(sp.unit, []).append(sp)
    job_iv_by_span: dict[int, list] = {}
    for j in jobs.values():
        if j.span is not None and j.end > 0:
            job_iv_by_span.setdefault(j.span, []).append((j.submit, j.end))
    units, per_name, residual = [], {}, 0.0
    for uid, usp in sorted(by_unit.items()):
        root = min(usp, key=lambda s: (s.start, s.sid))
        wall = root.end - root.start
        ids = {s.sid for s in usp}
        jobs_iv = union(
            [
                (max(a, root.start), min(b, root.end))
                for sid in ids
                for a, b in job_iv_by_span.get(sid, [])
            ]
        )
        spark_busy = covered(jobs_iv, root.start, root.end)
        gap = wall - spark_busy
        spark_self_sum = 0.0
        for sp in usp:
            iv = self_intervals(sp, children.get(sp.sid, []))
            self_s = sum(b - a for a, b in iv)
            spark_s = sum(covered(jobs_iv, a, b) for a, b in iv)
            spark_self_sum += spark_s
            agg = per_name.setdefault(sp.name, {"self_s": 0.0, "spark_s": 0.0, "driver_s": 0.0, "calls": 0})
            agg["self_s"] += self_s
            agg["spark_s"] += spark_s
            agg["driver_s"] += self_s - spark_s
            agg["calls"] += 1
        residual = max(residual, abs(spark_self_sum + gap - wall))
        n_jobs = sum(
            1 for j in jobs.values() if j.span in ids and j.end > 0
        )
        units.append(
            {"unit": uid, "name": root.name, "wall_s": wall, "spark_s": spark_busy,
             "driver_gap_s": gap, "jobs": n_jobs}
        )
    return {"units": units, "per_name": per_name, "residual_s": residual}


def span_stats(spans: list[Span]) -> dict[str, float]:
    """Median inclusive duration per span name."""
    by: dict[str, list[float]] = {}
    for sp in spans:
        by.setdefault(sp.name, []).append(sp.end - sp.start)
    return {k: statistics.median(v) for k, v in by.items()}


def unit_spark_totals(spans: list[Span], jobs: dict[int, Job], stages: dict[int, Stage]) -> list[dict]:
    """Event-log aggregates per unit (jobs, stages, tasks, executor time,
    shuffle and spill), plus the stage scopes for stage classification."""
    unit_of = {sp.sid: sp.unit for sp in spans}
    per: dict[int, dict] = {}
    for j in jobs.values():
        u = unit_of.get(j.span)
        if u is None:
            continue
        acc = per.setdefault(u, {"jobs": 0, "stages": set()})
        acc["jobs"] += 1
        acc["stages"].update(s for s in j.stages if s in stages and stages[s].tasks > 0)
    out = []
    for u, acc in sorted(per.items()):
        sts = [stages[s] for s in acc["stages"]]
        out.append(
            {
                "unit": u,
                "jobs": acc["jobs"],
                "stages": len(sts),
                "tasks": sum(s.tasks for s in sts),
                "scheduler_delay_s": sum(s.sched_delay_s for s in sts),
                "executor_run_s": sum(s.run_s for s in sts),
                "executor_cpu_s": sum(s.cpu_s for s in sts),
                "gc_s": sum(s.gc_s for s in sts),
                "shuffle_write_bytes": sum(s.shuffle_write for s in sts),
                "shuffle_read_bytes": sum(s.shuffle_read for s in sts),
                "spill_bytes": sum(s.spill for s in sts),
                "stage_objs": sts,
            }
        )
    return out


def write_report(path: str, spans: list[Span], breakdown: dict, extra: dict) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(
            {
                "spans": [sp.__dict__ for sp in spans],
                "units": breakdown["units"],
                "self_times": breakdown["per_name"],
                "residual_s": breakdown["residual_s"],
                **extra,
            },
            fh,
            indent=1,
            default=str,
        )


def layer_table(per_name: dict) -> str:
    """Per-layer self-time table (layer = module prefix of the span name)."""
    layers: dict[str, dict] = {}
    for name, agg in per_name.items():
        layer = name.split(".", 1)[0]
        acc = layers.setdefault(layer, {"self_s": 0.0, "spark_s": 0.0, "driver_s": 0.0, "calls": 0})
        for k in acc:
            acc[k] += agg[k]
    lines = [f"{'layer':<12}{'calls':>7}{'self_s':>10}{'in_spark_s':>12}{'driver_s':>10}"]
    for layer, a in sorted(layers.items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(
            f"{layer:<12}{a['calls']:>7}{a['self_s']:>10.3f}{a['spark_s']:>12.3f}{a['driver_s']:>10.3f}"
        )
    return "\n".join(lines)
