"""Spans, Spark event-log parsing and the per-layer table.

A span is a named wall-clock interval with a parent, kept in memory
while the run lasts and written out when it ends. With Spark tagging on,
opening a span also sets the driver thread's job group and the local
property ``perfbench.span`` to the span's id, so every job, stage and
task the span starts carries that id into the event log. Spark copies
local properties to the threads it starts for broadcasts and subqueries,
so those jobs are attributed as well.

The event log (uncompressed JSON lines) is folded into one record per
span: jobs, tasks, executor run time, GC time, shuffle, spill, output
and Python-worker bytes. ``layer_table`` rolls the records of each op
span and its descendants up to the op's layer.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; ``sc`` (a SparkContext) turns on tagging."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def open(self, name: str, **attrs) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, time.time(), math.nan, parent,
                    self.run_id, attrs)
        self.spans.append(span)
        self._stack.append(span)
        self._tag(span)
        return span

    def close(self, span: Span) -> Span:
        span.end = time.time()
        popped = self._stack.pop()
        assert popped is span, f"span {span.name} closed out of order"
        self._tag(self._stack[-1] if self._stack else None)
        return span

    @contextmanager
    def span(self, name: str, **attrs):
        span = self.open(name, **attrs)
        try:
            yield span
        finally:
            self.close(span)

    def _tag(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty(SPAN_PROPERTY, None)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{self.run_id}/{span.id}", span.name)
            self.sc.setLocalProperty(SPAN_PROPERTY, str(span.id))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "run_id": s.run_id,
                    **s.attrs,
                }) + "\n")


def load_spans(path: str) -> list[Span]:
    """Spans as ``Tracer.dump`` wrote them."""
    keys = ("id", "name", "start", "end", "parent", "run_id")
    out = []
    with open(path) as fh:
        for line in fh:
            if line.strip():
                row = json.loads(line)
                attrs = {k: v for k, v in row.items() if k not in keys}
                out.append(Span(*(row[k] for k in keys), attrs))
    return out


def children(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def self_time(span: Span, kids: list[Span]) -> float:
    """Duration minus the part of it covered by child spans (the union
    of the children's intervals, clipped to the span)."""
    covered, cur_start, cur_end = 0.0, None, None
    for k in sorted(kids, key=lambda s: s.start):
        a, b = max(k.start, span.start), min(k.end, span.end)
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered


def tail_percentile(samples: list[float]) -> tuple[float, int, int]:
    """``(value, percentile, n)``: the highest whole percentile whose
    nearest-rank value still has at least ten samples above it. With ten
    samples or fewer no percentile qualifies and the median is returned
    (percentile 50)."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    s = sorted(samples)
    if n <= 10:
        return s[(n - 1) // 2], 50, n
    p = (100 * (n - 10)) // n
    rank = math.ceil(p * n / 100)
    return s[rank - 1], p, n


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_COUNTERS = (
    "jobs", "stages", "tasks", "task_ms", "gc_ms", "shuffle_write",
    "shuffle_read", "spill_disk", "spill_mem", "output", "input",
    "python_sent", "python_recv",
)


def _blank() -> dict:
    return dict.fromkeys(_COUNTERS, 0)


def parse_event_log(lines, spans: list[Span] | None = None) -> dict:
    """Fold event-log lines into ``{span_id: counters}``.

    A stage belongs to the span named by its ``perfbench.span`` property;
    a stage without one is placed by time, in the innermost span open at
    its submission. Counters that no span claims go to key ``None``."""
    stage_span: dict[int, int | None] = {}
    out: dict[int | None, dict] = {}

    def bucket(sid):
        return out.setdefault(sid, _blank())

    def by_time(ms: int | None):
        if not spans or ms is None:
            return None
        t = ms / 1000.0
        best = None
        for s in spans:
            inside = s.start <= t <= s.end
            if inside and (best is None or s.start >= best.start):
                best = s
        return best.id if best else None

    def span_of(props: dict | None, ms: int | None):
        raw = (props or {}).get(SPAN_PROPERTY)
        return int(raw) if raw is not None else by_time(ms)

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            bucket(span_of(ev.get("Properties"),
                           ev.get("Submission Time")))["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = span_of(ev.get("Properties"), info.get("Submission Time"))
            stage_span[info["Stage ID"]] = sid
            bucket(sid)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            b = bucket(stage_span.get(ev["Stage ID"]))
            m = ev.get("Task Metrics") or {}
            b["tasks"] += 1
            b["task_ms"] += m.get("Executor Run Time", 0)
            b["gc_ms"] += m.get("JVM GC Time", 0)
            b["spill_disk"] += m.get("Disk Bytes Spilled", 0)
            b["spill_mem"] += m.get("Memory Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            b["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            b["shuffle_read"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            )
            written = m.get("Output Metrics") or {}
            b["output"] += written.get("Bytes Written", 0)
            b["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if not isinstance(upd, (int, float)):
                    try:
                        upd = int(upd)
                    except (TypeError, ValueError):
                        continue
                if name == "data sent to Python workers":
                    b["python_sent"] += upd
                elif name == "data returned from Python workers":
                    b["python_recv"] += upd
    return out


def read_event_log(path: str, spans: list[Span] | None = None) -> dict:
    with open(path, encoding="utf-8") as fh:
        return parse_event_log(fh, spans)


# ---------------------------------------------------------------------------
# per-layer table
# ---------------------------------------------------------------------------

#: core metrics every layer reports, then the extras per layer
CORE = ("wall_s", "jobs", "tasks", "task_s", "slot_idle_s", "shuffle_mb")
EXTRAS = {
    "sources.io": ("write_mb", "gc_s"),
    "operators.rules": (),
    "operators.gold": ("spill_mb",),
    "queries": ("build_s",),
    "operators.scale": ("build_s", "spill_mb"),
    "operators.asof": (),
    "operators.rangejoin": (),
    "operators.dedup": ("build_s", "python_mb"),
    "operators.text_analysis": ("build_s", "python_mb"),
    "operators.similarity": ("build_s",),
}
MB = 1024.0 * 1024.0


def layer_table(spans: list[Span], per_span: dict, slots: int) -> dict:
    """``{layer: {metric: value}}`` over the op spans (``kind == "op"``),
    each op counted with all of its descendant spans."""
    kids = children(spans)

    def subtree(s: Span):
        yield s
        for k in kids.get(s.id, []):
            yield from subtree(k)

    table: dict[str, dict] = {}
    for op in spans:
        if op.attrs.get("kind") != "op":
            continue
        layer = op.attrs["layer"]
        row = table.setdefault(layer, {"wall_s": 0.0, "build_s": 0.0,
                                       **_blank()})
        row["wall_s"] += op.duration
        for s in subtree(op):
            if s.name == "build" and s.parent == op.id:
                row["build_s"] += s.duration
            for k, v in per_span.get(s.id, {}).items():
                row[k] += v
    out = {}
    for layer, r in table.items():
        task_s = r["task_ms"] / 1000.0
        out[layer] = {
            "wall_s": r["wall_s"],
            "jobs": r["jobs"],
            "tasks": r["tasks"],
            "task_s": task_s,
            "slot_idle_s": r["wall_s"] * slots - task_s,
            "shuffle_mb": (r["shuffle_write"] + r["shuffle_read"]) / MB,
            "build_s": r["build_s"],
            "spill_mb": (r["spill_disk"] + r["spill_mem"]) / MB,
            "write_mb": r["output"] / MB,
            "gc_s": r["gc_ms"] / 1000.0,
            "python_mb": (r["python_sent"] + r["python_recv"]) / MB,
        }
    return out


def layer_metric_names() -> list[tuple[str, str]]:
    """Every ``(name, unit)`` the layer table can report."""
    units = {"wall_s": "s", "task_s": "s", "slot_idle_s": "s",
             "build_s": "s", "gc_s": "s", "jobs": "count", "tasks": "count",
             "shuffle_mb": "MB", "spill_mb": "MB", "write_mb": "MB",
             "python_mb": "MB"}
    return [
        (f"{layer}.{m}", units[m])
        for layer, extras in EXTRAS.items()
        for m in CORE + extras
    ]
