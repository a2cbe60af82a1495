"""Spans, Spark event-log parsing and the small statistics the benchmark
reports. Nothing here imports pyspark at module level, so the unit tests
run without a JVM.

A span is one call into a layer of the package: name, start, end and the
span that caused it. In a traced run every span sets its own Spark job
group, so each job in the event log belongs to exactly one span; the
job's stages and tasks roll up to that span and its ancestors.
"""

from __future__ import annotations

import contextlib
import json
import math
import re
import sys
import time
from dataclasses import dataclass, field

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# physical operators that run Python workers (the Arrow/pandas boundary)
PYTHON_NODES = (
    "MapInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "PythonMapInArrow",
)


def valid_name(name: str) -> bool:
    """Metric-name rule of the benchmark contract."""
    return NAME_RE.fullmatch(name) is not None


def tail_percentile(values: list[float]) -> tuple[str, float, int]:
    """Highest percentile with at least ten samples beyond it.

    Returns ``(label, value, n)``. With fewer than twenty samples no
    percentile at or above the median has ten samples beyond it, so the
    label is ``max`` and the value is the largest sample."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("percentile of no values")
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            # nearest-rank: the smallest sample with >= p% at or below it
            rank = max(1, math.ceil(p / 100 * n))
            return f"p{p}", s[rank - 1], n
    return "max", s[-1], n


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = math.nan

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of its interval that child spans
    cover (overlapping children counted once)."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end)) for c in children
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record
    nothing, so the untraced run executes the same benchmark code."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    def wrap(self, module, attr: str, name: str) -> None:
        pass

    def restore(self) -> None:
        pass


class Tracer(NullTracer):
    """Records spans in memory and labels Spark jobs with the span id."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{span.sid}", span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._group(parent)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned wrapper in every loaded
        module of the package that holds the same function object (a
        ``from x import f`` copies the reference). ``restore`` undoes it."""
        orig = getattr(module, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        spanned.__wrapped__ = orig
        for mod in list(sys.modules.values()):
            modname = getattr(mod, "__name__", "") or ""
            if not (modname.startswith("data_quality_checker_spark")
                    or modname == "__spark_entry__"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._patched.append((mod, key, orig))
                    setattr(mod, key, spanned)

    def restore(self) -> None:
        for mod, key, orig in reversed(self._patched):
            setattr(mod, key, orig)
        self._patched.clear()

    # -- queries over the recorded spans --------------------------------

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.sid]

    def ancestors(self, sid: int) -> list[int]:
        out = []
        cur: int | None = sid
        while cur is not None:
            out.append(cur)
            cur = self.spans[cur].parent
        return out

    def within(self, roots: list[Span], name: str) -> list[Span]:
        """Spans called ``name`` inside any of ``roots`` (roots included)."""
        ids = {r.sid for r in roots}
        return [s for s in self.spans
                if s.name == name and ids.intersection(self.ancestors(s.sid))]

    def per_root(self, roots: list[Span], name: str) -> float:
        """Total duration of the ``name`` spans inside ``roots``, divided
        by the number of roots."""
        return sum(s.duration for s in self.within(roots, name)) / len(roots)


# -- Spark event log ---------------------------------------------------


@dataclass
class StageStats:
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    python: bool = False


@dataclass
class EventLog:
    """Job -> span group, job -> stages, and per-stage task totals."""

    job_group: dict[int, str] = field(default_factory=dict)
    job_stages: dict[int, list[int]] = field(default_factory=dict)
    stages: dict[int, StageStats] = field(default_factory=dict)
    ran_stages: set[int] = field(default_factory=set)


def _python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        names = [rdd.get("Name", "")]
        if scope:
            try:
                names.append(json.loads(scope).get("name", ""))
            except ValueError:
                names.append(scope)
        if any(node in n for n in names for node in PYTHON_NODES):
            return True
    return False


def parse_event_log(lines) -> EventLog:
    """Parse a Spark JSON event log (one event per line)."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            log.job_group[jid] = props.get("spark.jobGroup.id") or ""
            log.job_stages[jid] = list(ev.get("Stage IDs", []))
            for info in ev.get("Stage Infos", []):
                st = log.stages.setdefault(info["Stage ID"], StageStats())
                st.python = st.python or _python_stage(info)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], StageStats())
            st.python = st.python or _python_stage(info)
            log.ran_stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(ev["Stage ID"], StageStats())
            st.tasks += 1
            m = ev.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return log


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    python_stage_s: float = 0.0


def span_totals(log: EventLog, tracer: Tracer, roots: list[Span]) -> Totals:
    """Jobs, stages that ran, tasks and task metrics of every job whose
    group is one of ``roots`` or a span inside them."""
    root_ids = {r.sid for r in roots}
    t = Totals()
    seen_stages: set[int] = set()
    for jid, group in log.job_group.items():
        if not group.startswith("span-"):
            continue
        sid = int(group[5:])
        if sid >= len(tracer.spans) or not root_ids.intersection(
            tracer.ancestors(sid)
        ):
            continue
        t.jobs += 1
        for stage in log.job_stages.get(jid, []):
            if stage in seen_stages or stage not in log.ran_stages:
                continue
            seen_stages.add(stage)
            st = log.stages[stage]
            t.stages += 1
            t.tasks += st.tasks
            t.cpu_s += st.cpu_ns / 1e9
            t.gc_s += st.gc_ms / 1e3
            t.shuffle_write_bytes += st.shuffle_write_bytes
            t.spill_bytes += st.spill_bytes
            if st.python:
                t.python_stage_s += st.run_ms / 1e3
    return t
