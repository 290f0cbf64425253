"""Spans around the program's layer functions, and the Spark event log
attributed to them.

The traced run replaces module attributes that `job.main` and
`fold_batch_into_kg` resolve at call time with wrappers; nothing in the
program changes. Each wrapper records a span (name, layer, parent, start,
end) in memory, counts the Python warnings raised inside it and appends
`bspan=<id>` to the Spark job description, so every job, stage and task in
the event log can be attributed to the innermost span that submitted it.

A span's self time is its duration minus its children's; the self times
of all spans sum to the root span's duration by construction. Spans with
no layer (the root, `job.main` glue) are reported as `unattributed_s`.
`bookkeeping_s` is the time spent inside span entry and exit: the wrappers'
own cost, which is what tracing adds to the traced wall besides the event
log the session writes.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import re
import statistics
import time
import warnings
from dataclasses import dataclass, field

# job.py's job_phase labels, mapped to the layer whose work they bracket
PHASE_LAYER = {
    "extract": "materialize",
    "mention-state": "linking",
    "linking": "linking",
    "graph-write": "materialize",
}

# (module, attribute) pairs the build/fold path resolves at call time
JOB_WRAPS = [
    ("openue_spark.pipeline.materialize", "run_extraction_resumable"),
    ("openue_spark.pipeline.materialize", "write_triple_table"),
    ("openue_spark.pipeline.linking", "mention_state"),
    ("openue_spark.pipeline.linking", "link_entities"),
    ("openue_spark.pipeline.linking", "canonical_triples"),
    ("openue_spark.pipeline.incremental", "fold_batch_into_kg"),
    ("openue_spark.pipeline.incremental", "link_entities_increment"),
    ("openue_spark.pipeline.incremental", "mapping_delta"),
    ("openue_spark.pipeline.incremental", "write_graph_table"),
]

_BSPAN = re.compile(r"bspan=(\d+)")
# categories the default warning filters hide; not degradation signals
_QUIET = (DeprecationWarning, PendingDeprecationWarning, ImportWarning, ResourceWarning)


@dataclass
class Span:
    id: int
    name: str
    layer: str | None
    parent: int | None
    start: float
    end: float = 0.0
    warnings: list[str] = field(default_factory=list)
    result: object = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def module_layer(module_name: str) -> str:
    """openue_spark.pipeline.linking -> linking"""
    return module_name.rsplit(".", 1)[-1]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None):
        t0 = time.perf_counter()
        sid = len(self.spans)
        sp = Span(sid, name, layer, self._stack[-1] if self._stack else None, time.time())
        self.spans.append(sp)
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"{prev} bspan={sid}" if prev else f"bspan={sid}")
        self._stack.append(sid)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            self.bookkeeping_s += time.perf_counter() - t0
            try:
                yield sp
            finally:
                t1 = time.perf_counter()
                sp.warnings = [f"{w.category.__name__}: {w.message}"
                               for w in caught if not issubclass(w.category, _QUIET)]
                self._stack.pop()
                self.sc.setJobDescription(prev)
                sp.end = time.time()
                self.bookkeeping_s += time.perf_counter() - t1

    def _patch(self, mod, attr: str, replacement) -> None:
        self._patched.append((mod, attr, getattr(mod, attr)))
        setattr(mod, attr, replacement)

    def wrap(self, module_name: str, attr: str) -> None:
        mod = importlib.import_module(module_name)
        orig = getattr(mod, attr)
        layer = module_layer(orig.__module__)
        name = f"{layer}.{orig.__name__}"
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, layer) as sp:
                res = orig(*args, **kwargs)
                if isinstance(res, dict):  # fold stats; DataFrames are not kept
                    sp.result = res
                return res

        self._patch(mod, attr, traced)

    def wrap_job_phases(self) -> None:
        """Turn job.py's phase labels into spans, so the eager work job.main
        runs between the wrapped calls (e.g. the mention-state checkpoint)
        lands on the layer the phase belongs to."""
        session = importlib.import_module("openue_spark.session")
        orig = session.job_phase
        tracer = self

        @contextlib.contextmanager
        def traced_phase(spark, name):
            with tracer.span(f"phase.{name}", PHASE_LAYER.get(name)):
                with orig(spark, name):
                    yield

        self._patch(session, "job_phase", traced_phase)

    def install_job_wraps(self) -> None:
        self.wrap_job_phases()
        for module_name, attr in JOB_WRAPS:
            self.wrap(module_name, attr)

    def uninstall(self) -> None:
        while self._patched:
            mod, attr, orig = self._patched.pop()
            setattr(mod, attr, orig)

    # --- span arithmetic -------------------------------------------------

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sp: Span) -> float:
        return sp.duration - sum(c.duration for c in self.children(sp.id))

    def subtree(self, sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            s = todo.pop()
            out.add(s)
            todo.extend(c.id for c in self.children(s))
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


# --- event log ----------------------------------------------------------


@dataclass
class Task:
    duration_s: float
    run_s: float
    shuffle_write: int
    spill: int
    failed: bool


@dataclass
class Stage:
    span: int | None = None
    attempts: int = 0
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Job:
    span: int | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


def _span_of(desc: str | None) -> int | None:
    ids = _BSPAN.findall(desc or "")
    return int(ids[-1]) if ids else None


def read_event_log(path: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                job = Job(_span_of(desc), ev["Submission Time"] / 1000.0,
                          stages=list(ev.get("Stage IDs", [])))
                jobs[ev["Job ID"]] = job
                for sid in job.stages:
                    stages.setdefault(sid, Stage()).span = job.span
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage())
                st.attempts = max(st.attempts, info.get("Stage Attempt ID", 0) + 1)
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                if _span_of(desc) is not None:
                    st.span = _span_of(desc)
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                stages.setdefault(ev["Stage ID"], Stage()).tasks.append(Task(
                    (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    m.get("Executor Run Time", 0) / 1000.0,
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    m.get("Disk Bytes Spilled", 0),
                    reason != "Success",
                ))
    return jobs, stages


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Attribution:
    """Event-log jobs and stages joined to a tracer's spans."""

    def __init__(self, tracer: Tracer, jobs: dict[int, Job], stages: dict[int, Stage]):
        self.tracer = tracer
        known = {s.id for s in tracer.spans}
        self.jobs = [j for j in jobs.values() if j.span in known]
        self.stages = [s for s in stages.values() if s.span in known]

    def jobs_in(self, spans: set[int]) -> list[Job]:
        return [j for j in self.jobs if j.span in spans]

    def stages_in(self, spans: set[int]) -> list[Stage]:
        return [s for s in self.stages if s.span in spans]

    def tasks_in(self, spans: set[int]) -> list[Task]:
        return [t for s in self.stages_in(spans) for t in s.tasks]

    def driver_gap(self, spans: set[int]) -> float:
        """Self time of `spans` during which none of their own jobs ran."""
        gap = 0.0
        for sid in spans:
            sp = self.tracer.spans[sid]
            own = [(max(j.submit, sp.start), min(j.end or sp.end, sp.end))
                   for j in self.jobs if j.span == sid]
            gap += self.tracer.self_time(sp) - _union_length(
                [iv for iv in own if iv[1] > iv[0]])
        return gap

    def task_max_over_p50(self, spans: set[int]) -> float:
        """Worst per-stage skew: max task time / median task time, over
        stages with at least four successful tasks."""
        worst = 0.0
        for st in self.stages_in(spans):
            d = [t.duration_s for t in st.tasks if not t.failed]
            if len(d) >= 4 and statistics.median(d) > 0:
                worst = max(worst, max(d) / statistics.median(d))
        return worst
