"""Spans recorded from the benchmark's own code, and the Spark event log.

A :class:`Tracer` records a span around each call the benchmark makes
into a layer of ``hadoop_deliver_spark`` (name, start, end, parent span,
op id). Spans stay in memory and are written out when the run ends.
When tracing is off, :meth:`Tracer.span` does nothing but yield.

In a traced run the tracer also tags every Spark job with the span that
started it (the ``perfbench.span`` local property), so the event log
read by :func:`read_event_log` attributes jobs, stages and tasks to
spans and ops.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    op: int | None
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self.op: int | None = None

    def bind(self, sc) -> None:
        """Tag Spark jobs with the innermost open span from now on."""
        if self.enabled:
            self._sc = sc

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, name,
                 self.op, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROP, str(s.id))
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(
                    SPAN_PROP, str(parent.id) if parent else None
                )

    def wrap(self, name: str, fn, attrs_of=None, **attrs):
        """``fn`` with a span around every call; ``attrs_of(*args)``
        adds attributes taken from the call's arguments."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            extra = attrs_of(*args, **kwargs) if attrs_of else {}
            with self.span(name, **attrs, **extra):
                return fn(*args, **kwargs)

        traced.__perfbench_traced__ = True
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def instrument(tracer: Tracer, family_of) -> None:
    """Put spans around the package's public entry points, in every
    module namespace that holds them: ``tables.tbl``, each registered
    query function (``operators.build``), and every name in
    ``api.__all__``. Only the traced run calls this."""
    import sys

    from hadoop_deliver_spark import api, tables
    from hadoop_deliver_spark.registry import REGISTRY

    def table_path(spark, sf_dir, name):
        return {"path": f"{sf_dir}/{name}.parquet"}

    targets = {id(tables.tbl): tracer.wrap("tables.tbl", tables.tbl,
                                           table_path)}
    for name in api.__all__:
        fn = getattr(api, name)
        if callable(fn) and not isinstance(fn, type):
            targets[id(fn)] = tracer.wrap(f"api.{name}", fn)
    for q in REGISTRY.values():
        if not getattr(q.fn, "__perfbench_traced__", False):
            q.fn = tracer.wrap("operators.build", q.fn, query=q.name,
                               family=family_of(q.name))
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (
            mod_name.startswith("hadoop_deliver_spark") or mod_name == "bench"
        ):
            continue
        for attr, val in list(vars(mod).items()):
            w = targets.get(id(val))
            if w is not None:
                setattr(mod, attr, w)


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    span: int | None
    t0: float
    t1: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_b: int
    shuffle_read_b: int
    fetch_wait_s: float
    spill_b: int
    read_rows: int


def read_event_log(log_dir: str):
    """Jobs, executed stage ids and tasks from the (single) event log
    file in ``log_dir``."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    jobs: dict[int, Job] = {}
    stages_done: set[int] = set()
    tasks: list[Task] = []
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sp = props.get(SPAN_PROP)
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], int(sp) if sp not in (None, "") else None,
                    ev["Submission Time"] / 1000.0,
                    stages=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j.t1 = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                stages_done.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                info = ev["Task Info"]
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                im = m.get("Input Metrics", {})
                tasks.append(Task(
                    stage=ev["Stage ID"],
                    launch=info["Launch Time"] / 1000.0,
                    finish=info["Finish Time"] / 1000.0,
                    run_s=m.get("Executor Run Time", 0) / 1000.0,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1000.0,
                    shuffle_write_b=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read_b=sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    fetch_wait_s=sr.get("Fetch Wait Time", 0) / 1000.0,
                    spill_b=m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    read_rows=im.get("Records Read", 0),
                ))
    return list(jobs.values()), stages_done, tasks


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its direct children cover (children
    of one span never overlap: the benchmark is single-threaded)."""
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.t1 - s.t0
    return {s.id: (s.t1 - s.t0) - child[s.id] for s in spans}


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
