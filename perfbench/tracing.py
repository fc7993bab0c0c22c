"""Span tracing from outside the program, for the traced run.

The benchmark rebinds the program's public callables to wrappers that
open a span around each call. A span records name, start, end, parent
span and op id, and sets its own Spark job group, so the jobs a call
triggers can be read back from Spark's status store afterwards and
their stage metrics attributed to the layer that caused them. Spans
stay in memory and are written out when the run ends. A span's self
time is its duration minus the time its child spans cover.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

# Stage fields read from the status store, summed per span.
STAGE_FIELDS = (
    "executorRunTime",   # ms
    "executorCpuTime",   # ns
    "jvmGcTime",         # ms
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "numFailedTasks",
    "numTasks",
)


class Span:
    __slots__ = ("id", "name", "parent", "op", "start", "end", "group", "jobs", "children_s")

    def __init__(self, sid, name, parent, op, start):
        self.id, self.name, self.parent, self.op, self.start = sid, name, parent, op, start
        self.end = None
        self.group = f"perfbench-span-{sid}"
        self.jobs: list[dict] = []
        self.children_s = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s

    def to_json(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent, "op": self.op,
            "start": self.start, "end": self.end, "self_s": self.self_s,
            "jobs": self.jobs,
        }


class Tracer:
    """Collects spans while ``active``; wrappers are pass-through otherwise."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self._op,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.duration
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def op(self, op_id: int, kind: str):
        """Root span of one timed op (only when the op is traced)."""
        self._op = op_id
        try:
            with self.span(f"op:{kind}"):
                yield
        finally:
            self._op = None

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def install(self, name: str, owner, attr: str):
        """Wrap ``owner.attr`` and rebind the name in every loaded module
        that imported the same object (query modules hold their own
        ``from ..catalog import load_table`` binding)."""
        orig = getattr(owner, attr)
        wrapped = self.wrap(name, orig)
        setattr(owner, attr, wrapped)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith("kube_etl_spark"):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, wrapped)
        return wrapped

    # -- stage metrics ----------------------------------------------------
    def harvest(self, op_id: int) -> None:
        """Attach job + stage metrics to every span of one op (call after
        the op, outside its timed region)."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        seen_stages: set[int] = set()
        for s in self.spans:
            if s.op != op_id or s.jobs:
                continue
            for jid in sorted(tracker.getJobIdsForGroup(s.group)):
                job = {"id": jid, "start": None, "end": None}
                try:
                    jd = store.job(jid)
                    if jd.submissionTime().isDefined():
                        job["start"] = jd.submissionTime().get().getTime() / 1000.0
                    if jd.completionTime().isDefined():
                        job["end"] = jd.completionTime().get().getTime() / 1000.0
                except Exception:  # job evicted from the store: times unknown
                    pass
                info = tracker.getJobInfo(jid)
                totals = dict.fromkeys(STAGE_FIELDS, 0)
                for sid in (info.stageIds if info is not None else []):
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # skipped stage never ran
                        continue
                    if str(st.status()) == "SKIPPED":
                        continue
                    for f in STAGE_FIELDS:
                        totals[f] += getattr(st, f)()
                job.update(totals)
                s.jobs.append(job)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.to_json()))
                f.write("\n")
