"""In-memory spans around the benchmark's calls into the package layers.

A span records its name, start, end, parent and the Spark job group its
calls ran under; self time is the span's duration minus the time its
child spans cover.  Spans stay in memory until ``write`` dumps them when
the benchmark ends.

``Tracer.instrument`` swaps a module attribute (a layer's public
function) for a timed wrapper for the duration of one traced job, so a
call the package makes through that attribute -- e.g. ``rank_job`` importing
``run_ranking`` at call time -- is timed too.  Lazy layer calls return a
DataFrame before any work runs; their wrapper forces the work inside the
span (``force``), which is part of the tracing overhead.
"""
from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict


class Span:
    __slots__ = ("id", "name", "parent", "job", "start", "end", "group",
                 "attrs", "spark")

    def __init__(self, sid, name, parent, job, group):
        self.id, self.name, self.parent, self.job = sid, name, parent, job
        self.group = group
        self.start = time.perf_counter()
        self.end = None
        self.attrs: dict = {}
        self.spark: dict = {}

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self, self_s: float) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "job": self.job, "start": self.start, "end": self.end,
                "self_s": self_s, "attrs": self.attrs, "spark": self.spark}


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._job = -1

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def job(self):
        """Root span of one traced job; its spans share the job id.
        Spark counts are read after the root span has ended."""
        self._job += 1
        with self.span("job") as root:
            yield root
        self._resolve_spark_counts(self._job)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        group = f"perfbench-{os.getpid()}-{sid}"
        sp = Span(sid, name, parent.id if parent else None, self._job, group)
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def _resolve_spark_counts(self, job: int, settle_s: float = 5.0) -> None:
        """Per span: Spark jobs, stages, tasks and failed tasks launched
        while it was the innermost span.  The status store is fed by an
        asynchronous listener, so wait until every job has ended."""
        st = self._sc.statusTracker()
        spans = [s for s in self.spans if s.job == job]
        deadline = time.perf_counter() + settle_s
        while True:
            ids = {s.id: st.getJobIdsForGroup(s.group) for s in spans}
            infos = [st.getJobInfo(j) for js in ids.values() for j in js]
            if all(i is not None and i.status != "RUNNING" for i in infos) \
                    or time.perf_counter() > deadline:
                break
            time.sleep(0.05)
        for s in spans:
            stages = set()
            for j in ids[s.id]:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = failed = ran = 0
            for sid in stages:
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                ran += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
            s.spark = {"jobs": len(ids[s.id]), "stages": ran, "tasks": tasks,
                       "failed_tasks": failed}

    # -- instrumentation -----------------------------------------------
    def instrument(self, stack: contextlib.ExitStack, owner, attr: str,
                   name: str, force=None, attrs=None) -> None:
        """Time every call to ``owner.attr`` under span ``name`` until
        ``stack`` closes.  ``force(result)`` runs inside the span and
        returns what the caller receives; ``attrs(args, kwargs, result)``
        returns counts recorded on the span after it ends."""
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = original(*args, **kwargs)
                if force is not None:
                    out = force(out)
            if attrs is not None:
                sp.attrs.update(attrs(args, kwargs, out))
            return out

        setattr(owner, attr, traced)
        stack.callback(setattr, owner, attr, original)

    # -- results -------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        covered = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.duration
        return {s.id: s.duration - covered[s.id] for s in self.spans}

    def per_job(self, job: int) -> dict:
        """Per layer name: summed duration, self time, attrs and Spark
        counts of one traced job's spans."""
        selfs = self.self_times()
        out: dict = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s.job != job:
                continue
            agg = out[s.name]
            agg["s"] += s.duration
            agg["self_s"] += selfs[s.id]
            agg["calls"] += 1
            for k, v in {**s.attrs, **s.spark}.items():
                agg[k] += v
        return out

    def dominant_layer(self, jobs: list[int]) -> tuple[str, float]:
        """Layer with the largest median self time across ``jobs``."""
        per = [self.per_job(j) for j in jobs]
        names = {n for p in per for n in p if n != "job"}
        med = {n: statistics.median(p[n]["self_s"] if n in p else 0.0
                                    for p in per) for n in names}
        top = max(med, key=med.get)
        return top, med[top]

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump([s.as_dict(selfs[s.id]) for s in self.spans], f)
