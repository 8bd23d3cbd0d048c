"""Spark cost from the status store, and layer spans set from outside.

Spark's status store (``sc._jsc.sc().statusStore()``) is filled by the
scheduler's listener whether or not the UI or the event log is on, so job
and stage metrics can be read back after any action without extra jobs.

The store is fed asynchronously by the listener bus, so every read first
waits for the bus to drain: otherwise the last stages of a leg may not be
final yet, and job starts from the previous leg's check could land after a
leg's first job id is taken.

A stage is charged to the first job that lists it: a later job that reuses
its shuffle output lists the same stage id as skipped.

:class:`Tracer` wraps each layer's public function in the module that calls
it. Inside a span the calling thread's job group names the layer, so every
job the call runs is charged to it; the call's DataFrame result is persisted
and counted inside the span, so a layer's lazy plan is paid for where it is
built rather than by whichever later action first needs it. That forcing is
part of the tracing overhead the traced run reports.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame


class StatusStore:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._bus = self._sc._jsc.sc().listenerBus()

    def drain(self) -> None:
        """Wait until every posted scheduler event reached the store."""
        self._bus.waitUntilEmpty(60_000)

    def last_job_id(self) -> int:
        self.drain()
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def jobs_since(self, job_id: int) -> list:
        """[(job id, group or None, [stage ids])] of jobs after ``job_id``."""
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= job_id:
                continue
            g = j.jobGroup()
            sids = j.stageIds()
            out.append(
                (j.jobId(), g.get() if g.isDefined() else None,
                 [sids.apply(k) for k in range(sids.size())])
            )
        return sorted(out)

    def cost_since(self, job_id: int) -> dict:
        """Per job group: jobs, stage cost summed (see module docstring)."""
        by_group: dict = defaultdict(lambda: defaultdict(float))
        owner: dict = {}
        self.drain()
        jobs = self.jobs_since(job_id)
        for _, group, sids in jobs:
            by_group[group]["jobs"] += 1
            for sid in sids:
                owner.setdefault(sid, group)
        for sid, group in owner.items():
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store, or never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c = by_group[group]
            c["cpu_s"] += st.executorCpuTime() / 1e9
            c["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
            c["spill_mb"] += st.diskBytesSpilled() / 1e6
            c["output_rows"] += st.outputRecords()
        return {g: dict(c) for g, c in by_group.items()}


class Tracer:
    """Spans around layer calls; see the module docstring."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list = []  # dicts: layer, call, group, start, end, parent, rows
        self._stack: list = []
        self._patched: list = []
        self._cached: list = []
        self.captured: dict = defaultdict(list)  # call -> [(args, kwargs)]

    @contextmanager
    def span(self, layer: str, call: str):
        idx = len(self.spans)
        group = f"kgbench:{idx}:{layer}"
        rec = {"layer": layer, "call": call, "group": group, "rows": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        self._sc.setJobGroup(group, f"{layer}.{call}")
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self._sc.setJobGroup(parent["group"], f"{parent['layer']}.{parent['call']}")
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def _force(self, out, rec, force):
        if isinstance(out, tuple) and out and isinstance(out[0], DataFrame):
            return (self._force(out[0], rec, force), *out[1:])
        if force is None or not isinstance(out, DataFrame):
            return out
        if force == "persist":
            out = out.persist()
            self._cached.append(out)
        rec["rows"] = out.count()
        return out

    def patch(self, owner, name: str, layer, force="persist", capture=False) -> None:
        """Replace ``owner.name`` by a wrapper that runs the call in a span
        of ``layer`` and forces its DataFrame result: ``force="persist"``
        caches and counts it, ``"count"`` counts an already materialized
        result, ``None`` leaves it alone. ``layer=None`` only records the
        call's arguments (``capture`` does so for spanned calls too)."""
        orig = getattr(owner, name)
        tracer = self

        def wrapper(*args, **kwargs):
            if capture or layer is None:
                tracer.captured[name].append((args, kwargs))
            if layer is None:
                return orig(*args, **kwargs)
            with tracer.span(layer, name) as rec:
                return tracer._force(orig(*args, **kwargs), rec, force)

        setattr(owner, name, wrapper)
        self._patched.append((owner, name, orig))

    def original(self, name: str):
        return next(o for _, n, o in self._patched if n == name)

    def release(self) -> None:
        """Drop the caches the forced spans made (call after each leg)."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def unpatch(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()

    def layer_report(self, cost: dict) -> dict:
        """Per layer: self wall (span minus child spans), Spark cost of the
        layer's own jobs, rows out, calls."""
        child_time: dict = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            r = out[s["layer"]]
            r["wall_s"] += s["end"] - s["start"] - child_time[i]
            r["calls"] += 1
            c = cost.get(s["group"], {})
            r["cpu_s"] += c.get("cpu_s", 0.0)
            r["shuffle_mb"] += c.get("shuffle_mb", 0.0)
            r["spill_mb"] += c.get("spill_mb", 0.0)
            r["jobs"] += c.get("jobs", 0)
            r["rows_out"] += s["rows"] if s["rows"] is not None else c.get("output_rows", 0)
        return {k: dict(v) for k, v in out.items()}
