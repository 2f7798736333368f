"""Span tracing from the benchmark's side of each layer boundary.

A :class:`Tracer` wraps every call the workloads make into a package layer.
Untraced (``NullTracer``) it is a plain call. Traced, each call becomes a
span ``(name, start, end, parent, run_id)``: the Spark job group is set to
the span before the call, the layer's output is materialized at the span
boundary (persist + count), and the span's Spark work is read back from
Spark's own status store — the per-stage counters of every job in the
span's group. The package itself is never instrumented.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any

#: generic per-span counters, summed over a layer's spans
GENERIC = ("self_s", "fetch_wait_s", "cpu_s", "shuffle_bytes", "spill_bytes",
           "jobs", "failed_tasks")

TRACE_VIEW_PREFIX = "__trace_"


class NullTracer:
    """Tracing off: every call goes straight to the layer."""

    traced = False

    def call(self, layer: str, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    @contextmanager
    def span(self, layer: str):
        yield

    def count(self, key: str, value: float) -> None:
        pass


class Tracer:
    """Tracing on. ``run_id`` tags every span of one job."""

    traced = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.run_id = 0
        self._stack: list[int] = []
        self._persisted: list = []
        self._seq = 0

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, layer: str):
        self._seq += 1
        group = f"span-{self._seq}-{layer}"
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._seq, "name": layer, "parent": parent,
               "run_id": self.run_id, "group": group,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(self._seq)
        self.sc.setJobGroup(group, layer)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            outer = next((s for s in self.spans
                          if self._stack and s["id"] == self._stack[-1]), None)
            if outer is not None:
                self.sc.setJobGroup(outer["group"], outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def call(self, layer: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span; a DataFrame result is materialized
        before the span closes, so its work is charged to this layer. The
        materialization is a cached temp view named ``__trace_<n>``, which
        keeps it apart from the engine's own pins in the storage status."""
        from pyspark.sql import DataFrame

        with self.span(layer) as rec:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                view = f"{TRACE_VIEW_PREFIX}{rec['id']}"
                out.createOrReplaceTempView(view)
                self.spark.catalog.cacheTable(view)
                self._persisted.append(view)
                out = self.spark.table(view)
                rec["rows"] = out.count()
        return out

    def count(self, key: str, value: float) -> None:
        self.counters[key] += value

    def release(self) -> None:
        """Drop the boundary materializations of the finished job."""
        for view in self._persisted:
            self.spark.catalog.uncacheTable(view)
            self.spark.catalog.dropTempView(view)
        self._persisted.clear()

    # -- status-store harvest ---------------------------------------------
    def harvest(self) -> None:
        """Attach Spark's per-stage counters to every span not yet
        harvested. Call after each job, while the store still retains the
        job's stages."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if "jobs" in rec or "end" not in rec:
                continue
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            c = dict(cpu_s=0.0, fetch_wait_s=0.0, shuffle_bytes=0,
                     spill_bytes=0, failed_tasks=0, read_bytes=0)
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in (info.stageIds if info else ()):
                    try:
                        sd = store.lastStageAttempt(s)
                    except Exception:  # stage evicted or never submitted
                        continue
                    c["cpu_s"] += sd.executorCpuTime() / 1e9
                    c["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                    c["shuffle_bytes"] += sd.shuffleWriteBytes()
                    c["spill_bytes"] += sd.diskBytesSpilled()
                    c["failed_tasks"] += sd.numFailedTasks()
                    c["read_bytes"] += sd.inputBytes()
            rec.update(c, jobs=len(jobs), job_ids=jobs)

    # -- reduction ---------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that child spans cover."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out = {}
        for s in self.spans:
            ivs = sorted((k["start"], k["end"]) for k in kids[s["id"]])
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in ivs:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Generic counters summed per layer over all spans."""
        selfs = self.self_times()
        tot: dict[str, dict[str, float]] = defaultdict(
            lambda: {k: 0.0 for k in GENERIC + ("read_bytes",)})
        for s in self.spans:
            t = tot[s["name"]]
            t["self_s"] += selfs[s["id"]]
            for k in GENERIC[1:] + ("read_bytes",):
                t[k] += s.get(k, 0)
        return tot

    def dump(self) -> list[dict[str, Any]]:
        return [{k: v for k, v in s.items() if k != "job_ids"}
                for s in self.spans]
