"""Spans around calls into the engine's public functions, and the
per-layer counters read from Spark's status store.

Every call the benchmark makes into a measured function goes through
:meth:`Tracer.call`, traced or not, so both modes run the same code
path; only the status-store reads (py4j round trips) are skipped when
tracing is off. Spans are kept in memory and written out by
:meth:`Tracer.dump` when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# the engine's public functions the benchmark measures, by layer name
LAYERS = (
    "session.get_spark",
    "cluster.kmeans.kmeans_fit",
    "operators.ivf_flat.ivf_flat_build",
    "operators.ivf_flat.ivf_flat_search",
    "operators.ivf_flat.ivf_flat_extend",
    "operators.ivf_pq.ivf_pq_build",
    "operators.ivf_pq.ivf_pq_search",
    "operators.pairwise.refine",
    "operators.graph.all_neighbors_build",
    "operators.graph.cagra_optimize",
    "pipeline.curate.curate_corpus",
)
COUNTERS = (
    ("calls", "count"), ("wall_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
    ("tasks", "count"), ("task_failures", "count"),
    ("executor_cpu_s", "s"), ("jvm_gc_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
)


class Tracer:
    """Times each layer call as plan (until the function returns) plus
    exec (the action that forces its result). With ``enabled`` it also
    tags the call's Spark jobs with a job group and, after the span,
    sums the task counters of their stages from the status store."""

    def __init__(self, sc, enabled: bool):
        self._sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.layers: dict[str, dict[str, float]] = {
            name: defaultdict(float) for name in LAYERS}
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._seen_stages: set[int] = set()
        self.request_id = None

    def _open(self, name: str) -> dict:
        span = {"id": len(self.spans), "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "request": self.request_id, "start": time.perf_counter()}
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.pop()

    @contextmanager
    def request(self, request_id):
        """One closed-loop request, parent of the layer spans in it."""
        self.request_id = request_id
        span = self._open("request")
        try:
            yield span
        finally:
            self._close(span)
            self.request_id = None

    def record(self, layer: str, start: float, end: float) -> None:
        """A layer call timed outside :meth:`call` (session start)."""
        c = self.layers[layer]
        c["calls"] += 1
        c["wall_s"] += end - start
        c["plan_s"] += end - start
        self.spans.append({"id": len(self.spans), "name": layer,
                           "parent": None, "request": None,
                           "start": start, "end": end})

    def call(self, layer: str, fn, force=None):
        """Run ``fn()`` then ``force(result)``; returns
        ``(result, forced, wall_s)``. The span covers both."""
        span = self._open(layer)
        group = f"span-{span['id']}"
        if self.enabled:
            t = time.perf_counter()
            self._sc.setJobGroup(group, layer)
            self.overhead_s += time.perf_counter() - t
        t0 = time.perf_counter()
        try:
            result = fn()
            t1 = time.perf_counter()
            forced = force(result) if force is not None else None
            t2 = time.perf_counter()
        finally:
            self._close(span)
        c = self.layers[layer]
        c["calls"] += 1
        c["plan_s"] += t1 - t0
        c["exec_s"] += t2 - t1
        c["wall_s"] += t2 - t0
        if self.enabled:
            t = time.perf_counter()
            self._add_stage_counters(group, c)
            self._sc.setJobGroup("harness", "benchmark harness")
            self.overhead_s += time.perf_counter() - t
        return result, forced, t2 - t0

    def _add_stage_counters(self, group: str, c) -> None:
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        stages = set()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(info.stageIds)
        for sid in sorted(stages - self._seen_stages):
            self._seen_stages.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:   # stage evicted or never submitted
                continue
            c["tasks"] += sd.numCompleteTasks()
            c["task_failures"] += sd.numFailedTasks()
            c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            c["jvm_gc_s"] += sd.jvmGcTime() / 1e3
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    def executor_cpu_s(self) -> float:
        return sum(c["executor_cpu_s"] for c in self.layers.values())

    def layer_metrics(self) -> dict:
        out = {}
        for name in LAYERS:
            c = self.layers[name]
            for counter, unit in COUNTERS:
                out[f"{name}.{counter}"] = (c[counter], unit)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(span) + "\n")
