"""Per-layer tracing from outside the engine, and query isolation.

Every call into a layer's public function runs under its own Spark job
group (the pattern of ``tests/jobgate.py``).  Once the query has
returned, outside every timed region, the tracer reads each group's
stages from Spark's status store: job -> ``stageIds`` ->
``statusStore().lastStageAttempt``.  That path works with the UI off;
``statusStore().stageList`` is not callable through py4j.

Layers are named after the engine's modules.  A span nested in another
(a checkpoint save inside a components call) is its own layer; the
parent's ``driver_s`` treats the child's interval as busy.
"""

from __future__ import annotations

import itertools
import os
import statistics
import time
from dataclasses import dataclass, field

from grandiso_networkx_spark.checkpoint import CheckpointManager

LAYERS = (
    "derive",
    "checkpoint",
    "pagerank",
    "components",
    "label_propagation",
    "eigenvector",
    "graph",
    "match",
    "triangles",
)
LAYER_METRICS = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "task_cpu_s": "s",
    "gc_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "failed_tasks": "count",
    "leaked_cache_mb": "MB",
    "driver_s": "s",
    "task_skew": "ratio",
}
EXTRA_METRICS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.gen_s": "s",
    "sources.rows": "count",
    "checkpoint.saves": "count",
    "checkpoint.written_mb": "MB",
    "pagerank.iter_s": "s",
    "pagerank.build_s": "s",
    "plans.compile_s": "s",
    "plans.steps": "count",
    "match.build_s": "s",
    "match.shuffle_records_per_match": "ratio",
    "trace.overhead_s": "s",
}
PER_LAYER_UNITS = {
    **{f"{layer}.{m}": u for layer in LAYERS for m, u in LAYER_METRICS.items()},
    **EXTRA_METRICS,
}

_MB = float(1 << 20)
_SEQ = itertools.count()


def persisted_rdd_ids(sc) -> set[int]:
    return {int(i) for i in sc._jsc.getPersistentRDDs().keySet()}


def unpersist_rdds(sc, ids) -> None:
    rdds = sc._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = rdds.get(rid)
        if rdd is not None:
            rdd.unpersist(True)


def isolate(spark, baseline: set[int]) -> None:
    """Drop every cache a query left behind, so the next query starts
    from the cache state at the end of set-up.  Set-up inputs are
    RDD-level local checkpoints, never DataFrame cache entries, so
    clearing the DataFrame cache cannot touch them."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    unpersist_rdds(sc, persisted_rdd_ids(sc) - baseline)
    left = persisted_rdd_ids(sc)
    if left != baseline:
        raise RuntimeError(
            f"persisted RDDs {sorted(left ^ baseline)} differ from set-up"
        )


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, reach = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > reach:
            total += hi - max(lo, reach)
            reach = hi
    return total


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


@dataclass
class Span:
    layer: str
    group: str
    start: float = 0.0
    end: float = 0.0
    created: set = field(default_factory=set)
    children: list = field(default_factory=list)


class Tracer:
    """Spans around layer calls.  Disabled, ``call`` is a plain call."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._spans: list[Span] = []
        self._stack: list[Span] = []
        self._notes: dict[str, float] = {}

    def call(self, layer: str, fn, note: str | None = None):
        """Run ``fn`` as one call into ``layer``; with ``note``, also
        add the call's wall time to that metric."""
        if not self.enabled:
            return fn()
        parent = self._stack[-1] if self._stack else None
        span = Span(layer, f"perfbench-{layer}-{next(_SEQ)}")
        before = persisted_rdd_ids(self.sc)
        self._stack.append(span)
        self.sc.setJobGroup(span.group, layer)
        span.start = time.time()
        try:
            return fn()
        finally:
            span.end = time.time()
            self._stack.pop()
            if parent is None:
                self.sc.setJobGroup(None, None)
            else:
                self.sc.setJobGroup(parent.group, parent.layer)
                parent.children.append(span)
            span.created = persisted_rdd_ids(self.sc) - before
            self._spans.append(span)
            if note:
                self.note(note, span.end - span.start)

    def note(self, metric: str, value: float) -> None:
        """Add ``value`` to a layer-specific metric of this query."""
        if self.enabled:
            self._notes[metric] = self._notes.get(metric, 0.0) + value

    def finish_query(self) -> dict[str, float]:
        """Per-layer metrics of the query just finished; call after the
        query's own unpersists and before :func:`isolate`."""
        alive = persisted_rdd_ids(self.sc)
        sizes = {
            int(i.id()): i.memSize() + i.diskSize()
            for i in self.sc._jsc.sc().getRDDStorageInfo()
        }
        out: dict[str, float] = {}
        records = 0
        for span in self._spans:
            metrics, span_records = self._span_metrics(span, alive, sizes)
            if span.layer == "match":
                records += span_records
            for k, v in metrics.items():
                key = f"{span.layer}.{k}"
                out[key] = max(out.get(key, 0.0), v) if k == "task_skew" else out.get(key, 0.0) + v
        matches = self._notes.pop("match.matches", 0)
        if matches:
            out["match.shuffle_records_per_match"] = records / matches
        out.update(self._notes)
        self._spans, self._notes = [], {}
        return out

    def _span_metrics(self, span: Span, alive: set, sizes: dict):
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stage_ids: set[int] = set()
        jobs = tracker.getJobIdsForGroup(span.group)
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        busy = [(c.start, c.end) for c in span.children]
        m = dict.fromkeys(LAYER_METRICS, 0.0)
        m["jobs"] = len(jobs)
        records, heaviest = 0, None
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) == "SKIPPED":
                continue
            m["stages"] += 1
            m["task_cpu_s"] += sd.executorCpuTime() / 1e9
            m["gc_s"] += sd.jvmGcTime() / 1e3
            m["shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
            m["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
            m["spill_mb"] += sd.diskBytesSpilled() / _MB
            m["failed_tasks"] += sd.numFailedTasks()
            records += sd.shuffleReadRecords()
            if sd.submissionTime().isDefined() and sd.completionTime().isDefined():
                lo = sd.submissionTime().get().getTime() / 1e3
                hi = sd.completionTime().get().getTime() / 1e3
                busy.append((max(lo, span.start), min(hi, span.end)))
            if heaviest is None or sd.executorRunTime() > heaviest.executorRunTime():
                heaviest = sd
        wall = span.end - span.start
        m["wall_s"] = wall
        m["driver_s"] = max(wall - union_length([b for b in busy if b[1] > b[0]]), 0.0)
        if heaviest is not None:
            tasks = store.taskList(heaviest.stageId(), heaviest.attemptId(), 1 << 20)
            times = [
                tasks.apply(i).duration().get()
                for i in range(tasks.size())
                if tasks.apply(i).duration().isDefined()
            ]
            if times and statistics.median(times) > 0:
                m["task_skew"] = max(times) / statistics.median(times)
        own = span.created.difference(*(c.created for c in span.children))
        m["leaked_cache_mb"] = sum(sizes.get(r, 0) for r in own & alive) / _MB
        return m, records


def layer_report(per_query: list[dict[str, float]], fixed: dict[str, float]) -> dict:
    """Median over traced queries of every per-layer metric; layers a
    workload never calls report 0."""
    out = {}
    for name, unit in PER_LAYER_UNITS.items():
        if name in fixed:
            value = fixed[name]
        else:
            value = statistics.median(q.get(name, 0.0) for q in per_query)
        out[name] = {"value": value, "unit": unit}
    return out


class TimedCheckpointManager(CheckpointManager):
    """A :class:`CheckpointManager` whose saves are traced as the
    ``checkpoint`` layer, with the bytes each save wrote."""

    def __init__(self, spark, path: str, tracer: Tracer) -> None:
        super().__init__(spark, path)
        self.tracer = tracer

    def save(self, rnd, df, extra=None):
        out = self.tracer.call("checkpoint", lambda: super(TimedCheckpointManager, self).save(rnd, df, extra))
        self.tracer.note("checkpoint.saves", 1)
        if self.tracer.enabled:
            self.tracer.note("checkpoint.written_mb", dir_bytes(self.round_path(rnd)) / _MB)
        return out
