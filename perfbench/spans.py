"""Span recorder for traced benchmark runs.

A span wraps one call into a layer of the engine.  It gives the call its own
Spark job group and, when the call returns, reads the jobs of that group and
their stage metrics from the status store (``statusStore().lastStageAttempt``,
which works with ``spark.ui.enabled=false``).  Metrics are read at span exit
because the status store keeps only the newest 1000 stages.

Spans nest: a parent's jobs, tasks and executor time include its children's;
its self time is its wall minus the time its children cover.  Spans stay in
memory and are written out once, at the end of the run.

Most spans are opened by the workload code around the public calls it makes.
A few layers are reached only from inside the engine (the pipeline's
parquet writes, the stores' delta commits and compactions, and the
transform and edge-diff plan builders the pipeline calls).  ``patched`` wraps
those functions at run time, for the traced run only, and restores them after.
An untraced run installs nothing and opens no job groups.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

# every span the benchmark records, in report order
SPANS = (
    "pipeline.run_pipeline",
    "pipeline.write",
    "transforms.transform_all",
    "scd2.diff_edges",
    "reporting.plan",
    "reporting.exec",
    "temporal_reporting.plan",
    "temporal_reporting.exec",
    "hash_store.dedup_batch_against_store",
    "hash_store.hash_store_update_batch",
    "lsh_store.neardup_pairs_against_store",
    "cluster_store.cluster_store_update_batch",
    "lsh_store.lsh_store_update_batch",
    "segments.commit_delta",
    "store.delete_batch",
    "store.compact",
    "cluster_store.dedup_verdicts_from_store",
)
MEASURES = ("wall_s", "self_s", "jobs", "tasks", "exec_run_s", "busy_frac")

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    group: str  # the span's Spark job group, unique within the run
    parent: int | None  # index of the parent span, None for a root
    start: float
    end: float = 0.0
    child_wall: float = 0.0
    jobs: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Recorder:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, spark, enabled: bool, cores: int):
        self.spark = spark
        self.enabled = enabled
        self.cores = cores
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in the recorder itself
        self._stack: list[int] = []
        self._groups = 0  # job groups handed out; reset() keeps counting

    def reset(self) -> None:
        """Forget what was recorded so far (called when timing starts).  Job
        group ids stay unique, so jobs run before the reset are never counted
        again by a later span."""
        self.spans.clear()
        self.overhead_s = 0.0

    def inside(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        sc = self.spark.sparkContext
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{self._groups}"
        self._groups += 1
        sc.setJobGroup(group, name)
        self._stack.append(idx)
        self.overhead_s += time.perf_counter() - t
        rec = Span(name=name, group=group, parent=parent, start=time.perf_counter())
        self.spans.append(rec)
        try:
            yield
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            self._collect(rec)
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                p = self.spans[parent]
                sc.setJobGroup(p.group, p.name)
                p.child_wall += rec.wall
                for k in ("jobs", "tasks", "exec_run_s", "shuffle_bytes",
                          "spill_bytes", "output_bytes"):
                    setattr(p, k, getattr(p, k) + getattr(rec, k))
            self.overhead_s += time.perf_counter() - rec.end

    def _collect(self, rec: Span) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # stage metrics arrive asynchronously
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for job in tracker.getJobIdsForGroup(rec.group):
            info = tracker.getJobInfo(job)
            rec.jobs += 1
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage never ran an attempt
                    continue
                rec.tasks += st.numTasks()
                rec.exec_run_s += st.executorRunTime() / 1000.0
                rec.shuffle_bytes += st.shuffleWriteBytes()
                rec.spill_bytes += st.diskBytesSpilled()
                rec.output_bytes += st.outputBytes()

    # -- aggregation -----------------------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        """``<span>.<measure>`` for every span in SPANS: per-call means of
        wall, self time, jobs, tasks and executor run time, and the busy
        fraction over all calls.  A span the run never entered reports 0."""
        out: dict[str, float] = {}
        for name in SPANS:
            recs = [s for s in self.spans if s.name == name]
            n = len(recs) or 1
            wall = sum(s.wall for s in recs)
            exec_run = sum(s.exec_run_s for s in recs)
            out[f"{name}.wall_s"] = wall / n
            out[f"{name}.self_s"] = sum(s.wall - s.child_wall for s in recs) / n
            out[f"{name}.jobs"] = sum(s.jobs for s in recs) / n
            out[f"{name}.tasks"] = sum(s.tasks for s in recs) / n
            out[f"{name}.exec_run_s"] = exec_run / n
            out[f"{name}.busy_frac"] = exec_run / (wall * self.cores) if wall else 0.0
        return out

    def totals(self, name: str | None = None) -> dict[str, float]:
        """Sums over root spans (or over every span called ``name``)."""
        recs = [s for s in self.spans
                if (s.parent is None if name is None else s.name == name)]
        return {
            "calls": len(recs),
            "jobs": sum(s.jobs for s in recs),
            "shuffle_mb": sum(s.shuffle_bytes for s in recs) / MB,
            "spill_mb": sum(s.spill_bytes for s in recs) / MB,
            "output_mb": sum(s.output_bytes for s in recs) / MB,
        }

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "wall_s": s.wall,
                "self_s": s.wall - s.child_wall,
                "jobs": s.jobs,
                "tasks": s.tasks,
                "exec_run_s": s.exec_run_s,
                "shuffle_bytes": s.shuffle_bytes,
                "spill_bytes": s.spill_bytes,
                "output_bytes": s.output_bytes,
            }
            for s in self.spans
        ]


def _wrap(rec: Recorder, name: str, fn, only_inside: str | None = None):
    def wrapper(*args, **kwargs):
        if only_inside is not None and not rec.inside(only_inside):
            return fn(*args, **kwargs)
        with rec.span(name):
            return fn(*args, **kwargs)

    return wrapper


@contextmanager
def patched(rec: Recorder):
    """Install the engine-internal spans for a traced run; no-op otherwise."""
    if not rec.enabled:
        yield
        return
    df = rec.spark.range(1)
    from hubspot_neo4j_pipeline_spark import pipeline
    from hubspot_neo4j_pipeline_spark.streaming import (
        cluster_store,
        hash_store,
        lsh_store,
        segments,
    )

    targets = [
        (pipeline, "transform_all", "transforms.transform_all", None),
        (pipeline, "diff_edges", "scd2.diff_edges", None),
        (type(df.write), "parquet", "pipeline.write", "pipeline.run_pipeline"),
        (segments, "commit_delta", "segments.commit_delta", None),
        (hash_store, "hash_store_compact", "store.compact", None),
        (lsh_store, "lsh_store_compact", "store.compact", None),
        (cluster_store, "cluster_store_compact", "store.compact", None),
    ]
    saved = []
    for owner, attr, name, inside in targets:
        fn = getattr(owner, attr)
        saved.append((owner, attr, fn))
        setattr(owner, attr, _wrap(rec, name, fn, inside))
    try:
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)
