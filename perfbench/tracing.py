"""Spans and Spark engine counters recorded from the benchmark's side.

A span is (name, start, end, parent, op id), recorded around a call into
one engine layer. Spans stay in memory and are written out once, when the
run ends. Engine counters are summed from Spark's status store (readable
with the UI off) over the stages of the jobs an op ran; each layer call
runs its jobs under its own job group so its stages can be told apart.
With tracing off every method is a no-op.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

from py4j.protocol import Py4JJavaError

# StageData fields summed over an op's stages, as (metric, accessor, scale)
_STAGE_FIELDS = (
    ("spark.tasks", "numCompleteTasks", 1.0),
    ("spark.failed_tasks", "numFailedTasks", 1.0),
    ("spark.task_s", "executorRunTime", 1e-3),
    ("spark.gc_s", "jvmGcTime", 1e-3),
    ("spark.input_mb", "inputBytes", 1 / 2**20),
    ("spark.input_rows", "inputRecords", 1.0),
    ("spark.shuffle_read_mb", "shuffleReadBytes", 1 / 2**20),
    ("spark.shuffle_write_mb", "shuffleWriteBytes", 1 / 2**20),
)


class Tracer:
    def __init__(self, spark, enabled: bool, cores: int):
        self.enabled = enabled
        self.spark = spark
        self.cores = cores
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self.groups: list[str] = []
        self.samples: dict[str, list[float]] = {}

    @contextmanager
    def span(self, name: str):
        """Record a span and its duration as the sample ``<name>_s``."""
        if not self.enabled:
            yield
            return
        rec = {"name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
        self.record(f"{name}_s", rec["end"] - rec["start"])

    def record(self, name: str, value: float) -> None:
        """One sample of a per-layer metric (the run reports the median)."""
        if self.enabled:
            self.samples.setdefault(name, []).append(float(value))

    def stage_totals(self, groups: list[str]) -> dict[str, float]:
        """Counters summed over every stage of every job run under ``groups``."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        stages = set()
        for group in groups:
            for job in sc.statusTracker().getJobIdsForGroup(group):
                info = sc.statusTracker().getJobInfo(job)
                stages.update(info.stageIds if info else [])
        out = {name: 0.0 for name, _, _ in _STAGE_FIELDS}
        for stage in stages:
            try:
                data = store.lastStageAttempt(stage)
            except Py4JJavaError:  # a skipped stage never ran
                continue
            for name, field, scale in _STAGE_FIELDS:
                out[name] += getattr(data, field)() * scale
        return out

    def jobs(self, groups: list[str]) -> int:
        tracker = self.spark.sparkContext.statusTracker()
        return sum(len(tracker.getJobIdsForGroup(g)) for g in groups)

    @contextmanager
    def group(self, group: str):
        """Run the enclosed Spark jobs under job group ``group``."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def op(self, op_id: str):
        """Bracket one op: a span, and engine counters over its jobs."""
        if not self.enabled:
            yield
            return
        self.op_id, self.groups = op_id, [op_id]
        t0 = time.perf_counter()
        try:
            with self.group(op_id), self.span("op"):
                yield
        finally:
            wall = time.perf_counter() - t0
            totals = self.stage_totals(self.groups)
            for name, value in totals.items():
                self.record(name, value)
            self.record("spark.jobs", self.jobs(self.groups))
            self.record("spark.core_busy_share",
                        totals["spark.task_s"] / (wall * self.cores))
            self.op_id = None

    @contextmanager
    def layer(self, name: str):
        """A span around one layer call, whose Spark jobs run under their
        own job group (``<op>/<name>``) so they can be counted afterwards."""
        if not self.enabled:
            yield
            return
        group = f"{self.op_id}/{name}"
        self.groups.append(group)
        try:
            with self.group(group), self.span(name):
                yield
        finally:
            self.spark.sparkContext.setJobGroup(self.op_id, self.op_id)

    def add_group(self, group: str) -> None:
        """Count the jobs of another group (a streaming query's run id) as
        part of the current op."""
        if self.enabled:
            self.groups.append(group)

    def layer_rows_read(self, name: str) -> float:
        """Input rows of layer ``name`` in the last op."""
        group = next(g for g in self.groups if g.endswith("/" + name))
        return self.stage_totals([group])["spark.input_rows"]

    def dump(self, path: Path) -> None:
        if self.enabled:
            path.write_text(json.dumps(self.spans))
