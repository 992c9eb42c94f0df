"""Spans around the program's public calls, and the fold of Spark's event
log into per-span task metrics.

A ``Tracer`` keeps a stack of open spans. Entering a span tags every Spark
job submitted until it closes with ``setJobGroup(<span name>)``; leaving it
restores the enclosing span's group. After the session stops, ``fold_event_log``
sums each job group's ``SparkListenerTaskEnd`` metrics, so every span gets
its own jobs, tasks, task time, CPU time, GC, shuffle, spill and output.

``instrument`` wraps the program's entry points from outside the package:
nothing under ``nous_spark/`` knows it is being traced.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

STAGES = ("docs", "extract", "link", "canonicalize", "materialize")

# per-job-group sums read from SparkListenerTaskEnd / SparkListenerJobStart
FOLD_KEYS = ("jobs", "tasks", "task_run_s", "task_cpu_s", "gc_s",
             "shuffle_write_mb", "spill_mb", "output_mb")

_MB = 1024.0 * 1024.0


class Tracer:
    """Span recorder. ``spans`` holds ``(name, start, end, parent)`` tuples
    in the order the spans closed; times are ``time.perf_counter`` values."""

    def __init__(self, sc, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.on = False
        self.spans: list[tuple[str, float, float, str | None]] = []
        self._stack: list[str] = []
        self._switch_t0 = 0.0
        self._leaf = False

    def start(self) -> None:
        """Record spans from now on (set-up and warm-up stay untagged)."""
        self.on = self.enabled

    def _group(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextlib.contextmanager
    def span(self, name: str, leaf: bool = False):
        """Time the block and tag its Spark jobs ``name``. In a ``leaf``
        span, nested spans are not recorded: all its jobs stay ``name``."""
        if not self.on or self._leaf:
            yield
            return
        parent = self.top()
        self._stack.append(name)
        self._group(name)
        self._leaf = leaf
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._leaf = False
            self._stack.pop()
            # the innermost open span may have switched group (run_stage's
            # check phase); re-tag with whatever is now innermost
            self._group(self.top())
            self.spans.append((name, t0, t1, parent))

    def switch(self, name: str) -> None:
        """Rename the innermost open span's remainder: jobs from here on
        are tagged ``name``. The time from the switch to the span's end is
        recorded as a child span ``name``."""
        self._stack.append(name)
        self._group(name)
        self._switch_t0 = time.perf_counter()

    def end_switch(self) -> None:
        name = self._stack.pop()
        self.spans.append((name, self._switch_t0, time.perf_counter(),
                           self.top()))
        self._group(self.top())

    def top(self) -> str | None:
        return self._stack[-1] if self._stack else None


def instrument(tracer: Tracer):
    """Wrap ``StateStore.run_stage`` and ``StateStore.read_stage`` so each
    stage and batch is one span ``lineage.<stage>``, and the read-back plus
    sha check and lineage write after the stage's write is the child span
    ``lineage.<stage>.check``. Returns a function that undoes the wrapping."""
    from nous_spark.plans.lineage import StateStore

    run_stage, read_stage = StateStore.run_stage, StateStore.read_stage

    def traced_run_stage(self, stage, batch_id, compute, *args, **kwargs):
        name = f"lineage.{stage}"
        with tracer.span(name):
            try:
                return run_stage(self, stage, batch_id, compute, *args, **kwargs)
            finally:
                if tracer.top() == name + ".check":
                    tracer.end_switch()

    def traced_read_stage(self, stage, batch_id):
        name = f"lineage.{stage}"
        if tracer.top() == name:
            tracer.switch(name + ".check")
        return read_stage(self, stage, batch_id)

    StateStore.run_stage = traced_run_stage
    StateStore.read_stage = traced_read_stage

    def undo():
        StateStore.run_stage, StateStore.read_stage = run_stage, read_stage

    return undo


def fold_event_log(lines) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group over an uncompressed, non-rolling
    Spark event log (an iterable of JSON lines). Jobs with no group are
    folded under ``""``. A stage's tasks are charged to the group of the
    stage's submission properties, else to the group of the first job that
    listed the stage."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(FOLD_KEYS, 0.0))
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            if "spark.jobGroup.id" in props:
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = props["spark.jobGroup.id"] or ""
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            acc = out[stage_group.get(ev.get("Stage ID"), "")]
            acc["tasks"] += 1
            acc["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["shuffle_write_mb"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                / _MB)
            acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
            acc["output_mb"] += (
                m.get("Output Metrics", {}).get("Bytes Written", 0) / _MB)
    return dict(out)


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    with open(path, encoding="utf-8") as f:
        return fold_event_log(f)


def sum_groups(fold: dict, names) -> dict[str, float]:
    """Element-wise sum of the folded metrics of several job groups."""
    acc = dict.fromkeys(FOLD_KEYS, 0.0)
    for n in names:
        for k, v in fold.get(n, {}).items():
            acc[k] += v
    return acc


def span_wall(spans, name: str) -> float:
    return sum(t1 - t0 for n, t0, t1, _ in spans if n == name)


def span_count(spans, name: str) -> int:
    return sum(1 for n, *_ in spans if n == name)
