"""Spans around calls into each layer, and per-layer counters.

A span covers the calls into one layer's public functions. The benchmark
materializes the layer's output before the span closes, so the Spark
jobs that compute it run inside the span. Each span sets its own Spark
job group (``setJobGroup``); the uncompressed Spark event log then
attributes every job, task, shuffle byte and spill byte to a span.

GC time is read from the driver JVM's garbage-collector beans at span
boundaries. In local mode the executors are that JVM, and a task's
``JVM GC Time`` in the event log is the JVM-wide pause during the task,
so summing it over concurrent tasks would count one pause once per
running task.

Spans live in memory and are written out when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

LAYERS = ("inputs", "classes", "closure", "relations", "reconcile", "state",
          "reports", "mentions", "unionfind", "redirects")
COUNTERS = ("wall_s", "jobs", "tasks", "task_s", "util", "shuffle_mb",
            "spill_mb", "gc_s", "rows_out")
# Layer-specific counters; every one is a per-op value.
EXTRA = ("closure.pairs", "reconcile.changed_frac", "state.write_amp",
         "state.files", "mentions.py_rows_in", "mentions.per_turn",
         "unionfind.driver_pairs")
MB = 1024 * 1024
UNITS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "task_s": "s",
    "util": "ratio", "shuffle_mb": "MB", "spill_mb": "MB", "gc_s": "s",
    "rows_out": "count", "pairs": "count", "changed_frac": "ratio",
    "write_amp": "ratio", "files": "count", "py_rows_in": "count",
    "per_turn": "ratio", "driver_pairs": "count", "op_s": "s",
    "unattributed_s": "s", "overhead_frac": "ratio",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    group: str
    gc_s: float = 0.0


class Tracer:
    """Records op and layer spans for one run."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.run_id = run_id
        self.spans: list[Span] = []
        self.op_span: int | None = None
        self.outputs: dict[str, list] = defaultdict(list)

    def _gc_seconds(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def _group(self, name: str) -> str:
        group = f"{self.run_id}/{len(self.spans)}/{name}"
        self.sc.setJobGroup(group, name)
        return group

    @contextmanager
    def op(self):
        """The whole traced op; layer spans opened inside are its children."""
        self.outputs.clear()
        group = self._group("glue")
        t0 = time.perf_counter()
        self.spans.append(Span("op", t0, t0, None, self.run_id, group))
        self.op_span = len(self.spans) - 1
        try:
            yield
        finally:
            self.spans[self.op_span].end = time.perf_counter()
            self.op_span = None
            self._group("untraced")

    @contextmanager
    def span(self, layer: str):
        group = self._group(layer)
        gc0, t0 = self._gc_seconds(), time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans.append(Span(layer, t0, t1, self.op_span, self.run_id, group,
                                   self._gc_seconds() - gc0))
            self._group("glue")

    def mat(self, layer: str, df):
        """Materialize ``df`` now and remember it so its rows can be
        counted after the op, outside every span."""
        df = df.localCheckpoint(eager=True)
        self.outputs[layer].append(df)
        return df

    def count_outputs(self) -> dict[str, int]:
        self._group("count")
        rows = {layer: sum(df.count() for df in dfs) for layer, dfs in self.outputs.items()}
        self._group("untraced")
        return rows

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


def read_event_log(directory: Path) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, summed task seconds, shuffle bytes
    written, and disk bytes spilled, from an uncompressed event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    # Spark 4 writes a rolling log: a directory of ``events_<n>_*`` files
    for path in sorted(directory.rglob("events_*")):
        with path.open() as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is not None:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    acc = out[stage_group.get(ev["Stage ID"], "")]
                    info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
                    acc["tasks"] += 1
                    acc["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    acc["shuffle_mb"] += (metrics.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0) / MB
                    acc["spill_mb"] += metrics.get("Disk Bytes Spilled", 0) / MB
    return out


def layer_metrics(spans: list[Span], events: dict[str, dict[str, float]],
                  rows: dict[str, float], slots: int) -> dict[str, float]:
    """Per-op means over the traced ops of the run: every layer's nine
    counters, plus the op wall and the share of it no layer span covers.
    Layer spans of one op do not nest, so their walls add up."""
    ops = [i for i, s in enumerate(spans) if s.name == "op"]
    n = max(len(ops), 1)
    op_wall = sum(spans[i].end - spans[i].start for i in ops) / n
    acc: dict[str, dict[str, float]] = {layer: defaultdict(float) for layer in LAYERS}
    for s in spans:
        if s.parent is None:
            continue
        a = acc[s.name]
        a["wall_s"] += (s.end - s.start) / n
        a["gc_s"] += s.gc_s / n
        for key, value in events.get(s.group, {}).items():
            a[key] += value / n
    metrics: dict[str, float] = {}
    for layer in LAYERS:
        a = acc[layer]
        a["rows_out"] = rows.get(layer, 0.0)
        a["util"] = a["task_s"] / (a["wall_s"] * slots) if a["wall_s"] else 0.0
        for c in COUNTERS:
            metrics[f"{layer}.{c}"] = float(a[c])
    metrics["trace.op_s"] = op_wall
    metrics["trace.unattributed_s"] = op_wall - sum(acc[layer]["wall_s"] for layer in LAYERS)
    return metrics
