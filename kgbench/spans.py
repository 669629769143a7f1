"""Tracing for the benchmark's traced run: spans recorded from outside the
library, and Spark's own counters read back from an uncompressed event log.

Spans wrap calls into each module's public functions (the library is not
edited).  A span may carry a Spark job group, so the jobs, stages, tasks and
SQL metrics in the event log map back to the span that started them.
"""
from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent; written out at the end."""

    def __init__(self, spark_context, probe=None):
        self.sc = spark_context
        self.probe = probe  # optional counter read at both ends of a grouped span
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._undo: list = []
        self.instruments: list[tuple] = []  # wrap() arguments, applied per traced pass

    @contextmanager
    def span(self, name: str, group: str | None = None):
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "group": group or (self._groups[-1] if self._groups else None),
            "owner": group is not None,
            "start": time.monotonic(),
        }
        if group is not None and self.probe:
            rec["probe_start"] = self.probe()
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if group is not None:
            self._groups.append(group)
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            if group is not None and self.probe:
                rec["probe_end"] = self.probe()
            self._stack.pop()
            if group is not None:
                self._groups.pop()
                if self._groups:
                    self.sc.setJobGroup(self._groups[-1], name)
                else:
                    clear_job_group(self.sc)

    def wrap(self, owner, attr: str, name: str, group_of=None):
        """Replace ``owner.attr`` by a spanned call until ``unwrap_all``.

        ``group_of(*args, **kwargs)`` may name a job group for the call."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            group = group_of(*args, **kwargs) if group_of else None
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label, group):
                return original(*args, **kwargs)

        setattr(owner, attr, spanned)
        self._undo.append((owner, attr, original))

    def unwrap_all(self):
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    @contextmanager
    def instrumented(self):
        """Apply every entry of ``instruments`` for the duration of a block."""
        try:
            for args in self.instruments:
                self.wrap(*args)
            yield self
        finally:
            self.unwrap_all()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the part of its
        interval that its child spans cover, summed over occurrences."""
        child_cover = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None:
                child_cover[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, float] = {}
        for i, rec in enumerate(self.spans):
            own = rec["end"] - rec["start"] - child_cover[i]
            out[rec["name"]] = out.get(rec["name"], 0.0) + own
        return out

    def current_group(self) -> str | None:
        return self._groups[-1] if self._groups else None

    def group_wall(self, groups) -> float:
        """Seconds spent in the spans that opened the given job groups."""
        groups = set(groups)
        return sum(r["end"] - r["start"] for r in self.spans
                   if r["owner"] and r["group"] in groups)

    def group_probe(self, groups) -> float:
        """Change of the probe counter over the spans that opened the groups."""
        groups = set(groups)
        return sum(r["probe_end"] - r["probe_start"] for r in self.spans
                   if r["owner"] and r["group"] in groups and "probe_end" in r)


def clear_job_group(sc):
    """PySpark has setJobGroup but no clearJobGroup; unset its properties."""
    for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def _int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


class EventLog:
    """Jobs, stages, tasks and SQL metrics of one application's event log,
    indexed by job group."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
        files += [p for p in glob.glob(os.path.join(log_dir, "*"))
                  if os.path.isfile(p) and not os.path.basename(p).startswith(".")]
        self.stage_group: dict[int, str] = {}
        self.nodes: dict[int, tuple[str, str, str]] = {}  # acc id -> (node, detail, metric)
        self.tasks: list[dict] = []
        self.acc_by_group: dict[str, dict[int, int]] = {}
        self.stage_scopes: dict[int, set] = {}
        for path in files:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    self._event(json.loads(line))

    def _plan(self, node: dict):
        for m in node.get("metrics", ()):
            self.nodes[m["accumulatorId"]] = (node["nodeName"], node["simpleString"], m["name"])
        for child in node.get("children", ()):
            self._plan(child)

    def _event(self, ev: dict):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is not None:
                for sid in ev.get("Stage IDs", ()):
                    self.stage_group[sid] = group
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(ev["sparkPlanInfo"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            scopes = set()
            for rdd in info.get("RDD Info", ()):
                try:
                    scopes.add(json.loads(rdd.get("Scope") or "{}").get("name", ""))
                except ValueError:
                    pass
            self.stage_scopes[info["Stage ID"]] = scopes
        elif kind == "SparkListenerTaskEnd":
            group = self.stage_group.get(ev["Stage ID"])
            info = ev["Task Info"]
            metrics = ev.get("Task Metrics") or {}
            self.tasks.append(
                {
                    "group": group,
                    "stage": ev["Stage ID"],
                    "speculative": bool(info.get("Speculative")),
                    "run_ms": _int(metrics.get("Executor Run Time")),
                    "gc_ms": _int(metrics.get("JVM GC Time")),
                    "input_bytes": _int((metrics.get("Input Metrics") or {}).get("Bytes Read")),
                    "output_bytes": _int((metrics.get("Output Metrics") or {}).get("Bytes Written")),
                }
            )
            if group is not None:
                accs = self.acc_by_group.setdefault(group, {})
                for acc in info.get("Accumulables", ()):
                    if acc.get("Metadata") == "sql":
                        accs[acc["ID"]] = accs.get(acc["ID"], 0) + _int(acc.get("Update"))

    def tasks_of(self, groups) -> list[dict]:
        groups = set(groups)
        return [t for t in self.tasks if t["group"] in groups]

    def sql_sum(self, groups, metric: str, node_filter=lambda node, detail: True) -> int:
        """Sum of one SQL metric over the plan nodes that pass the filter,
        across every task of the given job groups."""
        total = 0
        for group in set(groups):
            for acc, val in self.acc_by_group.get(group, {}).items():
                node = self.nodes.get(acc)
                if node and node[2] == metric and node_filter(node[0], node[1]):
                    total += val
        return total


def skew(values) -> float:
    """Max over median; 1.0 for a perfectly even stage."""
    values = [v for v in values if v > 0]
    if not values:
        return 0.0
    med = statistics.median(values)
    return max(values) / med if med > 0 else 0.0
