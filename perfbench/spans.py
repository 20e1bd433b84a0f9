"""Spans around calls into the program's layers, and Spark counters per
layer read back from the event log.

The benchmark, not the program, records the spans: ``Tracer.span(name)``
wraps one call into a layer's public function. When tracing is on it
also tags the calling thread's Spark jobs with ``sc.setJobGroup(name)``,
so every job the call runs can be attributed to that layer from the
event log after the session stops. When tracing is off a span costs one
``perf_counter`` pair and touches no Spark state.

Event-log parsing sums ``SparkListenerTaskEnd`` metrics per job group
and the ``number of files read`` SQL metric per job group.
"""

from __future__ import annotations

import glob
import json
import time
from collections import defaultdict
from contextlib import contextmanager

SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_s",
                  "executor_cpu_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "result_bytes")


class Tracer:
    """Records (name, parent, start, end) spans; ``enabled`` adds job
    groups so Spark work can be attributed per span name."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc if enabled else None
        self.enabled = enabled
        self.spans: list[tuple[str, str | None, float, float]] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append((name, parent, t0, t1))
            if self.sc is not None:
                group = self._stack[-1] if self._stack else "untraced"
                self.sc.setJobGroup(group, group)

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for n, _, t0, t1 in self.spans if n == name]

    def child_coverage(self, parent: str) -> list[float]:
        """For each span named ``parent``: the share of its wall time that
        its direct children's spans cover (self times of the layers
        called from it over its wall time)."""
        out = []
        for name, _, t0, t1 in self.spans:
            if name != parent:
                continue
            covered = sum(c1 - c0 for n, p, c0, c1 in self.spans
                          if p == parent and c0 >= t0 and c1 <= t1)
            out.append(covered / (t1 - t0))
        return out


def _add_task(g: dict[str, float], tm: dict) -> None:
    """Add one ``SparkListenerTaskEnd``'s metrics to a group's sums."""
    g["tasks"] += 1
    g["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
    g["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    g["result_bytes"] += tm.get("Result Size", 0)
    g["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                         + tm.get("Disk Bytes Spilled", 0))
    read = tm.get("Shuffle Read Metrics") or {}
    g["shuffle_read_bytes"] += (read.get("Remote Bytes Read", 0)
                                + read.get("Local Bytes Read", 0))
    write = tm.get("Shuffle Write Metrics") or {}
    g["shuffle_write_bytes"] += write.get("Shuffle Bytes Written", 0)


def spark_counters_by_group(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics, job/stage/task counts and files read per job
    group over every uncompressed event log in ``event_log_dir``."""
    groups: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(SPARK_COUNTERS + ("files_read",), 0.0))
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    stages_seen: set[int] = set()
    accum_names: dict[int, str] = {}
    accum_updates: list[tuple[int, int, float]] = []

    def plan_metrics(node: dict) -> None:
        for m in node.get("metrics", ()):
            accum_names[m["accumulatorId"]] = m["name"]
        for child in node.get("children", ()):
            plan_metrics(child)

    for path in sorted(glob.glob(f"{event_log_dir}/*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or "untraced"
                    groups[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"], "untraced")
                    g = groups[group]
                    if ev["Stage ID"] not in stages_seen:
                        stages_seen.add(ev["Stage ID"])
                        g["stages"] += 1
                    _add_task(g, ev.get("Task Metrics") or {})
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    plan_metrics(ev.get("sparkPlanInfo") or {})
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for aid, value in ev.get("accumUpdates", ()):
                        accum_updates.append((ev["executionId"], aid, value))
    for eid, aid, value in accum_updates:
        if accum_names.get(aid) == "number of files read":
            groups[exec_group.get(eid, "untraced")]["files_read"] += value
    return {k: dict(v) for k, v in groups.items()}
