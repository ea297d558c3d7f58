"""Spans around calls into the engine, and the Spark event-log parser.

A traced run names every span after the layer call it wraps
(``query:<name>:build``, ``query:<name>:action``, ``stream:<name>``,
``day:<day>``, ``ods``, ``dw``, ``ods:<table>``, ``dw:<table>``,
``commit:<layer>/<table>``) and
sets the innermost open span's name as the Spark job
group for the span, so each job in the event log can be attributed to
the span that caused it. Spans are kept in memory; the event log is
parsed once, after the session that wrote it has stopped.
"""

from __future__ import annotations

import collections
import contextlib
import glob
import json
import os
import time

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

EXEC_FIELDS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
               "input_bytes", "output_bytes", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes")


class Tracer:
    """Records spans; when ``spark`` is given, also tags Spark jobs."""

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[tuple[str, float]] = []  # (name, seconds)
        self.own_s = 0.0  # time spent in tracing code, outside the spans
        self.top_s = 0.0  # time inside outermost spans
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        sc = self.spark.sparkContext if self.spark is not None else None
        self._stack.append(name)
        if sc is not None:
            sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans.append((name, t1 - t0))
            self._stack.pop()
            if not self._stack:
                self.top_s += t1 - t0
            if sc is not None:
                if self._stack:
                    sc.setJobGroup(self._stack[-1], self._stack[-1])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.own_s += (t0 - t) + (time.perf_counter() - t1)

    def current(self) -> str | None:
        return self._stack[-1] if self._stack else None

    def enclosing(self, prefix: str) -> str | None:
        """The innermost open span whose name starts with ``prefix``."""
        return next((n for n in reversed(self._stack) if n.startswith(prefix)), None)


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group (``""`` for untagged jobs): the ``EXEC_FIELDS``
    totals over every job, stage attempt and task the log records."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = collections.defaultdict(
        lambda: dict.fromkeys(EXEC_FIELDS, 0.0)
    )
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                out[group]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                out[stage_group.get(sid, "")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                row = out[stage_group.get(ev["Stage ID"], "")]
                row["tasks"] += 1
                if not m:
                    continue
                row["task_run_s"] += m["Executor Run Time"] / 1e3
                row["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                row["gc_s"] += m["JVM GC Time"] / 1e3
                row["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                row["output_bytes"] += m["Output Metrics"]["Bytes Written"]
                sr = m["Shuffle Read Metrics"]
                row["shuffle_read_bytes"] += (sr["Remote Bytes Read"]
                                              + sr["Local Bytes Read"])
                row["shuffle_write_bytes"] += (
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"])
                row["spill_bytes"] += (m["Memory Bytes Spilled"]
                                       + m["Disk Bytes Spilled"])
    return dict(out)


def sum_groups(groups: dict[str, dict[str, float]], match) -> dict[str, float]:
    """``EXEC_FIELDS`` summed over the groups whose name satisfies ``match``."""
    total = dict.fromkeys(EXEC_FIELDS, 0.0)
    for name, row in groups.items():
        if match(name):
            for k in EXEC_FIELDS:
                total[k] += row[k]
    return total
