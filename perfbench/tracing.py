"""Spans kept in memory and the reduction of a Spark event log.

Both are used only by the traced run.  A span records one layer boundary
crossed by the benchmark (a pass, a query, or its build / exec / release
phase) with its parent; the spans of one query run share its trace id.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict


class Spans:
    def __init__(self) -> None:
        self.spans: list[dict] = []

    def start(self, name: str, parent: int | None = None,
              trace: str | None = None) -> int:
        self.spans.append({"id": len(self.spans), "name": name,
                           "parent": parent, "trace": trace,
                           "start": time.perf_counter(), "end": None})
        return len(self.spans) - 1

    def end(self, span_id: int) -> None:
        self.spans[span_id]["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            kind = s["name"].split(":")[0]
            out[kind] += s["end"] - s["start"] - child_s[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# Task-level accumulators summed per job group: (event-log path, scale).
_TASK_METRICS = {
    "executor_run_s": (("Executor Run Time",), 1e-3),
    "executor_cpu_s": (("Executor CPU Time",), 1e-9),
    "shuffle_write_mb": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1 / 2**20),
    "input_mb": (("Input Metrics", "Bytes Read"), 1 / 2**20),
}


def reduce_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum executor metrics and task counts per Spark job group over every
    uncompressed, non-rolling event log file in ``log_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics")
                    if group is None or not metrics:
                        continue
                    row = out[group]
                    row["tasks"] += 1
                    for key, (path, scale) in _TASK_METRICS.items():
                        v = metrics
                        for p in path:
                            v = v.get(p, {}) if isinstance(v, dict) else {}
                        if isinstance(v, (int, float)):
                            row[key] += v * scale
    return {g: dict(m) for g, m in out.items()}
