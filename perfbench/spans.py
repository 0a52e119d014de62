"""Spans around the benchmark's calls into the engine, and the Spark
counters attributed to them.

A span is recorded for every call the benchmark makes into a layer's
public function. Spans live in memory and are written out once, at the
end of the run. In a traced run each span's id is also the Spark job
group while the span is open, so every job, stage and task Spark runs
maps back to the span that caused it. Streaming micro-batch jobs carry
the query's run id as their job group instead; `alias` maps that run id
to the span that started the query.

Counters come from the Spark event log of the traced session, read
after the session stops. The in-process status store is not used: it
drops SQL accumulators, which carry the Python-worker metrics.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# stage-level task-metric totals read from the event log, by output key
_TASK_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.input.recordsRead": "scan_rows",
    "internal.metrics.input.bytesRead": "scan_bytes",
}
# SQL metrics of the Arrow/pandas UDF operators (PythonSQLMetrics)
_PYTHON_TIME = "time to run Python workers"
_PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    """Span recorder. With `traced=False` spans are still timed (the
    benchmark's end-to-end numbers read step wall times from them) but
    no job group is set."""

    def __init__(self, run_id: str, traced: bool):
        self.run_id = run_id
        self.traced = traced
        self.spans: list[dict] = []
        self.alias: dict[str, str] = {}
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, spark_context) -> None:
        self._sc = spark_context

    def _set_group(self, span_id: str | None) -> None:
        if self.traced and self._sc is not None:
            self._sc.setLocalProperty("spark.jobGroup.id", span_id)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1]["id"] if self._stack else None
        s = {
            "id": f"{self.run_id}.{len(self.spans)}",
            "name": name,
            "parent": parent,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s["id"])
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1]["id"] if self._stack else None)

    def current(self, name: str) -> dict | None:
        """The innermost open span called `name`, if any."""
        return next((s for s in reversed(self._stack) if s["name"] == name), None)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def read_event_log(log_dir: str) -> tuple[list[str | None], list[dict]]:
    """(job groups, completed stage attempts) of every event log under
    `log_dir`. One job group entry per job; each stage attempt is a dict
    {"group", "tasks", <_TASK_METRICS values>, "python_ms",
    "python_bytes", "peak_exec_mem_bytes"}."""
    stage_group: dict[int, str | None] = {}
    jobs: list[str | None] = []
    stages = []
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
        if not f.startswith(".")
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append(props.get("spark.jobGroup.id"))
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    props = ev.get("Properties") or {}
                    stage_group[sid] = props.get("spark.jobGroup.id")
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Failure Reason" in info:
                        continue
                    sid = info["Stage ID"]
                    row = defaultdict(int)
                    row["group"] = stage_group.get(sid)
                    row["tasks"] = info["Number of Tasks"]
                    for acc in info.get("Accumulables", []):
                        nm, val = acc.get("Name"), acc.get("Value")
                        if val is None:
                            continue
                        if nm in _TASK_METRICS:
                            row[_TASK_METRICS[nm]] += int(val)
                        elif nm == "internal.metrics.peakExecutionMemory":
                            row["peak_exec_mem_bytes"] = int(val)
                        elif nm == _PYTHON_TIME:
                            row["python_ms"] += int(val)
                        elif nm in _PYTHON_BYTES:
                            row["python_bytes"] += int(val)
                    stages.append(row)
    return jobs, stages
