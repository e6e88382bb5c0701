"""Spans and Spark event-log metrics for the traced run.

A :class:`Tracer` records spans (name, start, end, parent) in memory
around each call the benchmark makes into the package. While a span is
open, the Spark job description of the calling thread is ``pb#<span id>``,
so every Spark job, stage and task the call submits can be mapped back to
the span from the session's own event log
(``spark.eventLog.enabled``, uncompressed). :func:`parse_event_log`
reads that log into per-span sums; :func:`op_metrics` folds spans and
sums into the per-layer numbers of one closed-loop operation.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import time

DESC_PREFIX = "pb#"

# Spark plan nodes that run Python workers (Arrow/pandas UDF boundary)
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")


class Tracer:
    """In-memory spans; with ``sc`` set, each open span's id is the job
    description of the Spark jobs submitted inside it. A disabled tracer
    records nothing and leaves job descriptions alone."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._describe()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._describe()

    def _describe(self) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(
                f"{DESC_PREFIX}{self._stack[-1]}" if self._stack else None
            )


def span_seconds(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    that its direct children cover (children are sequential here, so the
    covered part is the sum of their durations, clipped to the parent)."""
    covered = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] in covered:
            covered[s["parent"]] += span_seconds(s)
    return {
        s["id"]: max(span_seconds(s) - covered[s["id"]], 0.0) for s in spans
    }


def descendants(spans: list[dict], root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(children.get(sid, ()))
    return out


# -- event log ---------------------------------------------------------------

_TASK_SUMS = (
    "run_ms", "cpu_ns", "gc_ms", "shuffle_write_bytes", "shuffle_write_ns",
    "shuffle_read_bytes", "fetch_wait_ms", "input_bytes", "input_rows",
    "spill_bytes",
)
_NODE_SUMS = (
    "python_ms", "python_bytes_sent", "python_bytes_returned", "python_rows",
    "scan_ms", "files_read",
)


def _empty_bucket() -> dict:
    b = {k: 0 for k in _TASK_SUMS + _NODE_SUMS}
    b.update(jobs=0, stages=set(), tasks=0, stage_task_ms={})
    return b


def _log_files(log_dir: str) -> list[str]:
    """Event log files in write order: a rolling log is a directory of
    ``events_<n>_<app>`` files; a plain log is a single file."""
    rolled = glob.glob(os.path.join(log_dir, "*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )


def _plan_metrics(node: dict, out: dict) -> None:
    """accumulator id -> (node name, metric name, metric type)."""
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
    for child in node.get("children", ()):
        _plan_metrics(child, out)


def _node_metric(bucket: dict, node: str, metric: str, mtype: str, value: float) -> None:
    ms = value / 1e6 if mtype == "nsTiming" else value
    if _PYTHON_NODE.search(node):
        if metric == "time to run Python workers":
            bucket["python_ms"] += ms
        elif metric == "data sent to Python workers":
            bucket["python_bytes_sent"] += value
        elif metric == "data returned from Python workers":
            bucket["python_bytes_returned"] += value
        elif metric == "number of output rows":
            bucket["python_rows"] += value
    elif node.startswith("Scan") and metric == "scan time":
        bucket["scan_ms"] += ms
    elif node.startswith("Scan") and metric == "number of files read":
        bucket["files_read"] += value


def parse_event_log(log_dir: str) -> dict[int, dict]:
    """Span id -> summed Spark metrics of the jobs submitted under it.

    Task metrics come from ``SparkListenerTaskEnd``; plan-node metrics
    (Python-worker time and bytes, scan time, files read) from the task
    accumulables and the driver accumulator updates, named through the
    SQL plan info of each execution (initial and adaptive)."""
    acc_names: dict[int, tuple[str, str, str]] = {}
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    driver_updates: list[tuple[int, int, float]] = []
    task_accs: list[tuple[int, int, float]] = []
    buckets: dict[int, dict] = {}

    def bucket(sid: int) -> dict:
        return buckets.setdefault(sid, _empty_bucket())

    def span_of(desc) -> int | None:
        if isinstance(desc, str) and desc.startswith(DESC_PREFIX):
            return int(desc[len(DESC_PREFIX):])
        return None

    for path in _log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    sid = span_of(ev.get("Properties", {}).get("spark.job.description"))
                    if sid is None:
                        continue
                    bucket(sid)["jobs"] += 1
                    for st in ev["Stage IDs"]:
                        stage_span.setdefault(st, sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if sid is None or not tm:
                        continue
                    b = bucket(sid)
                    b["tasks"] += 1
                    b["stages"].add(ev["Stage ID"])
                    b["stage_task_ms"].setdefault(ev["Stage ID"], []).append(
                        tm["Executor Run Time"]
                    )
                    b["run_ms"] += tm["Executor Run Time"]
                    b["cpu_ns"] += tm["Executor CPU Time"]
                    b["gc_ms"] += tm["JVM GC Time"]
                    b["spill_bytes"] += tm["Disk Bytes Spilled"]
                    sw, sr = tm["Shuffle Write Metrics"], tm["Shuffle Read Metrics"]
                    b["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
                    b["shuffle_write_ns"] += sw["Shuffle Write Time"]
                    b["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    b["fetch_wait_ms"] += sr["Fetch Wait Time"]
                    b["input_bytes"] += tm["Input Metrics"]["Bytes Read"]
                    b["input_rows"] += tm["Input Metrics"]["Records Read"]
                    for acc in ev["Task Info"].get("Accumulables", ()):
                        if acc.get("Metadata") == "sql" and "Update" in acc:
                            task_accs.append((sid, acc["ID"], float(acc["Update"])))
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    sid = span_of(ev.get("description"))
                    if sid is not None:
                        exec_span[ev["executionId"]] = sid
                    _plan_metrics(ev["sparkPlanInfo"], acc_names)
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metrics(ev["sparkPlanInfo"], acc_names)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    sid = exec_span.get(ev["executionId"])
                    if sid is not None:
                        driver_updates.extend(
                            (sid, acc_id, float(v)) for acc_id, v in ev["accumUpdates"]
                        )
    for sid, acc_id, value in task_accs + driver_updates:
        if acc_id in acc_names:
            _node_metric(bucket(sid), *acc_names[acc_id], value)
    return buckets


# -- per-operation folding ---------------------------------------------------


def merge_buckets(parts: list[dict]) -> dict:
    out = _empty_bucket()
    for b in parts:
        for k in _TASK_SUMS + _NODE_SUMS + ("jobs", "tasks"):
            out[k] += b[k]
        out["stages"] |= b["stages"]
        out["stage_task_ms"].update(b["stage_task_ms"])
    return out


def task_skew(stage_task_ms: dict[int, list[int]]) -> float:
    """Worst stage's max/median task run time (stages of >= 2 tasks; the
    median is floored at 1 ms so sub-millisecond stages cannot dominate)."""
    ratios = [
        max(ms) / max(statistics.median(ms), 1.0)
        for ms in stage_task_ms.values()
        if len(ms) >= 2
    ]
    return max(ratios, default=1.0)


def spark_layer_metrics(b: dict, wall_s: float, cores: int) -> dict[str, float]:
    """Per-layer metrics of the sources and operators layers (and the
    plans layer's job/stage/task counts) from one merged bucket."""
    return {
        "plans.jobs": b["jobs"],
        "plans.stages": len(b["stages"]),
        "plans.tasks": b["tasks"],
        "sources.scan_s": b["scan_ms"] / 1e3,
        "sources.scan_bytes": b["input_bytes"],
        "sources.scan_rows": b["input_rows"],
        "sources.files_read": b["files_read"],
        "operators.run_s": b["run_ms"] / 1e3,
        "operators.cpu_s": b["cpu_ns"] / 1e9,
        "operators.gc_s": b["gc_ms"] / 1e3,
        "operators.shuffle_write_bytes": b["shuffle_write_bytes"],
        "operators.shuffle_read_bytes": b["shuffle_read_bytes"],
        "operators.shuffle_write_s": b["shuffle_write_ns"] / 1e9,
        "operators.fetch_wait_s": b["fetch_wait_ms"] / 1e3,
        "operators.spill_bytes": b["spill_bytes"],
        "operators.task_skew": task_skew(b["stage_task_ms"]),
        "operators.busy_ratio": (b["run_ms"] / 1e3) / (wall_s * cores) if wall_s > 0 else 0.0,
        "operators.python_s": b["python_ms"] / 1e3,
        "operators.python_bytes_sent": b["python_bytes_sent"],
        "operators.python_bytes_returned": b["python_bytes_returned"],
        "operators.python_rows": b["python_rows"],
    }


def op_metrics(spans: list[dict], buckets: dict[int, dict], op_id: int, cores: int) -> dict:
    """Fold one closed-loop operation (a pass or a cycle span): Spark
    metrics of every span under it, plus the summed duration and self
    time of its spans by name."""
    ids = descendants(spans, op_id)
    by_id = {s["id"]: s for s in spans}
    merged = merge_buckets([buckets[i] for i in ids if i in buckets])
    out = spark_layer_metrics(merged, span_seconds(by_id[op_id]), cores)
    selfs = self_times([by_id[i] for i in ids])
    out["span_s"] = {}
    out["self_s"] = {}
    for i in ids:
        name = by_id[i]["name"]
        out["span_s"][name] = out["span_s"].get(name, 0.0) + span_seconds(by_id[i])
        out["self_s"][name] = out["self_s"].get(name, 0.0) + selfs[i]
    return out
