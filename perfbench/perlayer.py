"""Per-layer metrics of a traced run.

The layers are the package's modules: ``session``, ``plans``,
``sources``, ``operators``, ``sinks`` and ``pipeline``. Spans wrap the
benchmark's calls into the public functions of ``session``, ``plans``,
``sinks`` and ``pipeline``; ``sources`` and ``operators`` run inside the
Spark jobs those calls submit, so their numbers come from the event log.
Each metric is the median over the run's traced closed-loop operations
(passes or cycles) of its per-operation value, except the set-up ones
(``session.start_s``; ``plans.build_s`` on the query mix) and the
tracing overhead, which compares the traced operations with the
untraced ones run in turn with them in the same session.
"""

from __future__ import annotations

import statistics

from spans import op_metrics
from workloads import PHASES

_PHASED = (
    "plans.build_s", "sinks.write_s", "sinks.rows_offered", "sinks.rows_appended",
    "sinks.append_ratio", "pipeline.job_s", "sources.scan_bytes", "operators.run_s",
)
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.lookup_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.exchanges": "count",
    "sources.scan_s": "s",
    "sources.scan_bytes": "B",
    "sources.scan_rows": "count",
    "sources.files_read": "count",
    "operators.run_s": "s",
    "operators.cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_write_bytes": "B",
    "operators.shuffle_read_bytes": "B",
    "operators.shuffle_write_s": "s",
    "operators.fetch_wait_s": "s",
    "operators.spill_bytes": "B",
    "operators.task_skew": "ratio",
    "operators.busy_ratio": "ratio",
    "operators.python_s": "s",
    "operators.python_bytes_sent": "B",
    "operators.python_bytes_returned": "B",
    "operators.python_rows": "count",
    "sinks.write_s": "s",
    "sinks.rows_offered": "count",
    "sinks.rows_appended": "count",
    "sinks.append_ratio": "ratio",
    "sinks.files": "count",
    "sinks.bytes": "B",
    "sinks.bytes_per_row": "B/row",
    "pipeline.job_s": "s",
    "pipeline.failed_jobs": "count",
    **{f"{m}.{p}": ("s" if m.endswith("_s") else "B" if m.endswith("bytes")
                    else "ratio" if m.endswith("ratio") else "count")
       for m in _PHASED for p in PHASES},
    # self time of the spans of each kind: the benchmark's own loop,
    # plan builder and lookup calls, noop executions, sink writes and the
    # registry's run_all/run_one around them
    "self.bench_s": "s",
    "self.plans_s": "s",
    "self.execute_s": "s",
    "self.sinks_s": "s",
    "self.pipeline_s": "s",
    # one operation with tracing on, off, and the difference
    "trace.traced_op_s": "s",
    "trace.untraced_op_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_pct": "%",
}
_SELF = {
    "self.bench_s": ("pass", "cycle", "phase", "query"),
    "self.plans_s": ("plans.build", "plans.lookup"),
    "self.execute_s": ("execute",),
    "self.sinks_s": ("sinks.write",),
    "self.pipeline_s": ("pipeline.run_all", "pipeline.job"),
}


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _per_op(m: dict) -> dict[str, float]:
    out = {k: v for k, v in m.items() if k in PER_LAYER}
    out["plans.build_s"] = m["span_s"].get("plans.build", 0.0)
    out["plans.lookup_s"] = m["span_s"].get("plans.lookup", 0.0)
    out["sinks.write_s"] = m["span_s"].get("sinks.write", 0.0)
    for name, kinds in _SELF.items():
        out[name] = sum(m["self_s"].get(k, 0.0) for k in kinds)
    return out


def per_layer(workload: str, traced: dict, cores: int) -> dict[str, float]:
    """``traced``: a run whose closed loop ran untraced and traced
    operations in turn; the metrics fold the traced ones."""
    spans, buckets = traced["spans"], traced["buckets"]
    ops = [s for s in spans if s["parent"] is None and s["name"] in ("pass", "cycle")]
    if workload == "etl_daily":
        cycles = [c for c, t in zip(traced["cycles"], traced["op_traced"]) if t]
    rows: list[dict[str, float]] = []
    for i, op in enumerate(ops):
        row = _per_op(op_metrics(spans, buckets, op["id"], cores))
        if workload == "etl_daily":
            row.update(_etl_row(spans, buckets, op, cycles[i], traced, cores))
        rows.append(row)
    out = {k: 0.0 for k in PER_LAYER}
    for k in PER_LAYER:
        vals = [r[k] for r in rows if k in r]
        if vals:
            out[k] = statistics.median(vals)
    out["session.start_s"] = traced["session_s"]
    if workload != "etl_daily":
        out["plans.build_s"] = traced["build_s"]
        out["plans.exchanges"] = sum(traced["exchanges"].values())
    out["trace.traced_op_s"] = statistics.median(traced["traced_walls"])
    out["trace.untraced_op_s"] = statistics.median(traced["op_walls"])
    out["trace.overhead_s"] = out["trace.traced_op_s"] - out["trace.untraced_op_s"]
    out["trace.overhead_pct"] = 100.0 * _ratio(out["trace.overhead_s"], out["trace.untraced_op_s"])
    return out


def _etl_row(spans, buckets, op, cycle, traced, cores) -> dict[str, float]:
    """Sink and pipeline numbers of one traced cycle, in total and per phase."""
    expected = traced["expected"]
    offered = {
        "load": sum(e["rows1"] for e in expected.values()),
        "incremental": sum(e["rows2"] for e in expected.values()),
        "replay": sum(e["rows2"] for e in expected.values()),
    }
    row: dict[str, float] = {}
    phase_spans = [s for s in spans if s["parent"] == op["id"] and s["name"] == "phase"]
    for ps in phase_spans:
        p = ps["phase"]
        m = _per_op(op_metrics(spans, buckets, ps["id"], cores))
        appended = sum(n or 0 for n in cycle[p]["appended"].values())
        row[f"plans.build_s.{p}"] = m["plans.build_s"]
        row[f"sinks.write_s.{p}"] = m["sinks.write_s"]
        row[f"sinks.rows_offered.{p}"] = offered[p]
        row[f"sinks.rows_appended.{p}"] = appended
        row[f"sinks.append_ratio.{p}"] = _ratio(appended, offered[p])
        row[f"pipeline.job_s.{p}"] = sum(cycle[p]["job_s"].values())
        row[f"sources.scan_bytes.{p}"] = m["sources.scan_bytes"]
        row[f"operators.run_s.{p}"] = m["operators.run_s"]
    row["sinks.rows_offered"] = sum(offered.values())
    row["sinks.rows_appended"] = cycle["rows"]
    row["sinks.append_ratio"] = _ratio(cycle["rows"], row["sinks.rows_offered"])
    row["sinks.files"] = cycle["files"]
    row["sinks.bytes"] = cycle["bytes"]
    row["sinks.bytes_per_row"] = _ratio(cycle["bytes"], cycle["rows"])
    row["pipeline.job_s"] = sum(sum(cycle[p]["job_s"].values()) for p in PHASES)
    row["pipeline.failed_jobs"] = sum(cycle[p]["failed_jobs"] for p in PHASES)
    row["plans.exchanges"] = sum(x1 + 2 * x2 for x1, x2 in traced["exchanges"].values())
    return row

