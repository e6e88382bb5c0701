"""Self-tests of the benchmark harness: tiny end-to-end runs (sf=0.001)
of each workload, the event-log parser and span self times against a
real traced run, and the metric names and units of BENCHMARK.json.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import Failures  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


@pytest.fixture(scope="module", autouse=True)
def one_jvm():
    """Every run in this module shares one driver JVM, stopped at the end.
    (A run normally owns its process; restarting the JVM inside one
    process breaks the package's plan cache, whose eviction touches the
    cached plans of the stopped JVM.)"""
    stop = run.stop_jvm
    run.stop_jvm = lambda: None
    yield
    run.stop_jvm = stop
    stop()


@pytest.fixture(autouse=True)
def tiny(monkeypatch):
    monkeypatch.setattr(run, "SF", 0.001)
    monkeypatch.setattr(run, "MIN_OPS", dict.fromkeys(run.WORKLOADS, 1))


def _main(workload: str, trace: int) -> dict:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = run.main(["--workload", workload, "--seed", "3", "--seconds", "0",
                         "--trace", str(trace)])
    assert code == 0
    return json.loads(out.getvalue().strip().splitlines()[-1])


def _check_result(result: dict, declared: list[dict]) -> dict[str, float]:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_every_end_to_end_metric(workload):
    values = _check_result(_main(workload, 0), BENCH["end_to_end"])
    assert all(v > 0 for v in values.values()), values


def test_traced_loop_alternates_untraced_and_traced():
    class Counter:
        enabled = True

    tracer = Counter()
    seen = []
    walls, traced = run.measure_traced(lambda: seen.append(tracer.enabled) or 1.0, tracer, 0)
    assert traced == seen == [False, True, False]
    assert walls == [1.0, 1.0, 1.0] and tracer.enabled


def test_traced_run_spans_only_the_traced_operations(traced_udf):
    res, _ = traced_udf
    passes = [s for s in res["spans"] if s["name"] == "pass" and s["parent"] is None]
    assert res["op_traced"] == [False, True, False]
    assert len(passes) == 1 and len(res["op_walls"]) == 2 and len(res["traced_walls"]) == 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_per_layer_metric(workload):
    values = _check_result(_main(workload, 1), BENCH["per_layer"])
    assert values["session.start_s"] > 0 and values["plans.build_s"] > 0
    assert values["plans.jobs"] > 0 and values["operators.run_s"] > 0
    if workload == "etl_daily":
        # no Python boundary; every sink phase at work, replay appends 0
        assert values["operators.python_s"] == 0
        assert values["sinks.append_ratio.load"] > 0
        assert values["sinks.append_ratio.replay"] == 0
        assert values["sinks.rows_appended.replay"] == 0
        assert values["sinks.bytes_per_row"] > 0
    else:
        # the Python boundary at work; no sink
        assert values["operators.python_s"] > 0
        assert values["operators.python_rows"] > 0
        assert all(v == 0 for k, v in values.items() if k.startswith("sinks."))


@pytest.fixture(scope="module")
def traced_udf():
    """A traced udf_mix context whose event log is kept for inspection."""
    run_dir = os.path.join(run.OUT, "runs", f"selftest-{os.getpid()}")
    saved_sf, saved_ops = run.SF, run.MIN_OPS
    run.SF, run.MIN_OPS = 0.001, dict.fromkeys(run.WORKLOADS, 1)
    try:
        run.pin_env(run_dir)
        inputs = datagen.generate(0.001, 3, os.path.join(run_dir, "inputs"))

        class Args:
            workload, seed, seconds = "udf_mix", 3, 0

        res = run.run_context(Args, inputs, run_dir, True, Failures(), {})
        yield res, os.path.join(run_dir, "eventlog")
    finally:
        run.SF, run.MIN_OPS = saved_sf, saved_ops
        shutil.rmtree(run_dir, ignore_errors=True)


def test_event_log_parser_matches_raw_task_events(traced_udf):
    res, log_dir = traced_udf
    buckets = spans.parse_event_log(log_dir)
    # independent count straight from the log: tasks of jobs whose
    # description names a span
    stage_of_span, tasks, run_ms = set(), 0, 0
    for path in spans._log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                if ev["Event"] == "SparkListenerJobStart":
                    desc = ev["Properties"].get("spark.job.description") or ""
                    if desc.startswith(spans.DESC_PREFIX):
                        stage_of_span.update(ev["Stage IDs"])
                elif ev["Event"] == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_of_span:
                    tasks += 1
                    run_ms += ev["Task Metrics"]["Executor Run Time"]
    assert tasks > 0
    assert sum(b["tasks"] for b in buckets.values()) == tasks
    assert sum(b["run_ms"] for b in buckets.values()) == run_ms
    # every bucket belongs to a recorded span; Python time lands only
    # under executions (or the set-up that materialises inputs)
    names = {s["id"]: s["name"] for s in res["spans"]}
    assert set(buckets) <= set(names)
    python_under = {names[i] for i, b in buckets.items() if b["python_ms"] > 0}
    assert "execute" in python_under
    assert python_under <= {"execute", "plans.build", "plans.lookup"}


def test_self_times_synthetic():
    s = [
        {"id": 0, "name": "root", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 5.0, "end": 9.0},
        {"id": 3, "name": "c", "parent": 1, "start": 2.0, "end": 3.0},
    ]
    assert spans.self_times(s) == {0: 3.0, 1: 2.0, 2: 4.0, 3: 1.0}
    assert spans.descendants(s, 1) == {1, 3}


def test_self_times_partition_each_pass(traced_udf):
    res, _ = traced_udf
    ss = res["spans"]
    passes = [s for s in ss if s["name"] == "pass"]
    assert passes
    for p in passes:
        sub = [s for s in ss if s["id"] in spans.descendants(ss, p["id"])]
        total = sum(spans.self_times(sub).values())
        assert total == pytest.approx(spans.span_seconds(p), abs=1e-6)
