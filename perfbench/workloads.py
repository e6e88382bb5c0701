"""The three workloads: what one closed-loop operation does, what set-up
precedes it, and how its outputs are checked (outside the timed region).

- ``etl_daily``: the package's 5-job pipeline (``JobRegistry.run_all``
  over ``JOB_SPECS``), one operation = one cycle of three phases into
  fresh sinks: cold load of day-1, incremental load of day-2, replay of
  day-2.
- ``udf_mix``: registered plans whose executed plan crosses the Python
  boundary, run to a ``noop`` sink; one operation = one sequential pass
  over the mix in a seeded order.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import time

from spans import Tracer

UDF_MIX = (
    "embedding_cosine_arrow", "seq_packing", "bpe_tokenize",
    "events_capped_sessions", "media_decode_jpeg", "media_probe_mp4",
    "media_frame_schedule",
)
PHASES = ("load", "incremental", "replay")


class Failures:
    """Attempted/failed operation counts, with the first few errors."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what[:500])
        return ok


# -- result digests -----------------------------------------------------------


def _norm(v):
    """Order- and float-noise-insensitive form of one collected value."""
    if isinstance(v, float):
        return None if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, (bytes, bytearray)):
        return hashlib.blake2b(bytes(v), digest_size=8).hexdigest()
    if isinstance(v, dict):
        return sorted((str(k), _norm(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    return v if isinstance(v, (int, str, bool, type(None))) else str(v)


def result_digest(df) -> tuple[int, str]:
    """(row count, digest) of a DataFrame's rows, independent of row order
    and of the last digits of floating-point values."""
    cols = sorted(df.columns)
    rows = sorted(
        json.dumps([_norm(r[c]) for c in cols], default=str) for r in df.collect()
    )
    h = hashlib.blake2b(digest_size=16)
    for r in rows:
        h.update(r.encode())
    return len(rows), h.hexdigest()


# -- query mixes --------------------------------------------------------------


class QueryMix:
    def __init__(self, names, spark, tracer: Tracer, failures: Failures, seed: int):
        from ferramenta_etl_spark.plans import all_queries
        from ferramenta_etl_spark.plans.composites import add_bench_composites

        self.queries = all_queries()
        add_bench_composites(self.queries)
        self.names = list(names)
        self.spark = spark
        self.tracer = tracer
        self.failures = failures
        self.rng = random.Random(seed)
        self.build_s: dict[str, float] = {}

    def build(self, data_dir: str) -> float:
        """Cold builder call of every query (the plan cache fills)."""
        t0 = time.perf_counter()
        for name in self.names:
            with self.tracer.span("plans.build", query=name):
                t = time.perf_counter()
                try:
                    self.queries[name](self.spark, data_dir)
                except Exception as exc:  # noqa: BLE001 — counted, run continues
                    self.failures.record(False, f"build {name}: {exc!r}")
                self.build_s[name] = time.perf_counter() - t
        return time.perf_counter() - t0

    def one_pass(self, data_dir: str, timings: dict[str, list[float]] | None = None) -> float:
        """One sequential pass in a seeded order: plan lookup + execution
        of each query to the ``noop`` sink."""
        order = list(self.names)
        self.rng.shuffle(order)
        t0 = time.perf_counter()
        with self.tracer.span("pass"):
            for name in order:
                t = time.perf_counter()
                with self.tracer.span("query", query=name):
                    try:
                        with self.tracer.span("plans.lookup", query=name):
                            df = self.queries[name](self.spark, data_dir)
                        with self.tracer.span("execute", query=name):
                            df.write.format("noop").mode("overwrite").save()
                        self.failures.record(True)
                    except Exception as exc:  # noqa: BLE001 — counted, run continues
                        self.failures.record(False, f"run {name}: {exc!r}")
                if timings is not None:
                    timings.setdefault(name, []).append(time.perf_counter() - t)
        return time.perf_counter() - t0

    def verify(self, data_dir: str, golden: dict) -> dict[str, str]:
        """Check each query's output against the row count and digest
        recorded for this seed (perfbench/golden.json; none of these
        plans has a DuckDB oracle). For a seed with no recording, the
        output must at least repeat exactly on a second execution.
        Returns name -> check used."""
        used: dict[str, str] = {}
        for name in self.names:
            try:
                df = self.queries[name](self.spark, data_dir)
                got = result_digest(df)
                if name in golden:
                    want, used[name] = tuple(golden[name]), "recorded"
                else:
                    want, used[name] = result_digest(df), "repeat"
                self.failures.record(got == want, f"check {name}: got {got}, want {want}")
            except Exception as exc:  # noqa: BLE001 — counted, run continues
                used[name] = "error"
                self.failures.record(False, f"check {name}: {exc!r}")
        return used

    def exchanges(self, data_dir: str) -> dict[str, int]:
        from ferramenta_etl_spark.sources.bucketing import exchanges_in_plan

        return {n: exchanges_in_plan(self.queries[n](self.spark, data_dir)) for n in self.names}


# -- etl_daily ----------------------------------------------------------------


def sink_usage(sink_dir: str) -> tuple[int, int]:
    """(data files, bytes on disk) under a sink directory."""
    files = size = 0
    for root, _dirs, names in os.walk(sink_dir):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.startswith("part-")
    return files, size


class EtlDaily:
    def __init__(self, spark, tracer: Tracer, failures: Failures):
        from ferramenta_etl_spark.pipeline.jobs import DEFAULT_JOBS, JOB_SPECS

        self.spark = spark
        self.tracer = tracer
        self.failures = failures
        self.specs = JOB_SPECS
        self.labels = {n: DEFAULT_JOBS[n]["label"] for n in JOB_SPECS}

    def registry(self, data_dir: str, sink_dir: str):
        """The 5-job registry. Untraced, each job is ``build_jobs``'s own
        callable; traced, each is the same two calls (plan builder, then
        ``write_ignore_conflicts``) under separate spans."""
        from ferramenta_etl_spark.pipeline.jobs import build_jobs
        from ferramenta_etl_spark.pipeline.registry import JobRegistry
        from ferramenta_etl_spark.sinks import write_ignore_conflicts

        reg = JobRegistry()
        if not self.tracer.enabled:
            for name, fn in build_jobs(data_dir, sink_dir).items():
                reg.register(name, fn, self.labels[name])
            return reg
        for name, (plan, sink, keys) in self.specs.items():
            def job(spark, name=name, plan=plan, sink=sink, keys=keys):
                with self.tracer.span("pipeline.job", job=name):
                    with self.tracer.span("plans.build", job=name):
                        df = plan(spark, data_dir)
                    with self.tracer.span("sinks.write", job=name) as sp:
                        sp["appended"] = write_ignore_conflicts(
                            df, f"{sink_dir}/{sink}", keys=keys
                        )
                return sp["appended"]

            reg.register(name, job, self.labels[name])
        return reg

    def phase(self, data_dir: str, sink_dir: str, name: str) -> dict:
        reg = self.registry(data_dir, sink_dir)
        t0 = time.perf_counter()
        with self.tracer.span("phase", phase=name):
            with self.tracer.span("pipeline.run_all", phase=name):
                results = reg.run_all(self.spark, fail_fast=False)
        wall = time.perf_counter() - t0
        for r in results:
            self.failures.record(r.status == "ok", f"{name} {r.name}: {r.error}")
        return {
            "wall_s": wall,
            "appended": {r.name: r.output for r in results},
            "job_s": {r.name: r.seconds for r in results},
            "failed_jobs": sum(r.status != "ok" for r in results),
        }

    def cycle(self, day1: str, day2: str, sink_dir: str) -> dict:
        """Cold load of day-1, incremental load of day-2, replay of day-2,
        all into the fresh sinks under ``sink_dir``."""
        with self.tracer.span("cycle"):
            out = {
                "load": self.phase(day1, sink_dir, "load"),
                "incremental": self.phase(day2, sink_dir, "incremental"),
                "replay": self.phase(day2, sink_dir, "replay"),
            }
        out["wall_s"] = sum(out[p]["wall_s"] for p in PHASES)
        out["sink_dir"] = sink_dir
        out["files"], out["bytes"] = sink_usage(sink_dir)
        out["rows"] = sum(
            n or 0 for p in PHASES for n in out[p]["appended"].values()
        )
        return out

    def expected(self, day1: str, day2: str) -> dict[str, dict]:
        """Per job, from the plans alone (not the sinks): rows offered on
        each day, distinct keys of each day, distinct keys of both days.
        One Spark job: every plan's keys, as one string, tagged with job
        and day."""
        from functools import reduce

        from pyspark.sql import functions as F

        tagged = []
        for name, (plan, _sink, keys) in self.specs.items():
            key = F.to_json(F.struct(*keys))
            for day, data_dir in ((1, day1), (2, day2)):
                tagged.append(plan(self.spark, data_dir).select(
                    F.lit(name).alias("job"), key.alias("key"), F.lit(day).alias("day")
                ))
        per_key = reduce(lambda a, b: a.unionAll(b), tagged).groupBy("job", "key").agg(
            F.sum((F.col("day") == 1).cast("long")).alias("c1"),
            F.sum((F.col("day") == 2).cast("long")).alias("c2"),
        )
        rows = per_key.groupBy("job").agg(
            F.sum("c1").alias("rows1"),
            F.sum("c2").alias("rows2"),
            F.sum((F.col("c1") > 0).cast("long")).alias("keys1"),
            F.sum((F.col("c2") > 0).cast("long")).alias("keys2"),
            F.count(F.lit(1)).alias("keys_union"),
        ).collect()
        out = {r["job"]: {k: int(v) for k, v in r.asDict().items() if k != "job"} for r in rows}
        return {name: out.get(name, dict.fromkeys(
            ("rows1", "rows2", "keys1", "keys2", "keys_union"), 0)) for name in self.specs}

    def exchanges(self, day1: str, day2: str) -> dict[str, tuple[int, int]]:
        """Shuffle exchanges in each job's day-1 and day-2 plan."""
        from ferramenta_etl_spark.sources.bucketing import exchanges_in_plan

        return {
            name: (exchanges_in_plan(plan(self.spark, day1)),
                   exchanges_in_plan(plan(self.spark, day2)))
            for name, (plan, _sink, _keys) in self.specs.items()
        }

    def verify(self, cycles: list[dict], expected: dict[str, dict]) -> None:
        """Every cycle: load appends each job's day-1 distinct keys, the
        incremental load exactly the keys new in day-2, replay 0; each
        sink then holds the distinct keys of both days. (These equal
        day-2's keys except where a plan's per-key pick differs between
        the days, as the flagship's latest-manifest pick does.)"""
        from functools import reduce

        from pyspark.sql import functions as F

        held = reduce(lambda a, b: a.unionAll(b), [
            self.spark.read.parquet(f"{c['sink_dir']}/{sink}")
            .select(F.lit(i).alias("cycle"), F.lit(name).alias("job"))
            for i, c in enumerate(cycles)
            for name, (_plan, sink, _keys) in self.specs.items()
        ]).groupBy("cycle", "job").count().collect()
        held_rows = {(r["cycle"], r["job"]): r["count"] for r in held}
        for i, c in enumerate(cycles):
            for name, e in expected.items():
                want = {
                    "load": e["keys1"],
                    "incremental": e["keys_union"] - e["keys1"],
                    "replay": 0,
                }
                for p in PHASES:
                    got = c[p]["appended"].get(name)
                    self.failures.record(
                        got == want[p],
                        f"cycle {i} {p} {name}: appended {got}, expected {want[p]}",
                    )
                final = held_rows.get((i, name), 0)
                self.failures.record(
                    final == e["keys_union"],
                    f"cycle {i} {name}: sink holds {final}, expected {e['keys_union']}",
                )
