"""Benchmark of ferramenta_etl_spark, driven from outside through the
package's public functions.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one client, closed loop:
each operation starts when the previous one has finished, on a
``local[<cores>]`` session. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything else (settings, interference flags, input
digests, per-query and per-job numbers) goes to
``.perfbench_out/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")

# Input scale: sf=0.01 is 15k orders / 60k line items. Most of a query's
# wall at this size is per-query planning and scheduling, which is what
# the roadmap's plan-cache, exchange and boundary items move.
SF = 0.01
# Driver JVM heap, pinned below the RAM of any box this runs on (the
# package default of 16g is not).
DRIVER_MEM = "2g"
WORKLOADS = ("etl_daily", "udf_mix")
# minimum closed-loop operations per run, whatever --seconds says
MIN_OPS = {"etl_daily": 1, "udf_mix": 3}
# a run during which the hypervisor stole more CPU than this is flagged noisy
STEAL_MAX_PCT = 2.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(run_dir: str) -> dict[str, str]:
    """Environment every Spark and Python-worker process of the run sees."""
    pinned = {
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_GRAFT_CPUS": str(cores()),
    }
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update(pinned)
    tempfile.tempdir = pinned["TMPDIR"]  # the module caches its first lookup
    return pinned


def start_session(run_dir: str, event_log_dir: str | None = None):
    from ferramenta_etl_spark.session import get_session

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        # the heap is committed and touched at start, so the JVM's peak RSS
        # does not depend on when G1 chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + event_log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_session(
        "perfbench", master=f"local[{cores()}]", shuffle_partitions=cores(),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- environment and interference --------------------------------------------


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_pct(start: list[int], end: list[int]) -> float:
    """Share of all CPU time between two /proc/stat samples that the
    hypervisor gave to other guests (the 8th cpu column)."""
    delta = [b - a for a, b in zip(start, end)]
    return 100.0 * delta[7] / max(sum(delta), 1) if len(delta) > 7 else 0.0


def _foreign_jvms() -> list[int]:
    """Java processes on the box that this process did not start."""
    me = os.getpid()

    def ancestors(pid: int):
        while pid > 1:
            yield pid
            with open(f"/proc/{pid}/stat") as fh:
                pid = int(fh.read().rsplit(")", 1)[1].split()[1])

    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                argv0 = fh.read().split(b"\0", 1)[0]
            if os.path.basename(argv0).startswith(b"java") and me not in ancestors(int(entry)):
                out.append(int(entry))
        except (OSError, ValueError, IndexError):
            continue  # exited while we looked
    return out


def interference() -> dict:
    return {
        "loadavg": list(os.getloadavg()),
        "cpu_jiffies": _cpu_jiffies(),
        "foreign_jvms": _foreign_jvms(),
    }


def interference_flags(start: dict, end: dict) -> dict:
    """Load average, steal and iowait share of the run, and foreign JVMs;
    ``noisy`` when another JVM ran or the hypervisor stole > 2% of CPU."""
    delta = [b - a for a, b in zip(start["cpu_jiffies"], end["cpu_jiffies"])]
    # /proc/stat cpu columns: user nice system idle iowait irq softirq steal
    flags = {
        "loadavg_start": start["loadavg"],
        "loadavg_end": end["loadavg"],
        "iowait_pct": 100.0 * delta[4] / max(sum(delta), 1),
        "steal_pct": _steal_pct(start["cpu_jiffies"], end["cpu_jiffies"]),
        "foreign_jvms_start": start["foreign_jvms"],
        "foreign_jvms_end": end["foreign_jvms"],
    }
    flags["noisy"] = bool(
        flags["foreign_jvms_start"] or flags["foreign_jvms_end"]
        or flags["steal_pct"] > STEAL_MAX_PCT
    )
    return flags


def _ram_mb() -> float:
    with open("/proc/meminfo") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:")) / 1024.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as fh:
        hwm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue  # exited while we looked
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def _running(pid: int) -> bool:
    """Alive and not a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Shut down the driver JVM this process launched (and, with it, the
    Python workers it forked), and wait until all of them have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    procs = _children(os.getpid())
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway server exits on EOF
    proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(_running(p) for p in procs):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running after the JVM stopped: {procs}")
        time.sleep(0.1)


# -- one measured context ------------------------------------------------------


def measure(op, seconds: float, min_ops: int) -> tuple[list[float], list[float]]:
    """Closed loop: run ``op`` back to back for ``seconds`` and at least
    ``min_ops`` times. Returns each operation's wall time and the share of
    CPU the hypervisor stole while it ran (recorded, not acted on: an
    operation run in place of a stolen-from one would sit at another point
    of the JVM's warm-up, so every run measures the same operations)."""
    walls: list[float] = []
    steal: list[float] = []
    t0 = time.perf_counter()
    while len(walls) < min_ops or time.perf_counter() - t0 < seconds:
        j0 = _cpu_jiffies()
        walls.append(op())
        steal.append(_steal_pct(j0, _cpu_jiffies()))
    return walls, steal


def measure_traced(op, tracer, seconds: float) -> tuple[list[float], list[bool]]:
    """Closed loop with tracing off and on in turn: untraced, traced,
    untraced (and further traced/untraced pairs until ``seconds``). The
    JVM keeps warming over a run, so every traced operation sits between
    two untraced ones. Returns each operation's wall time and whether it
    was traced."""
    walls: list[float] = []
    traced: list[bool] = []
    t0 = time.perf_counter()
    while len(walls) < 3 or time.perf_counter() - t0 < seconds or traced[-1]:
        tracer.enabled = len(walls) % 2 == 1
        traced.append(tracer.enabled)
        walls.append(op())
    tracer.enabled = True
    return walls, traced


def run_context(args, inputs: dict, run_dir: str, traced: bool, failures, golden: dict) -> dict:
    """Session start, set-up, the timed loop of one workload and the
    correctness checks. With ``traced``, the session writes an event log,
    set-up is traced, and the loop runs untraced and traced operations in
    turn (``measure_traced``)."""
    from spans import Tracer
    from workloads import PHASES, UDF_MIX, EtlDaily, QueryMix

    res: dict = {"traced": traced}
    event_log = os.path.join(run_dir, "eventlog") if traced else None
    t0 = time.perf_counter()
    spark = start_session(run_dir, event_log)
    res["session_s"] = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext, enabled=traced)

    def loop(op) -> list[float]:
        """Run the closed loop; returns the walls of the untraced
        operations the medians use."""
        if traced:
            walls, res["op_traced"] = measure_traced(op, tracer, args.seconds)
            res["traced_walls"] = [w for w, t in zip(walls, res["op_traced"]) if t]
            res["ops_used"] = [i for i, t in enumerate(res["op_traced"]) if not t]
        else:
            walls, res["op_steal_pct"] = measure(op, args.seconds, MIN_OPS[args.workload])
            res["ops_used"] = list(range(len(walls)))
        return [walls[i] for i in res["ops_used"]]

    day1, day2 = inputs["day1"], inputs["day2"]
    try:
        if args.workload == "etl_daily":
            etl = EtlDaily(spark, tracer, failures)
            sinks = os.path.join(run_dir, "sinks")
            t0 = time.perf_counter()
            with tracer.span("warmup"):
                etl.phase(day1, f"{sinks}/warmup", "load")
            res["build_s"] = 0.0
            res["warmup_s"] = time.perf_counter() - t0
            cycles: list[dict] = []

            def op() -> float:
                cycles.append(etl.cycle(day1, day2, f"{sinks}/c{len(cycles)}"))
                return cycles[-1]["wall_s"]

            res["op_walls"] = loop(op)
            for p in PHASES:
                res[f"{p}_walls"] = [cycles[i][p]["wall_s"] for i in res["ops_used"]]
            res["expected"] = golden.get("etl") or etl.expected(day1, day2)
            res["expected_from"] = "recorded" if golden.get("etl") else "plans"
            etl.verify(cycles, res["expected"])
            if traced:
                res["exchanges"] = etl.exchanges(day1, day2)
            res["cycles"] = cycles
        else:
            mix = QueryMix(UDF_MIX, spark, tracer, failures, args.seed)
            res["build_s"] = mix.build(day1)
            res["build_per_query_s"] = mix.build_s
            t0 = time.perf_counter()
            with tracer.span("warmup"):
                res["cold_pass_s"] = mix.one_pass(day1)
            res["warmup_s"] = time.perf_counter() - t0
            timings: dict[str, list[float]] = {}
            res["op_walls"] = loop(lambda: mix.one_pass(day1, timings))
            res["per_query_s"] = {n: statistics.median(v) for n, v in timings.items()}
            res["checks"] = mix.verify(day1, golden.get("queries", {}))
            if traced:
                res["exchanges"] = mix.exchanges(day1)
            # a read-only mix has no sink state for its phases to differ
            # by: each phase of it is a pass
            for p in PHASES:
                res[f"{p}_walls"] = res["op_walls"]
        res["peak_rss_mb"] = peak_rss_mb(spark)
    finally:
        spark.stop()
    res["spans"] = tracer.spans
    if traced:
        from spans import parse_event_log

        res["buckets"] = parse_event_log(event_log)
    return res


# -- metrics -------------------------------------------------------------------

E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "load_s": "s", "incremental_s": "s",
    "replay_s": "s", "peak_rss_mb": "MB", "ok_rate": "ratio",
}


def end_to_end(res: dict, gen_s: float, failures) -> dict[str, float]:
    med = statistics.median
    return {
        "setup_s": res["session_s"] + gen_s + res["build_s"] + res["warmup_s"],
        "pass_s": med(res["op_walls"]),
        "load_s": med(res["load_walls"]),
        "incremental_s": med(res["incremental_walls"]),
        "replay_s": med(res["replay_walls"]),
        "peak_rss_mb": res["peak_rss_mb"],
        "ok_rate": 1.0 - failures.failed / max(failures.attempted, 1),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ferramenta_etl_spark", "__init__.py")):
        print(f"perfbench: package ferramenta_etl_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import datagen
    from workloads import Failures

    run_dir = os.path.join(OUT, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        settings = pin_env(run_dir)
        settings.update(
            master=f"local[{cores()}]", shuffle_partitions=cores(), sf=SF,
            driver_memory=DRIVER_MEM, ram_mb=_ram_mb(),
        )
        env_start = interference()
        t0 = time.perf_counter()
        inputs = datagen.generate(SF, args.seed, os.path.join(run_dir, "inputs"))
        gen_s = time.perf_counter() - t0
        digests = {"fixture_day2": datagen.digest(inputs["day2"]),
                   "day1": datagen.digest(inputs["day1"])}
        golden = load_golden(args.seed, digests["day1"])
        failures = Failures()
        res = run_context(args, inputs, run_dir, bool(args.trace), failures, golden)
        if args.trace:
            from perlayer import per_layer

            metrics = per_layer(args.workload, res, cores())
        else:
            metrics = end_to_end(res, gen_s, failures)
        detail = {
            "args": vars(args), "settings": settings, "inputs": digests,
            "gen_s": gen_s,
            "interference": interference_flags(env_start, interference()),
            "metrics": metrics, "attempted": failures.attempted,
            "failed": failures.failed, "errors": failures.errors,
            "run": {k: v for k, v in res.items() if k not in ("spans", "buckets")},
        }
        write_detail(args, detail)
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        from perlayer import PER_LAYER as units
    else:
        units = E2E_UNITS
    print(json.dumps({
        "correct": failures.failed == 0,
        "attempted": failures.attempted,
        "failed": failures.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def load_golden(seed: int, day1_digest: str) -> dict:
    """What was recorded for this seed (``queries``: rows and digest per
    udf_mix query; ``etl``: the expected key counts per job), if the
    recording was made from the same day-1 inputs."""
    path = os.path.join(HERE, "golden.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        rec = json.load(fh).get("seeds", {}).get(str(seed))
    if not rec or rec["day1"] != day1_digest:
        return {}
    return rec


def write_detail(args, detail: dict) -> None:
    out = os.path.join(OUT, "results")
    os.makedirs(out, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json"
    with open(os.path.join(out, name), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
