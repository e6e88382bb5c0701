"""Record, for a range of seeds, what the benchmark checks its outputs
against, into perfbench/golden.json: the row count and digest of every
udf_mix query, and the expected key counts of every etl_daily job (rows
offered and distinct keys of each day and of both days, from the plans).

    python3 perfbench/record_golden.py --first 0 --last 63 [--part etl|queries]

Run from the root of a checkout, on a commit whose outputs are known to
be right; re-record when the generator or those plans change on purpose.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import datagen
import run
from spans import Tracer
from workloads import UDF_MIX, EtlDaily, Failures, QueryMix, result_digest


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--last", type=int, required=True)
    ap.add_argument("--part", choices=("etl", "queries"),
                    help="record only this part and keep the other")
    args = ap.parse_args(argv)
    sys.path.insert(0, run.ROOT)
    path = os.path.join(run.HERE, "golden.json")
    golden = {"sf": run.SF, "seeds": {}}
    if os.path.exists(path):
        with open(path) as fh:
            golden = json.load(fh)
    work = os.path.join(run.OUT, "golden")
    shutil.rmtree(work, ignore_errors=True)
    run.pin_env(work)
    spark = run.start_session(work)
    try:
        mix = QueryMix(UDF_MIX, spark, Tracer(enabled=False), Failures(), 0)
        etl = EtlDaily(spark, Tracer(enabled=False), Failures())
        for seed in range(args.first, args.last + 1):
            inputs = datagen.generate(run.SF, seed, os.path.join(work, f"seed{seed}"))
            day1 = datagen.digest(inputs["day1"])
            rec = golden["seeds"].get(str(seed), {})
            if rec.get("day1") != day1:
                rec = {"day1": day1}
            if args.part != "etl":
                rec["queries"] = {
                    n: list(result_digest(mix.queries[n](spark, inputs["day1"])))
                    for n in mix.names
                }
            if args.part != "queries":
                rec["etl"] = etl.expected(inputs["day1"], inputs["day2"])
            golden["seeds"][str(seed)] = rec
            _write(path, golden)
            print(f"seed {seed}: recorded", file=sys.stderr)
    finally:
        spark.stop()
        run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    return 0


def _write(path: str, golden: dict) -> None:
    golden["seeds"] = dict(sorted(golden["seeds"].items(), key=lambda kv: int(kv[0])))
    with open(path, "w") as fh:
        json.dump(golden, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    sys.exit(main())
