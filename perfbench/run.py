"""Benchmark of athena_delta_lake_spark: SQL and Delta reads and commits
over data left in place, and the registry's heavy pipelines.

    python3 perfbench/run.py --workload <batch|lake> --seed <n> --seconds <s> --trace <0|1>

Run from anywhere; the library is the checkout this file sits in. One
process, one client, closed loop, `local[nproc]`. The seed makes the inputs;
`--seconds` sets the number of passes (one pass per NOMINAL_PASS_S seconds,
at least one), so every run of a workload does the same ops in the same
order. All scratch state lives under `.bench_work/` in the checkout and is
removed at exit; traced runs leave their spans in `.bench_work/traces/`.

Workloads (perfbench/DESIGN.md has shapes, sizes and the metric map):
  batch  four registry queries over the flat-parquet sf0.01 fixtures into
         the noop sink, then one partitioned write_delta per pass
  lake   pond.sql and DataFrame reads over a generated day-partitioned Delta
         lake, then an append / merge / MOR delete / DV read / SQL UPDATE /
         delete / optimize / checkpoint / vacuum cycle on a rolling window

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics untraced, per-layer metrics traced). The lines
before it print every metric by name and unit, the raw (uncalibrated)
seconds, the share of CPU time the host stole (`host.steal_share`,
calib.py) and every op's median.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch", "lake")
NOMINAL_PASS_S = 10


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "athena_delta_lake_spark", "__init__.py")):
        print(f"perfbench: no athena_delta_lake_spark package in {ROOT}", file=sys.stderr)
        return 2
    # Spark's Python workers inherit the JVM's environment, which inherits
    # ours: put the checkout on their import path before the JVM starts
    # (the pandas UDF in delete_mor imports the package on the workers)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [HERE, ROOT]

    from harness import Bench

    b = Bench(ROOT, args.workload, args.seed, bool(args.trace))
    os.environ["TMPDIR"] = os.path.join(b.work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(b.work, "spark-local")
    n_passes = max(1, round(args.seconds / NOMINAL_PASS_S))
    try:
        __import__(args.workload).run(b, n_passes)
        result = b.result()
    finally:
        b.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
