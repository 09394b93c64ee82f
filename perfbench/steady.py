"""Steadiness report: run each workload k times, alternating workloads, and
print every end-to-end metric's median and spread, calibrated (as reported)
and raw.

    python3 perfbench/steady.py --runs 10 [--seed0 1]

The workloads and the run length are those of BENCHMARK.json. Run i uses
seed `seed0 + i`. The spread is the interquartile range over the
median, with quartiles as `statistics.quantiles(values, n=4)` gives them.
Raw figures are the same sums of wall times before the host calibration
(calib.py), so the two columns show whether the calibration narrows the
spread. Each run's
figures are printed as it ends, so a partial report is still usable.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("nan")


def one_run(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    raw = next(json.loads(x[4:]) for x in lines if x.startswith("raw "))
    per_op = [x.strip() for x in lines
              if x.lstrip().startswith(("read ops", "write ops", "op by pass", "pass wall"))]
    return {"failed": result["failed"], "attempted": result["attempted"],
            "cal": {k: m["value"] for k, m in result["metrics"].items()},
            "steal": raw.pop("host.steal_share"), "raw": raw, "per_op": per_op,
            "wall": time.perf_counter() - t0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()
    with open(SPEC) as fh:
        spec = json.load(fh)

    runs: dict[str, list[dict]] = {w["name"]: [] for w in spec["workloads"]}
    for i in range(args.runs):
        for w in runs:
            r = one_run(w, args.seed0 + i, spec["run_seconds"])
            runs[w].append(r)
            print(f"{w} seed {args.seed0 + i}: failed {r['failed']}/{r['attempted']} "
                  + " ".join(f"{k} {v:.4f}" for k, v in r["cal"].items())
                  + f" host.steal_share {r['steal']:.4f} run wall {r['wall']:.1f} s", flush=True)
            for line in r["per_op"]:
                print(f"    {line}", flush=True)

    if args.runs < 2:
        return 0
    print(f"\n{args.runs} runs per workload; spread = IQR/median")
    print(f"{'workload':<8} {'metric':<20} {'median':>12} {'spread':>8} {'raw median':>12} "
          f"{'raw spread':>10}")
    for w, rs in runs.items():
        for k in rs[0]["cal"]:
            cal = [r["cal"][k] for r in rs]
            line = f"{w:<8} {k:<20} {statistics.median(cal):>12.4f} {spread(cal):>8.3f}"
            if k in rs[0]["raw"]:
                raw = [r["raw"][k] for r in rs]
                line += f" {statistics.median(raw):>12.4f} {spread(raw):>10.3f}"
            print(line)
        steal = [r["steal"] for r in rs]
        print(f"{w:<8} {'host.steal_share':<20} {statistics.median(steal):>12.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
