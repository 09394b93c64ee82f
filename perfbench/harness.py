"""Shared run machinery: session, set-up phases, timed ops, passes and the
result.

One process, one client, closed loop: every op runs to completion before
the next starts, and every pass runs the same ops in the same order. An op
is timed from just before its first library call to just after its answer
is in hand; answer checks, source-batch building and byte accounting run
outside the timer.

An end-to-end latency is a sum over the workload's ops of each op's median
across the run's passes; it is never one pass's total or one sample. Every
op and set-up time is calibrated: scaled by one minus the share of its busy
CPU time the host stole from the VM (calib.py). Raw wall times are printed
beside them.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

from calib import Stopwatch
from metrics import E2E, PER_LAYER
from tracer import Tracer


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def tail(values: list[float]) -> tuple[float, str]:
    """Latency at the highest percentile with at least 10 samples beyond it
    (nearest rank). Under 50 samples that percentile falls below p80, so a
    fifth of the samples must lie beyond it instead; under 5 samples it is
    the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, "n=0"
    beyond = min(10, n // 5)
    return xs[n - 1 - beyond], f"p{100 * (n - beyond) / n:.1f} of n={n}"


def reset_peak_rss() -> None:
    """Restart VmHWM from the current RSS (Linux 4.0+), so the peak read
    later covers only what ran since."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mib() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(path) for f in files)


def same_rows(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> bool:
    """Order-insensitive row comparison, floats compared to `rel`."""
    if len(got) != len(want):
        return False

    def key(r):
        return tuple((v is None, str(v) if not isinstance(v, float) else "") for v in r)

    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=rel, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


class Bench:
    def __init__(self, root: str, workload: str, seed: int, trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.work = os.path.join(root, ".bench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.spark = None
        self.tracer: Tracer | None = None
        # set-up phase -> calibrated and raw seconds
        self.setup: dict[str, float] = {}
        self.setup_raw: dict[str, float] = {}
        self._excluded = 0.0
        # op name -> calibrated and raw latencies in measured passes; its kind
        self.lat: dict[str, list[float]] = {}
        self.lat_raw: dict[str, list[float]] = {}
        self.kind: dict[str, str] = {}
        self.steal_share = 0.0  # over the measured passes
        self.peak_rss = 0.0  # driver VmHWM over the measured passes, MiB
        self.pass_wall: list[float] = []
        self.measuring = False
        self.traced = False
        self._pass_s = 0.0
        self._op_seq = 0
        self.attempted = 0
        self.failed = 0
        self.space_amp = 0.0

    # -- set-up ----------------------------------------------------------------
    def session(self):
        from athena_delta_lake_spark import get_spark

        cpus = os.cpu_count() or 1
        with self.phase("session_s"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{cpus}]",
                shuffle_partitions=cpus,
                extra_conf={
                    "spark.local.dir": os.path.join(self.work, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    # no hsperfdata file under /tmp: the run writes only in its
                    # checkout. C1 only: at these sizes an op is planning and
                    # short jobs, and C2 compiles kept op times drifting
                    # through a run while competing for the cores
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData "
                        "-XX:TieredStopAtLevel=1",
                },
            )
        if self.trace:
            self.tracer = Tracer(self.spark)
            self.tracer.install()
        return self.spark

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one part of set-up (`setup.<name>`), minus excluded blocks."""
        before = self._excluded
        sw = Stopwatch()
        try:
            yield
        finally:
            wall, stolen = sw.stop()
            wall -= self._excluded - before
            self.setup_raw[name] = wall
            self.setup[name] = wall * (1 - stolen)

    def generate(self, fn, reps: int = 3):
        """Make the inputs `reps` times (`fn(i)` writes copy i); the median
        time is `setup.generate_s` and the last copy is the one used."""
        times, out = [], None
        for i in range(reps):
            sw = Stopwatch()
            out = fn(i)
            times.append(sw.stop())
        self.setup_raw["generate_s"] = statistics.median(w for w, _s in times)
        self.setup["generate_s"] = statistics.median(w * (1 - s) for w, s in times)
        return out

    @contextlib.contextmanager
    def excluded(self):
        """A block inside a set-up phase that is not set-up work (answer checks)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._excluded += time.perf_counter() - t0

    # -- ops -------------------------------------------------------------------
    def op(self, name: str, kind: str, fn):
        """Run one op of kind "read" or "write" under its own Spark job group;
        returns (ok, value). Raising counts as a failed op."""
        self.attempted += 1
        self._op_seq += 1
        group = f"bench-op{self._op_seq}"
        self.spark.sparkContext.setJobGroup(group, name)
        tr = self.tracer if self.traced else None
        ctx = tr.op(name, kind, group) if tr is not None else contextlib.nullcontext()
        sw = Stopwatch()
        try:
            with ctx:
                out = fn()
        except Exception as e:  # noqa: BLE001 - any failure is a failed op
            self.failed += 1
            log(f"op {name} raised {type(e).__name__}: {str(e)[:400]}")
            return False, None
        finally:
            self.spark.sparkContext.setJobGroup("bench-idle", "idle")
        wall, stolen = sw.stop()
        log(f"{'pass' if self.measuring else 'setup'} op {name}: {wall:.3f} s, "
            f"{stolen:.1%} stolen")
        if tr is not None:
            tr.collect_jobs()
        if self.measuring:
            self._pass_s += wall
            self.lat.setdefault(name, []).append(wall * (1 - stolen))
            self.lat_raw.setdefault(name, []).append(wall)
            self.kind[name] = kind
        return True, out

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Record the answer check of an op that already counted as attempted."""
        if not ok:
            self.failed += 1
            log(f"op {name}: WRONG ANSWER {detail[:400]}")

    def span(self, name: str, metric: str, group: str | None = None):
        if self.tracer is None or not self.traced:
            return contextlib.nullcontext()
        return self.tracer.span(name, metric, group)

    def passes(self, n: int):
        """Yield `n` pass indices. A traced run traces every pass. The
        driver's peak RSS is taken over the passes alone: set-up, with the
        answer oracles and input copies, leaves its own peak behind."""
        reset_peak_rss()
        sw = Stopwatch()
        for i in range(n):
            self.traced = self.trace
            self.measuring = True
            self._pass_s = 0.0
            yield i
            self.measuring = False
            self.traced = False
            self.pass_wall.append(self._pass_s)
        self.steal_share = sw.stop()[1]
        self.peak_rss = peak_rss_mib()

    # -- result ----------------------------------------------------------------
    def medians(self, kind: str, lat: dict | None = None) -> dict[str, float]:
        lat = self.lat if lat is None else lat
        return {op: statistics.median(v) for op, v in lat.items() if self.kind[op] == kind}

    def result(self) -> dict:
        phases = ("session_s", "generate_s", "warmup_s")
        e2e = {
            "setup_s": sum(self.setup[k] for k in phases),
            "read_s": sum(self.medians("read").values()),
            "write_s": sum(self.medians("write").values()),
            "driver_peak_rss_mb": self.peak_rss,
            "space_amp": self.space_amp,
        }
        raw = {
            "setup_s": sum(self.setup_raw[k] for k in phases),
            "read_s": sum(self.medians("read", self.lat_raw).values()),
            "write_s": sum(self.medians("write", self.lat_raw).values()),
        }
        reads = [x for op, v in self.lat.items() if self.kind[op] == "read" for x in v]
        writes = [x for op, v in self.lat.items() if self.kind[op] == "write" for x in v]
        r_tail, r_label = tail(reads)
        w_tail, w_label = tail(writes)
        print(f"workload {self.workload} seed {self.seed}: {len(self.pass_wall)} measured "
              f"passes, {self.attempted} ops attempted, {self.failed} failed")
        print(f"  host.steal_share {self.steal_share:.4f} (busy CPU time the host stole "
              "during the passes)")
        for k, u in E2E.items():
            r = f"  (raw {raw[k]:.6f} s)" if k in raw else ""
            print(f"  {k:<20} {e2e[k]:>12.6f} {u}{r}")
        print("  " + ", ".join(f"setup.{k} {v:.3f} s" for k, v in self.setup.items()))
        print(f"  read_tail_s {r_tail:.3f} s, the {r_label}; "
              f"write_tail_s {w_tail:.3f} s, the {w_label}")
        print("  pass wall (raw s): " + ", ".join(f"{w:.3f}" for w in self.pass_wall))
        for kind in ("read", "write"):
            print(f"  {kind} ops, median over passes (raw s): " + ", ".join(
                f"{op} {v:.3f}" for op, v in self.medians(kind, self.lat_raw).items()))
        print("  op by pass (raw s): " + ", ".join(
            f"{op} " + "/".join(f"{x:.3f}" for x in v) for op, v in self.lat_raw.items()))
        # machine-readable raw figures for steady.py
        print("raw " + json.dumps({**raw, "host.steal_share": self.steal_share}))
        if not self.trace:
            metrics = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
        else:
            values = {"read_tail_s": r_tail, "write_tail_s": w_tail}
            metrics = self._per_layer(values)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def _per_layer(self, values: dict) -> dict:
        """Per-layer metrics of the traced passes, as per-pass figures: self
        times and counters summed over a traced pass's ops, then averaged over
        the traced passes."""
        tr = self.tracer
        n_traced = len(self.pass_wall)
        layer, kinds = tr.report(n_traced)
        values.update(layer)
        values.update({f"setup.{k}": v for k, v in self.setup.items()})
        values["host.steal_share"] = self.steal_share
        values["trace.overhead_s"] = tr.overhead / n_traced
        wall = kinds.get("all", (0, 0.0, {}))[1] / n_traced
        # the share of op wall time spent inside a traced layer call
        values["trace.self_coverage"] = 1 - values["harness.self_s"] / wall if wall else 0.0
        traces = os.path.join(self.root, ".bench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        out = os.path.join(traces, f"{self.workload}-seed{self.seed}.jsonl")
        tr.dump(out)
        print(f"  per-layer self time, {n_traced} traced pass(es); spans in {out}")
        for kind, (n, w, acc) in sorted(kinds.items()):
            shares = ", ".join(f"{m} {v / w:.0%}" for m, v in
                               sorted(acc.items(), key=lambda kv: -kv[1]) if v / w >= 0.01)
            print(f"    {kind} ops (n={n}, {w / n_traced:.3f} s per pass): {shares}")
        for name, unit in PER_LAYER.items():
            print(f"  {name:<32} {float(values.get(name, 0.0)):>14.6f} {unit}")
        return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                for name, unit in PER_LAYER.items()}

    def close(self) -> None:
        """Stop Spark and the JVM it launched, wait for it, drop scratch files."""
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None) if gw is not None else None
            try:
                self.spark.stop()
            finally:
                if gw is not None:
                    with contextlib.suppress(Exception):
                        gw.shutdown()
                if proc is not None:
                    with contextlib.suppress(Exception):
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)
