"""Tests of the benchmark itself: `python -m pytest perfbench/ -q` (a few minutes).

The end-to-end tests run `run.py` as a subprocess from a directory other
than the checkout root, so Spark's Python workers must find the package
through the benchmark's own set-up (the pandas UDF in `delete_mor` runs on
them).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from calib import stolen_share  # noqa: E402
from harness import peak_rss_mib, reset_peak_rss, tail  # noqa: E402
from metrics import E2E, PER_LAYER  # noqa: E402

COMMON = ["exec.action_s", "exec.jobs", "exec.tasks", "exec.input_bytes", "exec.shuffle_bytes",
          "exec.executor_cpu_s", "delta.writer.write_s", "delta.writer.bytes_added",
          "setup.session_s", "setup.generate_s", "setup.warmup_s",
          "read_tail_s", "write_tail_s", "harness.self_s", "trace.overhead_s",
          "trace.self_coverage"]
# the per-layer metrics each workload is meant to exercise (must be non-zero);
# no op spills at these sizes, and batch writes too few commits to checkpoint
EXERCISED = {
    "batch": [*COMMON, "queries.build_s", "queries.build_jobs"],
    "lake": [*COMMON, *(m for m in PER_LAYER if m.startswith(("catalog.", "sqldml.", "delta.")))],
}


@pytest.fixture
def elsewhere(request):
    """A working directory away from the checkout root (inside the checkout's
    scratch area, since the benchmark writes nowhere else)."""
    d = os.path.join(ROOT, ".bench_work", "tests", request.node.name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _bench(*args: str, cwd: str, timeout: int = 420) -> tuple[int, list[str]]:
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args], cwd=cwd,
                       capture_output=True, text=True, timeout=timeout)
    return p.returncode, p.stdout.strip().splitlines()


def _spans(workload: str, seed: int) -> tuple[list[dict], list[dict]]:
    with open(os.path.join(ROOT, ".bench_work", "traces", f"{workload}-seed{seed}.jsonl")) as fh:
        recs = [json.loads(line) for line in fh]
    return [r for r in recs if "kind" not in r], [r for r in recs if "kind" in r]


def test_benchmark_json_matches_the_metric_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(EXERCISED)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 101)]
    assert tail(xs) == (90.0, "p90.0 of n=100")
    # under 50 samples a fifth of them lie beyond it; under 5, the maximum
    assert tail(xs[:30]) == (24.0, "p80.0 of n=30")
    assert tail(xs[:4]) == (4.0, "p100.0 of n=4")


def test_stolen_share_counts_busy_time_only():
    # user nice system idle iowait irq softirq steal, in jiffies
    before = [100, 0, 50, 1000, 10, 0, 0, 20]
    after = [160, 0, 70, 1900, 30, 0, 0, 40]  # 80 busy, 20 stolen, 920 idle
    assert stolen_share(before, after) == pytest.approx(0.2)
    assert stolen_share(after, after) == 0.0


def test_peak_rss_restarts_from_the_current_rss():
    block = bytearray(64 << 20)
    block[:: 4096] = b"x" * len(block[:: 4096])  # touch every page
    high = peak_rss_mib()
    del block
    reset_peak_rss()
    assert peak_rss_mib() < high - 32


def test_lake_backfill_is_the_only_backdated_data_and_follows_the_as_of_version(elsewhere):
    import time

    import lakegen

    m = lakegen.gen_lake(elsewhere, 5, days=8, files_per_day=2, rows_per_file=10, commits=8,
                         checkpoint_at=5, backfill_days=2)
    live = lakegen.live_paths(m["fact"])
    assert len(live) == 16
    old = {rel for rel in live
           if os.path.getmtime(os.path.join(m["fact"], rel)) < time.time() - 8 * 24 * 3600}
    assert old == {rel for rel in live if rel[4:14] in (lakegen.day_str(0), lakegen.day_str(1))}
    rows = m["rows"].to_pandas()
    assert not rows[rows["version"] <= m["checkpoint"] - 2]["day"].isin(
        [lakegen.day(0), lakegen.day(1)]).any()


def test_tracer_patches_every_name_callers_resolve():
    from athena_delta_lake_spark import catalog, sqldml
    from athena_delta_lake_spark.delta import dml, reader, stats, table, writer
    from tracer import Tracer

    tr = Tracer(None)
    tr.install()
    try:
        for fn in (table.prune_files_auto, table.read_snapshot, reader.prune_files_auto,
                   reader.read_files, stats.prune_files, writer.write_delta,
                   table.write_checkpoint, dml.merge_upsert, dml.delete_mor, dml.update_mor,
                   sqldml.route_statement, catalog.DeltaTable.to_df, catalog.DeltaPond.sql,
                   table.DeltaLog.snapshot):
            assert hasattr(fn, "__bench_traced__"), fn
        assert catalog.DeltaTable is table.DeltaTable
    finally:
        tr.uninstall()
    assert not hasattr(table.prune_files_auto, "__bench_traced__")
    assert not hasattr(catalog.DeltaTable.to_df, "__bench_traced__")


@pytest.mark.parametrize("workload", sorted(EXERCISED))
def test_traced_run_reports_every_layer_it_exercises(workload, elsewhere):
    rc, out = _bench("--workload", workload, "--seed", "7", "--seconds", "10", "--trace", "1",
                     cwd=elsewhere)
    assert rc == 0, out[-20:]
    res = json.loads(out[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert set(m) == set(PER_LAYER)
    empty = [k for k in EXERCISED[workload] if not m[k]]
    assert not empty, f"{workload}: no value for {empty}"
    assert 0.5 < m["trace.self_coverage"] <= 1.0

    spans, ops = _spans(workload, 7)
    kind = {o["id"]: o["kind"] for o in ops}
    layer_s = sum(s["end"] - s["start"] - s["child_s"] for s in spans
                  if s["metric"].startswith(("catalog.", "delta.")) and kind[s["op"]] == "read")
    read_wall = sum(o["wall"] for o in ops if o["kind"] == "read")
    if workload == "lake":
        # catalog binding, log replay, pruning and scan planning dominate reads
        assert layer_s > 0.5 * read_wall
    else:
        # the Delta plane is idle on batch reads; d03 and d04 run eager barriers
        assert layer_s < 0.01 * read_wall
        build_jobs = {o["name"]: o["queries.build_jobs"] for o in ops}
        assert build_jobs["d03_ngram_jaccard_pairs"] > 0
        assert build_jobs["d04_minhash_lsh_pairs"] > 0


def test_untraced_run_prints_every_end_to_end_metric(elsewhere):
    rc, out = _bench("--workload", "lake", "--seed", "3", "--seconds", "10", "--trace", "0",
                     cwd=elsewhere)
    assert rc == 0, out[-20:]
    res = json.loads(out[-1])
    assert res["correct"] and res["failed"] == 0 and set(res["metrics"]) == set(E2E)
    assert all(v["value"] > 0 for v in res["metrics"].values())
    text = "\n".join(out[:-1])
    for name in [*E2E, "host.steal_share", "raw", "read_tail_s", "write_tail_s"]:
        assert name in text


def test_fails_without_the_library(elsewhere):
    """A directory holding only BENCHMARK.json and perfbench/: non-zero exit,
    no result line."""
    shutil.copytree(HERE, os.path.join(elsewhere, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), elsewhere)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "lake", "--seed",
                        "1", "--seconds", "10", "--trace", "0"], cwd=elsewhere,
                       capture_output=True, text=True, timeout=170)
    assert p.returncode != 0
    assert not p.stdout.strip()
