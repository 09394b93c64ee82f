"""Runtime tracer for the traced run (`--trace 1`).

Wraps the library's public entry points in memory spans (name, start, end,
parent, op id) and turns them into per-layer SELF times plus counters.
Nothing in the library changes: every wrapper is installed at runtime, and
each wrapped function is replaced under EVERY module attribute that refers
to it (e.g. `delta.table.prune_files_auto`, `delta.reader.read_files`), so a
caller that imported the name still resolves the wrapper. Methods are
patched on their class, which `catalog.DeltaTable` and
`athena_delta_lake_spark.DeltaTable` share.

Spark execution counters come from the application status store: every op
runs under its own job group, and right after the op ends the tracer reads
that group's jobs and their stages (the store keeps only the newest 1,000
jobs and stages).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import pkgutil
import sys
import time

PKG = "athena_delta_lake_spark"

# (module, attribute or Class.method, span name, self-time metric)
TARGETS = [
    ("catalog", "DeltaPond.sql", "catalog.sql", "catalog.sql_s"),
    ("catalog", "DeltaPond.read", "catalog.read", "catalog.sql_s"),
    ("catalog", "DeltaPond._read_as_of", "catalog.read_as_of", "catalog.sql_s"),
    ("sqldml", "route_statement", "sqldml.route_statement", "sqldml.route_s"),
    ("delta.log", "DeltaLog.snapshot", "delta.log.snapshot", "delta.log.snapshot_s"),
    ("delta.log", "DeltaLog.latest_version", "delta.log.latest_version", "delta.log.list_s"),
    ("delta.stats", "prune_files_auto", "delta.stats.prune_files_auto", "delta.stats.prune_s"),
    ("delta.stats", "prune_files", "delta.stats.prune_files", "delta.stats.prune_s"),
    ("delta.stats", "prune_files_distributed", "delta.stats.prune_files_distributed",
     "delta.stats.prune_s"),
    ("delta.reader", "read_snapshot", "delta.reader.read_snapshot", "delta.reader.plan_s"),
    ("delta.reader", "read_files", "delta.reader.read_files", "delta.reader.plan_s"),
    ("delta.table", "DeltaTable.to_df", "delta.table.to_df", "delta.table.to_df_s"),
    ("delta.table", "DeltaTable.count", "delta.table.count", "delta.table.count_s"),
    ("delta.writer", "write_delta", "delta.writer.write_delta", "delta.writer.write_s"),
    ("delta.writer", "write_checkpoint", "delta.writer.write_checkpoint",
     "delta.writer.checkpoint_s"),
    ("delta.dml", "merge_upsert", "delta.dml.merge_upsert", "delta.dml.merge_s"),
    ("delta.dml", "merge_upsert_mor", "delta.dml.merge_upsert_mor", "delta.dml.merge_s"),
    ("delta.dml", "delete", "delta.dml.delete", "delta.dml.delete_s"),
    ("delta.dml", "delete_mor", "delta.dml.delete_mor", "delta.dml.delete_mor_s"),
    ("delta.dml", "update", "delta.dml.update", "delta.dml.update_s"),
    ("delta.dml", "update_mor", "delta.dml.update_mor", "delta.dml.update_s"),
    ("delta.dml", "compact", "delta.dml.compact", "delta.dml.optimize_s"),
    ("delta.dml", "vacuum", "delta.dml.vacuum", "delta.dml.vacuum_s"),
]

# every self-time metric; together they cover an op's wall time
SELF_METRICS = [
    "catalog.sql_s",
    "sqldml.route_s",
    "delta.log.snapshot_s",
    "delta.log.list_s",
    "delta.stats.prune_s",
    "delta.reader.plan_s",
    "delta.table.to_df_s",
    "delta.table.count_s",
    "delta.writer.write_s",
    "delta.writer.checkpoint_s",
    "delta.dml.merge_s",
    "delta.dml.delete_s",
    "delta.dml.delete_mor_s",
    "delta.dml.update_s",
    "delta.dml.optimize_s",
    "delta.dml.vacuum_s",
    "queries.build_s",
    "exec.action_s",
    "harness.self_s",
]

# status-store counters summed per op: (metric, StageData getter, scale)
STAGE_COUNTERS = [
    ("exec.input_bytes", ("inputBytes",), 1.0),
    ("exec.shuffle_bytes", ("shuffleReadBytes", "shuffleWriteBytes"), 1.0),
    ("exec.spill_bytes", ("memoryBytesSpilled",), 1.0),
    ("exec.executor_cpu_s", ("executorCpuTime",), 1e-9),
]


def _snapshot_arg(args):
    for a in args:
        if hasattr(a, "files") and hasattr(a, "partition_columns"):
            return a
    return None


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[list] = []  # [name, metric, t0, t1, parent, op, info]
        self.stack: list[int] = []
        self.op_id = -1
        self.group = ""
        self.ops: list[dict] = []
        self.overhead = 0.0  # seconds spent in the tracer's own code inside ops
        self.installed: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------------
    def _open(self, name: str, metric: str) -> list:
        rec = [name, metric, time.perf_counter(), None,
               self.stack[-1] if self.stack else None, self.op_id, {}]
        self.stack.append(len(self.spans))
        self.spans.append(rec)
        return rec

    def _close(self, rec: list) -> None:
        rec[3] = time.perf_counter()
        self.stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, metric: str, group: str | None = None):
        """A harness span inside an op; `group` puts its Spark jobs in a
        sub-group of the op's job group."""
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(f"{self.group}-{group}", name)
        rec = self._open(name, metric)
        try:
            yield
        finally:
            self._close(rec)
            if group:
                sc.setJobGroup(self.group, name)

    @contextlib.contextmanager
    def op(self, name: str, kind: str, group: str):
        """Root span of one measured op; its self time is harness glue."""
        self.op_id += 1
        self.group = group
        rec = self._open(name, "harness.self_s")
        try:
            yield
        finally:
            self._close(rec)
            self.ops.append({"id": self.op_id, "name": name, "kind": kind, "group": group,
                             "wall": rec[3] - rec[2]})

    def collect_jobs(self) -> None:
        """Spark jobs, tasks and stage counters of the last op, by job group
        (read after the op's timer stopped)."""
        op = self.ops[-1]
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        counts = {"exec.jobs": 0, "exec.tasks": 0, "queries.build_jobs": 0}
        counts.update({m: 0.0 for m, _g, _s in STAGE_COUNTERS})
        for suffix in ("", "-build", "-exec"):
            ids = st.getJobIdsForGroup(op["group"] + suffix)
            counts["exec.jobs"] += len(ids)
            if suffix == "-build":
                counts["queries.build_jobs"] += len(ids)
            for j in ids:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    counts["exec.tasks"] += si.numTasks if si else 0
                    try:
                        data = store.lastStageAttempt(s)
                    except Exception:  # noqa: BLE001 - stage evicted from the store
                        continue
                    for metric, getters, scale in STAGE_COUNTERS:
                        counts[metric] += sum(getattr(data, g)() for g in getters) * scale
        op.update(counts)

    # -- patching ----------------------------------------------------------------
    def _wrap(self, fn, name: str, metric: str, hook):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.op_id < 0 or not tracer.stack:
                return fn(*args, **kwargs)  # outside a traced op
            t0 = time.perf_counter()
            pre = hook[0](args, kwargs) if hook and hook[0] else None
            rec = tracer._open(name, metric)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(rec)
            if hook:
                hook[1](rec[6], pre, args, kwargs, out)
            tracer.overhead += time.perf_counter() - t0 - (rec[3] - rec[2])
            return out

        traced.__bench_traced__ = fn
        return traced

    def install(self) -> None:
        """Wrap every TARGETS entry under every name it is reachable by."""
        import athena_delta_lake_spark as pkg

        for mi in pkgutil.walk_packages(pkg.__path__, PKG + "."):
            importlib.import_module(mi.name)
        mods = [m for n, m in list(sys.modules.items())
                if m is not None and (n == PKG or n.startswith(PKG + "."))]
        for modname, attr, name, metric in TARGETS:
            mod = importlib.import_module(f"{PKG}.{modname}")
            hook = HOOKS.get(name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self.installed.append((cls, meth, orig))
                setattr(cls, meth, self._wrap(orig, name, metric, hook))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, name, metric, hook)
            for m in mods:
                for k, v in list(vars(m).items()):
                    if v is orig:
                        self.installed.append((m, k, orig))
                        setattr(m, k, wrapped)

    def uninstall(self) -> None:
        for owner, k, orig in reversed(self.installed):
            setattr(owner, k, orig)
        self.installed.clear()

    # -- report ------------------------------------------------------------------
    def _child_times(self) -> list[float]:
        child = [0.0] * len(self.spans)
        for _name, _metric, t0, t1, parent, _op, _info in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        return child

    def dump(self, path: str) -> None:
        """Spans (with the time their children cover), then one line per op
        (its kind, wall time and Spark counters)."""
        child = self._child_times()
        with open(path, "w") as fh:
            for i, (name, metric, t0, t1, parent, op, info) in enumerate(self.spans):
                fh.write(json.dumps({"id": i, "name": name, "metric": metric, "start": t0,
                                     "end": t1, "child_s": child[i], "parent": parent,
                                     "op": op, **info}) + "\n")
            for op in self.ops:
                fh.write(json.dumps(op) + "\n")

    def report(self, n_passes: int) -> tuple[dict, dict]:
        """-> (per-layer metrics per traced pass,
        {op kind: (ops, summed wall, {self-time metric: summed self})})."""
        n = max(1, n_passes)
        child = self._child_times()
        per_op: dict[int, dict[str, float]] = {}
        c = dict.fromkeys(["relations", "sql_ops", "snap_calls", "snap_misses", "files_in",
                           "files_kept", "planned", "bytes_added", "files_rewritten"], 0.0)
        sql_ops = set()
        entries = []
        for i, (name, metric, t0, t1, parent, op, info) in enumerate(self.spans):
            own = (t1 - t0) - child[i]
            acc = per_op.setdefault(op, {})
            acc[metric] = acc.get(metric, 0.0) + own
            pname = self.spans[parent][0] if parent is not None else ""
            if name in ("catalog.read", "catalog.read_as_of") and pname == "catalog.sql":
                c["relations"] += 1
                sql_ops.add(op)
            elif name == "delta.log.snapshot" and "hit" in info:  # returned, not raised
                c["snap_calls"] += 1
                c["snap_misses"] += 1 - info["hit"]
                entries.append(info["entries"])
            elif name.startswith("delta.stats.") and not pname.startswith("delta.stats."):
                c["files_in"] += info.get("in", 0)
                c["files_kept"] += info.get("kept", 0)
            elif name == "delta.reader.read_files" and pname != name:
                c["planned"] += info.get("files", 0)
            elif name in WRITE_SPANS and pname not in WRITE_SPANS:
                c["bytes_added"] += info.get("bytes_added", 0)
                c["files_rewritten"] += info.get("files_rewritten", 0)
        kinds: dict[str, tuple[int, float, dict[str, float]]] = {}
        for op in self.ops:
            for k in ("all", op["kind"]):
                cnt, wall, acc = kinds.get(k, (0, 0.0, {}))
                for m, v in per_op.get(op["id"], {}).items():
                    acc[m] = acc.get(m, 0.0) + v
                kinds[k] = (cnt + 1, wall + op["wall"], acc)
        self_all = kinds.get("all", (0, 0.0, {}))[2]
        out = {m: self_all.get(m, 0.0) / n for m in SELF_METRICS}

        def ratio(a: float, b: float) -> float:
            return a / b if b else 0.0

        def per_pass(key: str) -> float:
            return sum(o.get(key, 0) for o in self.ops) / n

        out.update({
            "catalog.relations_bound": ratio(c["relations"], len(sql_ops)),
            "delta.log.snapshot_misses": c["snap_misses"] / n,
            "delta.log.cache_hit_ratio": ratio(c["snap_calls"] - c["snap_misses"],
                                               c["snap_calls"]),
            "delta.log.cache_entries": max(entries, default=0),
            "delta.stats.files_in": c["files_in"] / n,
            "delta.stats.files_kept": c["files_kept"] / n,
            "delta.reader.files_planned": c["planned"] / n,
            "delta.reader.plan_ms_per_file": ratio(
                1000 * self_all.get("delta.reader.plan_s", 0.0), c["planned"]),
            "delta.writer.bytes_added": c["bytes_added"] / n,
            "delta.dml.files_rewritten": c["files_rewritten"] / n,
            **{k: per_pass(k) for k in ("exec.jobs", "exec.tasks", "queries.build_jobs",
                                        *(m for m, _g, _s in STAGE_COUNTERS))},
        })
        return out, kinds


# -- hooks: (pre(args, kwargs) -> state, post(info, state, args, kwargs, out)) ------

DML_SPANS = ("delta.dml.merge_upsert", "delta.dml.merge_upsert_mor", "delta.dml.delete",
             "delta.dml.delete_mor", "delta.dml.update", "delta.dml.update_mor",
             "delta.dml.compact")
# outermost calls of these count bytes added and files rewritten
WRITE_SPANS = ("delta.writer.write_delta", *DML_SPANS)


def _snap_pre(args, kwargs):
    from athena_delta_lake_spark.delta.log import DeltaLog

    return set(DeltaLog._cache)


def _snap_post(info, before, args, kwargs, out):
    from athena_delta_lake_spark.delta.log import DeltaLog

    info["hit"] = int((args[0].table_path, out.version) in before)
    info["entries"] = len(DeltaLog._cache)


def _stats_post(info, pre, args, kwargs, out):
    snap = _snapshot_arg(args) or _snapshot_arg(kwargs.values())
    info["in"] = len(snap.files) if snap is not None else 0
    info["kept"] = len(out)


def _files_post(info, pre, args, kwargs, out):
    files = args[2] if len(args) > 2 else kwargs.get("files", [])
    info["files"] = len(files)


def _table_arg(args, kwargs) -> str:
    """`table_path`: the second argument of write_delta and of every DML call."""
    return args[1] if len(args) > 1 else kwargs["table_path"]


def _bytes_pre(args, kwargs):
    from harness import tree_bytes

    path = _table_arg(args, kwargs)
    return path, tree_bytes(path)


def _bytes_post(info, pre, args, kwargs, out):
    """Bytes the call added under its table (data, deletion vectors, log)
    and, for DML, the files its commit removed."""
    from harness import tree_bytes

    path, before = pre
    info["bytes_added"] = max(0, tree_bytes(path) - before)
    if isinstance(out, dict):
        info["files_rewritten"] = int(out.get("files_removed", 0) or 0)


HOOKS = {
    "delta.log.snapshot": (_snap_pre, _snap_post),
    "delta.stats.prune_files_auto": (None, _stats_post),
    "delta.stats.prune_files": (None, _stats_post),
    "delta.stats.prune_files_distributed": (None, _stats_post),
    "delta.reader.read_files": (None, _files_post),
    "delta.writer.write_delta": (_bytes_pre, _bytes_post),
    **{name: (_bytes_pre, _bytes_post) for name in DML_SPANS},
}
