"""`lake`: SQL and DataFrame reads, then an ingest cycle, over a generated
`root/sales/{fact,dim_customer}` lake (see lakegen.gen_lake).

Each pass runs the read mix on the lake as it stands (reads after the pass's
first hit the snapshot cache), then one ingest cycle in which every commit
invalidates that cache. The window of days rolls: each cycle appends the day
after the newest and deletes the oldest, so the file count and the log's
JSON tail level off across passes. A pandas shadow of the live rows answers
every read; `VERSION AS OF` reads are answered from the generator's rows.

The oldest BACKFILL days are backdated backfill (lakegen): while the
window rolls through them, each cycle's COW delete of the oldest day drops
files past vacuum's retention, and the vacuum deletes them. Its count is
checked against a replay of the log. No other op rewrites those days, and
the `VERSION AS OF` reads use a version from before the backfill, so no
read needs a file vacuum has deleted.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa

import lakegen
from harness import Bench, log, same_rows, tree_bytes

BACKFILL = 4
LAKE = dict(days=32, files_per_day=2, rows_per_file=800, commits=30, checkpoint_at=26,
            backfill_days=BACKFILL)
# the warm-up lake, an eighth of the files, and the ops it runs: those whose
# first call in a process costs seconds more than later ones (the first Spark
# job, the first merge, the pandas UDF workers of delete_mor, the DV read)
WARM = dict(days=8, files_per_day=1, rows_per_file=800, commits=4, checkpoint_at=2)
WARM_OPS = frozenset({"sql_day", "df_day", "append", "merge", "delete_mor", "df_read_dv"})
COLS = ["id", "cust_id", "amount", "qty", "category", "day"]


def _amt(s: pd.Series):
    v = s.sum(min_count=1)
    return None if pd.isna(v) else float(v)


def _groups(df: pd.DataFrame, key: str) -> list[tuple]:
    return [(k, len(g), _amt(g["amount"])) for k, g in df.groupby(key)]


class Lake:
    def __init__(self, b: Bench, spark, m: dict, only: frozenset[str] | None = None):
        from athena_delta_lake_spark.catalog import DeltaPond

        self.b, self.spark, self.m, self.path = b, spark, m, m["fact"]
        self.pond = DeltaPond(spark, m["root"])
        self.rng = np.random.default_rng(b.seed + 1)
        self.history = m["rows"].to_pandas()
        self.live = self.history[COLS]
        self.dim = m["dim_rows"].to_pandas()
        self.next_id = int(self.live["id"].max()) + 1
        self.first_day, self.end_day = 0, m["days"]  # live days: [first_day, end_day)
        self.only = only  # run only these ops (the warm-up)

    # -- ops plumbing -------------------------------------------------------------
    def _collect(self, df) -> list[tuple]:
        with self.b.span("exec.action", "exec.action_s", group="exec"):
            return [tuple(r) for r in df.collect()]

    def _skip(self, name: str) -> bool:
        return self.only is not None and name not in self.only

    def _read(self, name: str, fn, want) -> None:
        if self._skip(name):
            return
        ok, got = self.b.op(name, "read", fn)
        if ok:
            w = want()
            self.b.check(name, same_rows(got, w), f"{got} vs {w}")

    def _write(self, name: str, fn) -> bool:
        return not self._skip(name) and self.b.op(name, "write", fn)[0]

    def _batch(self, n: int, d: int, ids: np.ndarray | None = None) -> pd.DataFrame:
        pdf = lakegen.fact_rows(self.rng, 0, n).to_pandas()
        if ids is None:
            ids = np.arange(self.next_id, self.next_id + n)
            self.next_id += n
        pdf["id"] = ids
        pdf["day"] = lakegen.day(d)
        return pdf[COLS]

    def _df(self, pdf: pd.DataFrame):
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("id", T.LongType()), T.StructField("cust_id", T.IntegerType()),
            T.StructField("amount", T.DoubleType()), T.StructField("qty", T.IntegerType()),
            T.StructField("category", T.StringType()), T.StructField("day", T.DateType()),
        ])
        return self.spark.createDataFrame(pdf, schema=schema)

    def _on(self, d: int) -> pd.Series:
        return self.live["day"] == lakegen.day(d)

    def _days(self, k: int) -> list[int]:
        """`k` distinct live days, excluding the oldest (the cycle deletes it)
        and the backfill (only that delete removes its files)."""
        return [int(x) for x in self.rng.choice(
            np.arange(max(self.first_day + 1, BACKFILL), self.end_day), k, replace=False)]

    def shape(self) -> str:
        """Live data files and log length, printed at each pass start. The
        snapshot taken here is dropped from the cache again, so the pass's
        first read sees the cache as the previous pass left it."""
        from athena_delta_lake_spark.delta.log import DeltaLog

        before = set(DeltaLog._cache)
        snap = DeltaLog(self.path).snapshot()
        for key in set(DeltaLog._cache) - before:
            del DeltaLog._cache[key]
        names = os.listdir(os.path.join(self.path, "_delta_log"))
        commits = [int(f[:-5]) for f in names if f.endswith(".json") and f[:-5].isdigit()]
        cps = [int(f.split(".")[0]) for f in names if f.endswith(".checkpoint.parquet")]
        tail = sum(1 for v in commits if v > max(cps, default=-1))
        return (f"version {snap.version}: {len(snap.files)} live files, "
                f"{len(commits)} commits, JSON tail {tail}")

    # -- the read mix -------------------------------------------------------------
    def reads(self) -> None:
        from pyspark.sql import functions as F

        from athena_delta_lake_spark.delta import table as dtable

        d, lo, cnt_d = self._days(3)
        lo = min(lo, self.end_day - 7)
        # a version before the generator's checkpoint and its backfill, so
        # every seed replays the same JSON commits
        old_v = self.m["checkpoint"] - 2
        old_d = int(self.rng.integers(BACKFILL, self.m["days"]))
        pred = f"day = '{lakegen.day_str(d)}' AND qty >= 5"

        def want_day():
            return _groups(self.live[self._on(d) & (self.live["qty"] >= 5)], "category")

        self._read("sql_day", lambda: self._collect(self.pond.sql(
            "SELECT category, count(*) AS n, sum(amount) AS amt FROM sales.fact "
            f"WHERE {pred} GROUP BY category")), want_day)

        def want_join():
            days_ = self.live["day"].between(lakegen.day(lo), lakegen.day(lo + 6))
            return _groups(self.live[days_].merge(self.dim, on="cust_id"), "segment")

        self._read("sql_join", lambda: self._collect(self.pond.sql(
            "SELECT d.segment, count(*) AS n, sum(f.amount) AS amt FROM sales.fact f "
            "JOIN sales.dim_customer d ON f.cust_id = d.cust_id WHERE f.day BETWEEN "
            f"'{lakegen.day_str(lo)}' AND '{lakegen.day_str(lo + 6)}' GROUP BY d.segment")),
            want_join)

        self._read("sql_full", lambda: self._collect(self.pond.sql(
            "SELECT category, count(*) AS n, sum(amount) AS amt FROM sales.fact "
            "GROUP BY category")), lambda: _groups(self.live, "category"))

        def want_as_of():
            h = self.history
            old = h[(h["version"] <= old_v) & (h["day"] == lakegen.day(old_d))]
            return [(len(old), _amt(old["amount"]))]

        self._read("sql_as_of", lambda: self._collect(self.pond.sql(
            f"SELECT count(*) AS n, sum(amount) AS amt FROM sales.fact VERSION AS OF {old_v} "
            f"WHERE day = '{lakegen.day_str(old_d)}'")), want_as_of)

        self._read("df_day", lambda: self._collect(
            dtable.DeltaTable(self.spark, self.path).to_df(where=pred)
            .groupBy("category").agg(F.count("*").alias("n"), F.sum("amount").alias("amt"))),
            want_day)

        self._read("count_day", lambda: [(dtable.DeltaTable(self.spark, self.path)
                                          .count(where=f"day = '{lakegen.day_str(cnt_d)}'"),)],
                   lambda: [(int(self._on(cnt_d).sum()),)])

    # -- one ingest cycle ---------------------------------------------------------
    def cycle(self) -> None:
        from athena_delta_lake_spark.delta import dml, writer
        from athena_delta_lake_spark.delta import table as dtable

        spark, path = self.spark, self.path
        d_app, d_old = self.end_day, self.first_day
        d_fix, d_mor, d_upd = self._days(3)

        batch = self._batch(800, d_app)
        src = self._df(batch)
        if self._write("append", lambda: writer.write_delta(src, path, mode="append")):
            self.live = pd.concat([self.live, batch], ignore_index=True)
            self.end_day += 1

        self.merge(d_fix)

        cond = f"day = '{lakegen.day_str(d_mor)}' AND qty < 3"
        if self._write("delete_mor", lambda: dml.delete_mor(spark, path, cond)):
            self.live = self.live[~(self._on(d_mor) & (self.live["qty"] < 3))]

        self._read("df_read_dv", lambda: self._collect(
            dtable.DeltaTable(spark, path).to_df(where=f"day = '{lakegen.day_str(d_mor)}'")
            .selectExpr("count(*) AS n", "sum(amount) AS amt")),
            lambda: [(int(self._on(d_mor).sum()), _amt(self.live[self._on(d_mor)]["amount"]))])

        if self._write("sql_update", lambda: self._collect(self.pond.sql(
                "UPDATE sales.fact SET amount = amount + 1 "
                f"WHERE day = '{lakegen.day_str(d_upd)}' AND category = 'books'"))):
            hit = self._on(d_upd) & (self.live["category"] == "books")
            self.live = self.live.copy()
            self.live.loc[hit, "amount"] = self.live.loc[hit, "amount"] + 1

        if self._write("delete_oldest", lambda: dml.delete(
                spark, path, f"day = '{lakegen.day_str(d_old)}'")):
            self.live = self.live[~self._on(d_old)]
            self.first_day += 1

        self._write("optimize", lambda: dml.compact(
            spark, path, predicates=[("day", "=", lakegen.day_str(d_mor))]))
        self._write("checkpoint", lambda: writer.write_checkpoint(path))
        self.vacuum()

    def vacuum(self) -> None:
        """Vacuum at the default retention (7 days). It must delete exactly
        the data files older than that which the log no longer references:
        the backfill files the cycle's delete of the oldest day removed."""
        from athena_delta_lake_spark.delta import dml

        if self._skip("vacuum"):
            return
        cutoff = time.time() - 7 * 24 * 3600
        live = lakegen.live_paths(self.path)
        expired = [rel for rel in self._data_files()
                   if rel not in live and os.path.getmtime(os.path.join(self.path, rel)) < cutoff]
        ok, out = self.b.op("vacuum", "write", lambda: dml.vacuum(self.path))
        if ok:
            left = set(self._data_files())
            log(f"vacuum deleted {out['files_count']} files, expected {len(expired)}")
            self.b.check("vacuum", out["files_count"] == len(expired) and not left & set(expired)
                         and live <= left, f"{out} vs {len(expired)} expired files")

    def _data_files(self) -> list[str]:
        return [os.path.relpath(os.path.join(d, f), self.path)
                for d, _dirs, files in os.walk(self.path) if "_delta_log" not in d
                for f in files if f.endswith(".parquet")]

    def merge(self, d: int) -> None:
        """Upsert 400 rows into one day: 200 of its rows updated, 200 inserted.
        The key includes the partition column, so the merge touches one day."""
        from athena_delta_lake_spark.delta import dml

        upd_ids = self.rng.choice(self.live[self._on(d)]["id"].to_numpy(), 200, replace=False)
        source = pd.concat([self._batch(200, d, ids=upd_ids), self._batch(200, d)],
                           ignore_index=True)
        sdf = self._df(source)
        if self._write("merge", lambda: dml.merge_upsert(self.spark, self.path, sdf,
                                                         ["day", "id"])):
            self.live = pd.concat([self.live[~self.live["id"].isin(upd_ids)], source],
                                  ignore_index=True)

    def finish(self) -> None:
        """Check the whole table; record space amplification."""
        from athena_delta_lake_spark.delta import table as dtable

        live = self.live
        got = [tuple(r) for r in dtable.DeltaTable(self.spark, self.path).to_df().selectExpr(
            "count(*) AS n", "sum(amount) AS amt", "sum(id) AS ids").collect()]
        want = [(len(live), _amt(live["amount"]), int(live["id"].sum()))]
        self.b.check("final_scan", same_rows(got, want), f"{got} vs {want}")
        live_bytes = (pa.Table.from_pandas(live, preserve_index=False).nbytes
                      + pa.Table.from_pandas(self.dim, preserve_index=False).nbytes)
        self.b.space_amp = tree_bytes(os.path.join(self.m["root"], "sales")) / live_bytes


def run(b: Bench, n_passes: int) -> None:
    spark = b.session()
    from athena_delta_lake_spark.delta.log import DeltaLog

    m, warm = b.generate(lambda i: (
        lakegen.gen_lake(os.path.join(b.work, f"lake{i}"), b.seed, **LAKE),
        lakegen.gen_lake(os.path.join(b.work, f"warm{i}"), b.seed, **WARM)))
    DeltaLog.clear_cache()  # the generator's checkpoint writes replayed the logs
    with b.phase("warmup_s"):
        w = Lake(b, spark, warm, only=WARM_OPS)
        w.reads()
        w.cycle()
    lake = Lake(b, spark, m)
    for i in b.passes(n_passes):
        log(f"lake pass {i} starts at {lake.shape()}")
        lake.reads()
        lake.cycle()
    log(f"lake after the last pass: {lake.shape()}")
    lake.finish()
