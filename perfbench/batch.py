"""`batch`: registry queries over the flat-parquet sf0.01 fixtures, real
output, and one partitioned Delta write per pass.

Operators, their eager `localCheckpoint` barriers and Spark execution do the
work; the Delta metadata plane is idle on the reads, and the writer sees one
bulk write per pass.

- Inputs: `tools/regen_testdata.py` at sf0.01 (the repository's fixture
  definition, its own fixed seed), written inside the run's work directory.
  `--seed` makes the written table's partition layout.
- Every query of every pass reads through a fresh directory of symlinks to
  the fixture files (basename kept), so a path-keyed memo in the query layer
  (`queries/dedup_q.py:_CORPUS_CACHE`) cannot hand one query's or pass's
  work to the next. None of these queries builds the Delta fixtures under
  `/tmp` that other registry queries share across processes.
- The warm-up pass is the answer check: it collects every query and
  compares it with the registry's DuckDB oracle by the canonical hash of
  `tools/check_oracle.py` (the DuckDB side is excluded from `setup_s`).
  Timed passes end in the `noop` sink.
- Each pass ends with `write_delta` of the x06 result (collected in the
  warm-up, so the op times the writer, not x06 again) into a new table
  partitioned by a seeded bucket column; the tables are read back and
  counted after the last pass. The warm-up makes the same write once into
  a table of its own, so no pass pays the first write's one-off costs.
"""

from __future__ import annotations

import contextlib
import importlib.util
import itertools
import os
import sys

import numpy as np
import pyarrow as pa

from harness import Bench, tree_bytes

SF = "sf0.01"
QUERIES = [
    "d03_ngram_jaccard_pairs",
    "d04_minhash_lsh_pairs",
    "x06_tfidf_top_terms",
    "w11_funnel_stages",
]
WRITE_SOURCE = "x06_tfidf_top_terms"
BUCKETS = 8


def _tool(root: str, name: str):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(root, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run(b: Bench, n_passes: int) -> None:
    regen = _tool(b.root, "regen_testdata")
    oracle = _tool(b.root, "check_oracle")
    spark = b.session()
    from athena_delta_lake_spark.delta import table as dtable
    from athena_delta_lake_spark.delta.writer import write_delta
    from athena_delta_lake_spark.queries import registry
    from athena_delta_lake_spark.queries.base import TABLES

    def generate(i: int) -> str:
        regen.ROOT = os.path.join(b.work, f"data{i}")
        with contextlib.redirect_stdout(sys.stderr):
            regen.gen_sf(float(SF[2:]))
        return os.path.join(regen.ROOT, SF)

    data = b.generate(generate)
    reg = registry()
    fresh = itertools.count()

    def fresh_dir() -> str:
        d = os.path.join(b.work, "q", str(next(fresh)), SF)
        os.makedirs(d)
        for t in TABLES:
            os.symlink(os.path.join(data, f"{t}.parquet"), os.path.join(d, f"{t}.parquet"))
        return d

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")

    def write(path: str) -> bool:
        sdf = spark.createDataFrame(src_pdf)
        return b.op("write_delta", "write",
                    lambda: write_delta(sdf, path, mode="overwrite", partition_by=["bucket"]))[0]

    results = {}
    with b.phase("warmup_s"):
        for name in QUERIES:
            d = fresh_dir()
            ok, got = b.op(name, "read", lambda: _collect(reg[name].fn(spark, d)))
            if not ok:
                continue
            with b.excluded():
                cols, rows = got
                results[name] = got
                want = con.execute(reg[name].oracle)
                w_cols = [c[0] for c in want.description]
                w_rows = want.fetchall()
                b.check(name, sorted(cols) == sorted(w_cols) and
                        oracle.table_hash(cols, rows) == oracle.table_hash(w_cols, w_rows),
                        f"{len(rows)} rows vs oracle {len(w_rows)}")
        with b.excluded():
            # the written rows: the x06 result plus a seeded bucket
            cols, rows = results.get(WRITE_SOURCE, ([], []))
            src = pa.Table.from_pylist([dict(zip(cols, r)) for r in rows])
            rng = np.random.default_rng(b.seed)
            src = src.append_column("bucket", pa.array(rng.integers(0, BUCKETS, src.num_rows),
                                                       pa.int32()))
            src_pdf = src.to_pandas()
        # the first Delta write in a process pays one-off costs a pass must not
        write(os.path.join(b.work, "out", "warm"))
    con.close()

    written = []
    for i in b.passes(n_passes):
        for name in QUERIES:
            d = fresh_dir()
            b.op(name, "read", lambda: _noop(b, reg[name].fn, spark, d))
        path = os.path.join(b.work, "out", f"pass{i}")
        if write(path):
            written.append(path)

    for path in written:
        n = dtable.DeltaTable(spark, path).count()
        b.check("write_delta", n == src.num_rows, f"{path}: {n} rows, wrote {src.num_rows}")
    live = src.nbytes * len(written)
    b.space_amp = sum(tree_bytes(p) for p in written) / live if live else 0.0


def _collect(df):
    return df.columns, [tuple(r) for r in df.collect()]


def _noop(b: Bench, fn, spark, d):
    with b.span("queries.build", "queries.build_s", group="build"):
        df = fn(spark, d)
    with b.span("exec.action", "exec.action_s", group="exec"):
        df.write.format("noop").mode("overwrite").save()
