"""Seeded lake input, written the way an external Delta writer leaves it.

Data files are hive-style parquet written with pyarrow; commits are
hand-written protocol-conformant `_delta_log` JSONs with per-file stats.
Backfilled files (gen_lake) keep their commit's time (in 2024) as mtime,
so once the table drops them, vacuum's default retention has expired.
Only the checkpoint goes through the library (`write_checkpoint`), so a
change to checkpoint writing shows in `setup.generate_s`.

The generator returns the rows it wrote; the workload's answer checks start
from them, never from the library under test.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import urllib.parse
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, so logs are byte-stable per seed
DAY0 = dt.date(2024, 1, 1)
CATEGORIES = ["books", "garden", "music", "sports", "tools", "toys", "video", "wine"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_CUSTOMERS = 1000

FACT_SCHEMA = pa.schema([("id", pa.int64()), ("cust_id", pa.int32()), ("amount", pa.float64()),
                         ("qty", pa.int32()), ("category", pa.string())])
DIM_SCHEMA = pa.schema([("cust_id", pa.int32()), ("segment", pa.string()),
                        ("region", pa.string())])
_DELTA_TYPES = {pa.int64(): "long", pa.int32(): "integer", pa.float64(): "double",
                pa.string(): "string", pa.date32(): "date"}


def day(i: int) -> dt.date:
    return DAY0 + dt.timedelta(days=int(i))


def day_str(i: int) -> str:
    return day(i).isoformat()


def _uid(rng: np.random.Generator) -> str:
    return str(uuid.UUID(bytes=rng.bytes(16), version=4))


def _header(rng, schema: pa.Schema, partition_cols: list[str]) -> list[dict]:
    fields = [{"name": f.name, "type": _DELTA_TYPES[f.type], "nullable": True, "metadata": {}}
              for f in schema]
    return [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": _uid(rng),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": fields}),
            "partitionColumns": partition_cols,
            "configuration": {},
            "createdTime": EPOCH_MS,
        }},
    ]


def _commit(table: str, version: int, actions: list[dict]) -> None:
    n_adds = sum(1 for a in actions if "add" in a)
    info = {"commitInfo": {
        "timestamp": EPOCH_MS + version * 60_000,
        "operation": "WRITE",
        "operationParameters": {"mode": "Append"},
        "isBlindAppend": True,
        "operationMetrics": {"numFiles": str(n_adds)},
    }}
    log = os.path.join(table, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{version:020d}.json"), "w") as fh:
        for a in [info, *actions]:
            fh.write(json.dumps(a, separators=(",", ":")) + "\n")


def _add(table: str, rel: str, t: pa.Table, part: dict, version: int,
         backdate: bool = False) -> dict:
    path = os.path.join(table, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(t, path, compression="snappy")
    if backdate:
        mtime = (EPOCH_MS + version * 60_000) / 1000
        os.utime(path, (mtime, mtime))
    mins, maxs, nulls = {}, {}, {}
    for name in t.column_names:
        mm = pc.min_max(t.column(name))
        if mm["min"].is_valid:
            mins[name], maxs[name] = mm["min"].as_py(), mm["max"].as_py()
        nulls[name] = t.column(name).null_count
    stats = {"numRecords": t.num_rows, "minValues": mins, "maxValues": maxs, "nullCount": nulls}
    return {"add": {
        "path": rel,
        "partitionValues": part,
        "size": os.path.getsize(path),
        "modificationTime": EPOCH_MS + version * 60_000,
        "dataChange": True,
        "stats": json.dumps(stats, separators=(",", ":")),
    }}


def fact_rows(rng: np.random.Generator, first_id: int, n: int) -> pa.Table:
    """`n` fact rows with ids first_id.. (2% null amounts)."""
    return pa.table(
        {
            "id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "cust_id": pa.array(rng.integers(0, N_CUSTOMERS, n), pa.int32()),
            "amount": pa.array(np.round(rng.uniform(1.0, 500.0, n), 2), pa.float64(),
                               mask=rng.random(n) < 0.02),
            "qty": pa.array(rng.integers(1, 11, n), pa.int32()),
            "category": pa.array(np.array(CATEGORIES)[rng.integers(0, len(CATEGORIES), n)]),
        },
        schema=FACT_SCHEMA,
    )


def gen_lake(root: str, seed: int, days: int, files_per_day: int, rows_per_file: int,
             commits: int, checkpoint_at: int, backfill_days: int = 0) -> dict:
    """Lake `root/sales/{fact,dim_customer}`.

    fact: partitioned by `day` (DATE); days*files_per_day data files spread
    over `commits` append commits, a library checkpoint at version
    `checkpoint_at` and a JSON tail after it. The oldest `backfill_days`
    days arrive last, after version `checkpoint_at - 2` (the one time-travel
    reads use), and only their files are backdated: vacuum can delete them
    once they are removed and still leave that version whole.
    dim_customer: one file, one commit.
    """
    from athena_delta_lake_spark.delta.writer import write_checkpoint

    rng = np.random.default_rng(seed)
    fact = os.path.join(root, "sales", "fact")
    dim = os.path.join(root, "sales", "dim_customer")
    rows = []
    order = sorted(range(days * files_per_day), key=lambda k: k % days < backfill_days)
    for version, ks in enumerate(np.array_split(np.array(order), commits)):
        actions = _header(rng, FACT_SCHEMA.append(pa.field("day", pa.date32())), ["day"]) \
            if version == 0 else []
        for k in ks.tolist():
            d = day_str(k % days)
            t = fact_rows(rng, k * rows_per_file, rows_per_file)
            rel = f"day={d}/part-{k:05d}-{_uid(rng)}.c000.snappy.parquet"
            late = k % days < backfill_days
            assert not late or version > checkpoint_at - 2, "backfill reaches the as-of version"
            actions.append(_add(fact, rel, t, {"day": d}, version, backdate=late))
            rows.append(t.append_column("day", pa.array([day(k % days)] * t.num_rows))
                        .append_column("version", pa.array([version] * t.num_rows, pa.int32())))
        _commit(fact, version, actions)
        if version == checkpoint_at:
            write_checkpoint(fact)

    dim_t = pa.table(
        {
            "cust_id": pa.array(np.arange(N_CUSTOMERS), pa.int32()),
            "segment": pa.array(np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), N_CUSTOMERS)]),
            "region": pa.array(np.array(REGIONS)[rng.integers(0, len(REGIONS), N_CUSTOMERS)]),
        },
        schema=DIM_SCHEMA,
    )
    rel = f"part-00000-{_uid(rng)}.c000.snappy.parquet"
    _commit(dim, 0, [*_header(rng, DIM_SCHEMA, []), _add(dim, rel, dim_t, {}, 0)])
    return {
        "root": root,
        "fact": fact,
        "rows": pa.concat_tables(rows),
        "dim_rows": dim_t,
        "checkpoint": checkpoint_at,
        "days": days,
    }


def live_paths(table: str) -> set[str]:
    """Relative paths of the table's live data files at its latest version,
    from a replay of every JSON commit (nothing in the workload cleans up
    the log): the vacuum check's shadow of the library's snapshot."""
    log = os.path.join(table, "_delta_log")
    live: set[str] = set()
    for name in sorted(f for f in os.listdir(log) if f.endswith(".json") and f[:-5].isdigit()):
        adds, removes = [], []
        with open(os.path.join(log, name)) as fh:
            for line in fh:
                a = json.loads(line)
                if "add" in a:
                    adds.append(urllib.parse.unquote(a["add"]["path"]))
                elif "remove" in a:
                    removes.append(urllib.parse.unquote(a["remove"]["path"]))
        live.difference_update(removes)  # a DV update removes and re-adds a path
        live.update(adds)
    return live
