"""Seeded input snapshots for the benchmark.

``data/`` holds the engine's sf0.01 test tables (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), the same
files the engine's correctness tests compare against their DuckDB oracles.
Each operation's snapshot directory is a seeded sample of them; the engine
only ever sees the directories written here.

A snapshot is a function of ``(seed, index)`` alone, and parquet files are
written with fixed writer options, so the same seed gives byte-identical
files (pinned by ``test_perfbench.py``).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
DIMENSIONS = ("region", "nation", "customer", "supplier", "part", "documents", "embeddings")

KEEP = 0.95          # share of orders (with all their lineitem rows) and of events kept
STALE_SHARE = 0.25   # landing rows that repeat events the snapshot already holds

_WRITE_OPTS = dict(compression="snappy", use_dictionary=True, write_statistics=True)


def load_tables() -> dict[str, pa.Table]:
    return {name: pq.read_table(os.path.join(DATA_DIR, f"{name}.parquet")) for name in TABLES}


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, **_WRITE_OPTS)


@dataclass(frozen=True)
class Snapshot:
    """One operation's input: a snapshot directory plus, for the follower,
    a landing directory holding only ``events.parquet``."""

    sf_dir: str
    landing_dir: str
    rows: int
    bytes: int


def dir_bytes(path: str) -> int:
    """Total size of the files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


def write_snapshot(tables: dict[str, pa.Table], seed: int, index: int, out_dir: str) -> Snapshot:
    """Derive snapshot ``index``: a ``KEEP`` share of orders with their
    lineitem rows and of events; dimensions whole.  The held-out events, plus
    a seeded share of events the snapshot already holds, land in
    ``<out>/landing``."""
    rng = np.random.default_rng([seed, 0xC0FFEE, index])
    shutil.rmtree(out_dir, ignore_errors=True)
    sf_dir = os.path.join(out_dir, "sf")
    landing = os.path.join(out_dir, "landing")
    os.makedirs(sf_dir)
    os.makedirs(landing)
    for name in DIMENSIONS:
        write_table(tables[name], os.path.join(sf_dir, f"{name}.parquet"))

    orders = tables["orders"]
    keep_order = rng.random(orders.num_rows) < KEEP
    write_table(orders.filter(pa.array(keep_order)), os.path.join(sf_dir, "orders.parquet"))
    kept_keys = orders.column("o_orderkey").filter(pa.array(keep_order))
    li = tables["lineitem"]
    write_table(li.filter(pc.is_in(li.column("l_orderkey"), kept_keys)),
                os.path.join(sf_dir, "lineitem.parquet"))

    events = tables["events"]
    keep_ev = rng.random(events.num_rows) < KEEP
    write_table(events.filter(pa.array(keep_ev)), os.path.join(sf_dir, "events.parquet"))
    held = np.flatnonzero(~keep_ev)
    kept = np.flatnonzero(keep_ev)
    stale = rng.choice(kept, size=int(len(held) * STALE_SHARE), replace=False)
    landing_idx = np.sort(np.concatenate([held, stale]))
    write_table(events.take(pa.array(landing_idx)), os.path.join(landing, "events.parquet"))

    rows = sum(pq.ParquetFile(os.path.join(sf_dir, f"{n}.parquet")).metadata.num_rows for n in TABLES)
    return Snapshot(sf_dir, landing, rows, dir_bytes(sf_dir))
