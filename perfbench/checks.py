"""Correctness checks, run outside the timed region.

Store checks read the written parquet with DuckDB, so they cost no Spark
jobs; the expected key sets come from the engine's own public builders.
Each check returns a list of failure messages (empty when it passes).
"""

from __future__ import annotations

import os

import duckdb

COLLECTIONS = ("accounts", "hotspots", "cities", "balances", "payments", "witnesses")


def _scan(store: str, name: str) -> str:
    return f"read_parquet('{os.path.join(store, name)}/*.parquet')"


def _query(sql: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def unique_keys(store: str) -> list[str]:
    """``_key`` is unique in every collection of the store."""
    bad = []
    for name in COLLECTIONS:
        n, distinct = _query(f"SELECT count(*), count(DISTINCT _key) FROM {_scan(store, name)}")[0]
        if n != distinct:
            bad.append(f"{name}: {n - distinct} duplicated _key rows")
    return bad


def payment_keys(store: str, expected: set[str]) -> list[str]:
    """Stored payments are exactly the expected distinct keys."""
    got = {k for (k,) in _query(f"SELECT _key FROM {_scan(store, 'payments')}")}
    if got == expected:
        return []
    return [f"payments: {len(expected - got)} missing, {len(got - expected)} unexpected keys"]


def metrics_rows(store: str, skeleton: set[tuple[str, str]]) -> list[str]:
    """Stored city metrics rows are exactly the city_graph_nodes skeleton."""
    got = _query(f"SELECT city_key, address FROM {_scan(store, 'city_metrics')}")
    if len(got) == len(skeleton) and set(got) == skeleton:
        return []
    return [f"city_metrics: {len(got)} rows vs skeleton {len(skeleton)}"]


def digests(store: str) -> dict[str, tuple]:
    """Order-independent content digest of every collection."""
    return {
        name: _query(f"SELECT count(*), sum(hash(t)::HUGEINT) FROM {_scan(store, name)} t")[0]
        for name in COLLECTIONS
    }


def digests_unchanged(before: dict, after: dict) -> list[str]:
    return [f"{n}: digest changed by re-sync" for n in COLLECTIONS if before[n] != after[n]]


class _Precomputed:
    """Stands in for a DataFrame whose pandas result is already known."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - mirrors the DataFrame method
        return self._pdf


def oracle_parity(name: str, pdf, sql: str, sf_dir: str) -> list[str]:
    """``pdf`` (the query's Spark result) matches its DuckDB oracle under
    tests/parity.py's comparison."""
    from tests.parity import assert_parity

    try:
        assert_parity(None, lambda _s, _d: _Precomputed(pdf), sql, sf_dir, name=name)
    except AssertionError as exc:
        return [str(exc).splitlines()[0]]
    return []
