"""Targeted Spark-vs-DuckDB parity check over the REAL testdata.

Usage: python tools/parity_check.py <sf_dir> <query> [query ...]

Same canonicalization/compare discipline as tools/random_audit.py, but
runs only the named queries against an existing sf directory — the fast
inner loop for proving an optimization did not change results before
the full audit/bench re-run.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from helium_arango_etl_spark import shared  # noqa: E402
from helium_arango_etl_spark.registry import ORACLE, QUERIES  # noqa: E402
from tools.random_audit import _canon, tables_list  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    from helium_arango_etl_spark.session import get_spark

    spark = get_spark(app_name="parity-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in tables_list():
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            src = f"{path}/*.parquet"
        elif os.path.exists(path):
            src = path
        else:
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    shared.clear(spark)
    bad = 0
    for name in names:
        if name not in ORACLE:
            print(f"{name}: NO ORACLE (skipped)")
            continue
        srows = sorted(
            tuple(_canon(v) for _, v in sorted(r.asDict().items()))
            for r in QUERIES[name](spark, sf_dir).collect()
        )
        cur = con.execute(ORACLE[name])
        cols = [d[0] for d in cur.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        drows = sorted(
            tuple(_canon(r[i]) for i in order) for r in cur.fetchall()
        )
        if srows == drows:
            print(f"{name}: MATCH rows={len(srows)}")
        else:
            bad += 1
            # Report SET differences (ADVICE r10): zipping two
            # independently sorted lists misaligns every pair after the
            # first extra row, and zip truncation can print an empty diff
            # for a pure extra-rows mismatch.  Multiset-aware: rows only
            # in one side, with duplicates respected via Counter.
            from collections import Counter

            sc, dc = Counter(srows), Counter(drows)
            only_s = sorted((sc - dc).elements())[:2]
            only_d = sorted((dc - sc).elements())[:2]
            print(
                f"{name}: MISMATCH spark={len(srows)} duck={len(drows)}"
                f" only_spark={only_s} only_duck={only_d}"
            )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
