"""Focused min-of-N bench for a subset of headline queries.

Usage: python tools/microbench.py [-nN] <query> [query ...]

Same methodology as bench.py (noop sink, bench.prepare's shared-table
clears, warmup pass then min of N measured passes) but only for the named
queries — the fast inner loop for before/after numbers on a single
optimization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import prepare  # noqa: E402
from helium_arango_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    n = 3
    if args and args[0].startswith("-n"):
        n = int(args[0][2:])
        args = args[1:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="microbench")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str) -> float:
        spark.sparkContext.setJobDescription(f"microbench:{name}")
        t0 = time.perf_counter()
        prepare(spark, sf_dir, name).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    # whole-list passes (warmup + n measured), per-query min over the
    # measured passes — the bench.py methodology, preserving the shared
    # cache clear/rebuild attribution between coupled queries
    for name in names:
        run(name)  # warmup pass
    timings: dict[str, float] = {name: float("inf") for name in names}
    for _ in range(n):
        for name in names:
            timings[name] = min(timings[name], run(name))
    timings = {k: round(v, 3) for k, v in timings.items()}
    print(json.dumps({"queries": timings, "n": n, "total": round(sum(timings.values()), 3)}))


if __name__ == "__main__":
    main()
