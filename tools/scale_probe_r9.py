"""Round-9 scale probe: the capped co-witness family at 10x sf0.1 fan-in.

Prior probes (BASELINE.md sections 4-5) scaled the whole corpus; this one
scales the specific dimension the co-witness cap exists for: WITNESS
FAN-IN.  It builds a synthetic "sf1x" corpus from sf0.1 by replicating
supplier/orders/lineitem 10x with disjoint key spaces while KEEPING
customers (the witness side) shared, so every witness accumulates ~10x
the sightings from 10x the hotspots and every (city, witness) group in
the projection grows ~10x.  City count stays fixed (city = nation x
region), so this is the mega-city direction — the one that breaks a
k^2/2 emit.

Predicted shapes (the design claims being tested):
  - exact co-pair COUNT grows ~quadratically (~100x): each k-fan-in
    witness group emits k(k-1)/2 pairs;
  - capped co-pair count grows ~linearly (~10x): each group emits
    O(k * CO_WITNESS_MAX_GROUP);
  - capped consumers' WALL TIME tracks the capped pair count (linear),
    and the exact form's tracks the quadratic emit.

Timing protocol: per (scale, query) the operator caches are cleared
(the bench discipline: each measurement pays its own materialization),
the query is run twice end-to-end, min taken.  Both scales run in ONE
session back-to-back so host state cancels in the ratio — on this
round's degraded VM absolute numbers are host-calibrated (BASELINE.md
host-drift signature), the 1x -> 10x ratio is the readable result.

Usage: python tools/scale_probe_r9.py            (writes JSON to stdout)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from helium_arango_etl_spark import shared

# this probe EXISTS to measure the exact demo's quadratic blow-up at 10x
# fan-in — explicitly opt past the r10 exact-demo scale guard
os.environ.setdefault("SPARK_GRAFT_ALLOW_EXACT_DEMO", "1")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(REPO, ".tmp", "sf1x_fanin")
COPIES = 10
# key offsets far above any sf0.1 key
OFF_ORD = 100_000_000
OFF_SUPP = 1_000_000

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def build_corpus(spark: SparkSession) -> None:
    if os.path.isdir(OUT_DIR):
        shutil.rmtree(OUT_DIR)
    os.makedirs(OUT_DIR, exist_ok=True)
    for t in TABLES:
        df = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        if t == "supplier":
            parts = [
                df.withColumn("s_suppkey", F.col("s_suppkey") + F.lit(i * OFF_SUPP))
                for i in range(COPIES)
            ]
        elif t == "orders":
            parts = [
                df.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * OFF_ORD))
                for i in range(COPIES)
            ]
        elif t == "lineitem":
            parts = [
                df.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * OFF_ORD))
                .withColumn("l_suppkey", F.col("l_suppkey") + F.lit(i * OFF_SUPP))
                for i in range(COPIES)
            ]
        else:  # shared side + dims: customers deliberately NOT replicated
            parts = [df]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{OUT_DIR}/{t}.parquet")


def timed(spark: SparkSession, fn, sf_dir: str) -> tuple[float, int]:
    best, rows = float("inf"), -1
    for _ in range(2):
        shared.clear(spark, "witness")
        t0 = time.time()
        rows = fn(spark, sf_dir).count()
        best = min(best, time.time() - t0)
    shared.clear(spark, "witness")
    return round(best, 3), rows


def main() -> None:
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .appName("scale-probe-r9")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    print("building 10x fan-in corpus ...", file=sys.stderr)
    t0 = time.time()
    build_corpus(spark)
    print(f"built in {time.time() - t0:.1f}s", file=sys.stderr)

    from helium_arango_etl_spark.operators import graph as G

    # analytic cap accounting first (cheap: sizes only, no pair emit)
    stats = {}
    for scale, d in (("1x", SF_DIR), ("10x", OUT_DIR)):
        shared.clear(spark, "witness")
        row = G.co_witness_bucket_stats(spark, d).collect()[0]
        stats[scale] = {k: int(v) for k, v in row.asDict().items()}
        print(f"bucket stats {scale}: {stats[scale]}", file=sys.stderr)

    probes = {
        "co_witness_pairs_exact": G.co_witness_pairs,
        "co_witness_pairs_capped": G.co_witness_pairs_capped,
        "adamic_adar_scores_capped": G.adamic_adar_scores_capped,
        "ktruss_edges_capped": G.ktruss_edges_capped,
        "city_transitivity_capped": G.city_transitivity_capped,
        "cowitness_lift_capped": G.cowitness_lift_capped,
    }
    results = {}
    for name, fn in probes.items():
        r = {}
        for scale, d in (("1x", SF_DIR), ("10x", OUT_DIR)):
            sec, rows = timed(spark, fn, d)
            r[scale] = {"sec": sec, "rows": rows}
            print(f"{name} {scale}: {sec}s, {rows} rows", file=sys.stderr)
        r["time_ratio"] = round(r["10x"]["sec"] / max(r["1x"]["sec"], 1e-9), 2)
        r["row_ratio"] = round(r["10x"]["rows"] / max(r["1x"]["rows"], 1), 2)
        results[name] = r

    print(json.dumps({"bucket_stats": stats, "probes": results}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
