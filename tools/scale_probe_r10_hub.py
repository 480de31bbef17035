"""Round-10 scale probe: a PROJECTION HUB vs the per-node neighbor cap.

The r9 fan-in probe grew witness GROUP sizes (the direction the
CO_WITNESS_MAX_GROUP group cap bounds).  This probe stresses the
direction r9 explicitly did NOT: one hotspot that co-occurs in MANY
SMALL groups, so the group cap never binds but the node's PROJECTION
degree grows without bound — the Σ_m deg(m)² term the r9 docstrings
named as the residual (graph.py `_adamic_adar_body`), closed this round
by PROJ_NEIGHBOR_CAP (VERDICT r9 #3).

Corpus: sf0.1 plus a synthetic hub supplier co-witnessed with H distinct
partner suppliers through H distinct single-sighting witnesses (every
witness group has size 2 — group cap irrelevant; hub projection degree
= H).  Two hub sizes, 2k and 20k, give a 10x hub-degree step.

Predicted shapes (the design claims being tested):
  - group-cap-only 2-hop (the pre-r10 form): emit through the hub is
    keepers(hub)·deg(hub) ≈ H² — wall grows ~100x for the 10x step and
    should blow past the 600 s guard at H=20k;
  - node-capped 2-hop (this round's production form): emit ≈ H·cap —
    wall grows ~10x (linear in H);
  - neighbor_cap_stats' ledger prices both exactly: sum_deg_sq ≈ H²,
    capped_two_hop_emit ≈ H·cap, dropped_neighbors ≈ H − cap.

Timing protocol: the bounded (production) forms run in the main
session, caches cleared per measurement, two runs, min taken.  The
UNCAPPED variants are expected to die at the larger scale, so each runs
in its own SUBPROCESS under a hard kill at TIMEOUT_S (cancelJobGroup
from a sibling Python thread proved unreliable — the orphaned stage
kept its task slots and contaminated later measurements); a subprocess
measurement is one cold-session run, which only widens the gap it is
demonstrating.

Usage: python tools/scale_probe_r10_hub.py        (writes JSON to stdout)
       python tools/scale_probe_r10_hub.py --single NAME DIR   (internal)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from helium_arango_etl_spark import shared

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_BASE = os.path.join(REPO, ".tmp", "hub_probe")
HUB_SIZES = {"hub2k": 2_000, "hub20k": 20_000}
TIMEOUT_S = 600
HUB_SUPP = 10_000_000
OFF_PART = 20_000_000
OFF_ORD = 200_000_000
OFF_CUST = 50_000_000

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def build_corpus(spark: SparkSession, h: int, out_dir: str) -> None:
    """sf0.1 + one hub supplier sharing a size-2 witness group with each
    of `h` distinct partner suppliers (all in the hub's nation, so the
    whole star lands in one city — the mega-hub direction)."""
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        df = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        if t == "supplier":
            # hub/partner rows are built from literal columns matching the
            # supplier schema (a schema change fails the unionByName loudly)
            hub = spark.range(1).select(
                F.lit(HUB_SUPP).cast("bigint").alias("s_suppkey"),
                F.lit("hub").alias("s_name"),
                F.lit(0).cast("int").alias("s_nationkey"),
                F.lit(0.0).alias("s_acctbal"),
            )
            partners = spark.range(h).select(
                (F.lit(OFF_PART) + F.col("id")).cast("bigint").alias("s_suppkey"),
                F.concat(F.lit("partner"), F.col("id")).alias("s_name"),
                F.lit(0).cast("int").alias("s_nationkey"),
                F.lit(0.0).alias("s_acctbal"),
            )
            out = df.unionByName(hub).unionByName(partners)
        elif t == "orders":
            extra = spark.range(h).select(
                (F.lit(OFF_ORD) + F.col("id")).cast("bigint").alias("o_orderkey"),
                (F.lit(OFF_CUST) + F.col("id")).cast("bigint").alias("o_custkey"),
                F.lit("F").alias("o_orderstatus"),
                F.lit(0.0).alias("o_totalprice"),
                F.lit("2024-01-01 00:00:00").cast("timestamp").alias("o_orderdate"),
                F.lit("3-MEDIUM").alias("o_orderpriority"),
            )
            out = df.unionByName(extra)
        elif t == "lineitem":
            base = spark.range(h)
            mk = lambda supp: base.select(
                (F.lit(OFF_ORD) + F.col("id")).cast("bigint").alias("l_orderkey"),
                F.lit(1).cast("bigint").alias("l_partkey"),
                supp.cast("bigint").alias("l_suppkey"),
                F.lit(1).cast("int").alias("l_linenumber"),
                F.lit(1.0).alias("l_quantity"),
                F.lit(1.0).alias("l_extendedprice"),
                F.lit(0.0).alias("l_discount"),
                F.lit(0.0).alias("l_tax"),
                F.lit("N").alias("l_returnflag"),
                F.lit("O").alias("l_linestatus"),
                F.lit("2024-01-01 00:00:00").cast("timestamp").alias("l_shipdate"),
            )
            out = df.unionByName(mk(F.lit(HUB_SUPP))).unionByName(
                mk(F.lit(OFF_PART) + F.col("id"))
            )
        else:
            out = df
        out.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")


def timed(spark: SparkSession, fn, sf_dir: str):
    """(best_sec, rows) over two cache-cleared runs in the main session."""
    best, rows = float("inf"), -1
    for _ in range(2):
        shared.clear(spark, "witness")
        t0 = time.time()
        rows = fn(spark, sf_dir).count()
        best = min(best, time.time() - t0)
    shared.clear(spark, "witness")
    return round(best, 3), rows


def _session(app: str) -> SparkSession:
    return (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .appName(app)
        .getOrCreate()
    )


def _uncapped_probes():
    """The pre-r10 forms: group cap only, NO per-node neighbor cap —
    the residual the r9 docstrings named; expected quadratic in hub
    degree."""
    from helium_arango_etl_spark.operators import graph as G

    return {
        "adamic_adar_groupcap_only": lambda s, d: G._adamic_adar_body(
            G._co_witness_pairs_capped_cached(s, d)
        ),
        "recs_groupcap_only": lambda s, d: G._co_witness_recs_body(
            G._co_witness_pairs_capped_cached(s, d)
        ),
    }


def run_single(name: str, d: str) -> None:
    """Subprocess mode: one cold-session measurement, JSON on stdout."""
    spark = _session(f"hub-probe-single-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    fn = _uncapped_probes()[name]
    t0 = time.time()
    rows = fn(spark, d).count()
    print(json.dumps({"sec": round(time.time() - t0, 3), "rows": rows}))
    spark.stop()


def timed_subprocess(name: str, d: str):
    """Run one guarded measurement in a subprocess with a hard kill."""
    try:
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--single", name, d],
            capture_output=True,
            text=True,
            timeout=TIMEOUT_S,
        )
    except subprocess.TimeoutExpired:
        return "timeout", -1
    if r.returncode != 0:
        return f"error: {r.stderr.strip()[-160:]}", -1
    out = json.loads(r.stdout.strip().splitlines()[-1])
    return out["sec"], out["rows"]


def main() -> None:
    spark = _session("scale-probe-r10-hub")
    spark.sparkContext.setLogLevel("ERROR")

    dirs = {}
    for name, h in HUB_SIZES.items():
        d = os.path.join(OUT_BASE, name)
        print(f"building {name} (H={h}) ...", file=sys.stderr)
        t0 = time.time()
        build_corpus(spark, h, d)
        print(f"built in {time.time() - t0:.1f}s", file=sys.stderr)
        dirs[name] = d

    from helium_arango_etl_spark.operators import graph as G

    # the ledger first: neighbor_cap_stats must price the hub exactly
    stats = {}
    for name, d in dirs.items():
        shared.clear(spark, "witness")
        row = G.neighbor_cap_stats(spark, d).collect()[0]
        stats[name] = {k: int(v) for k, v in row.asDict().items()}
        print(f"neighbor_cap_stats {name}: {stats[name]}", file=sys.stderr)

    results = {}
    # bounded production forms: warm main session, min-of-2
    for name, fn in {
        "adamic_adar_scores_capped": G.adamic_adar_scores_capped,
        "co_witness_recommendations_capped": G.co_witness_recommendations_capped,
    }.items():
        r = {}
        for scale, d in dirs.items():
            sec, rows = timed(spark, fn, d)
            r[scale] = {"sec": sec, "rows": rows}
            print(f"{name} {scale}: {sec}, {rows} rows", file=sys.stderr)
        a, b = (r[k]["sec"] for k in HUB_SIZES)
        r["time_ratio"] = round(b / max(a, 1e-9), 2)
        results[name] = r
    spark.stop()

    # uncapped pre-r10 forms: one cold subprocess each, hard kill
    for name in _uncapped_probes():
        r = {}
        for scale, d in dirs.items():
            sec, rows = timed_subprocess(name, d)
            r[scale] = {"sec": sec, "rows": rows}
            print(f"{name} {scale}: {sec}, {rows} rows", file=sys.stderr)
        a, b = (r[k]["sec"] for k in HUB_SIZES)
        r["time_ratio"] = (
            round(b / max(a, 1e-9), 2)
            if isinstance(a, float) and isinstance(b, float)
            else None
        )
        results[name] = r

    print(json.dumps({"neighbor_cap_stats": stats, "probes": results}, indent=1))


if __name__ == "__main__":
    if len(sys.argv) >= 4 and sys.argv[1] == "--single":
        run_single(sys.argv[2], sys.argv[3])
    else:
        main()
