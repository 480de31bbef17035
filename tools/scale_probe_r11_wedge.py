"""Round-11 scale probe: the ORIENTED-WEDGE residual on the triangle
consumers (VERDICT r10 #4).

The r10 hub probe's partner supplier ids all sorted ABOVE the hub id, so
the oriented projection had in(hub) = 0 and the wedge enumerator
(`_edge_support`, `local_clustering_coeff*`) emitted zero wedges through
the hub — the Σ_b in(b)·out(b) middle-vertex term was unmeasured, not
disproven.  This probe builds the MIXED-ID hub: half the partner ids sort
below the hub id, half above, so the oriented wedge emit through the hub
is (H/2)² intermediate rows even though the group cap bounds every
witness group at size 2.

Corpus: sf0.1 plus one hub supplier co-witnessed with H distinct partners
through H single-sighting witness groups (size-2 groups — the group cap
never binds; hub projection degree = H; in(hub) = out(hub) = H/2).

Predicted shapes:
  - wedge consumers over the group-capped projection (current production
    forms `ktruss_edges_capped`, `local_clustering_coeff_capped`): wedge
    emit ≈ (H/2)² -> wall grows ~100x for the 10x hub step; expected to
    blow the 600 s guard at H = 20k if the residual is real;
  - if instead wall grows ~linearly, the enumerator's pre-join pruning
    is covering it and no cap is needed (record and close the item).

Timing protocol mirrors the r10 probe: measurements that may be
quadratic run in their own SUBPROCESS under a hard kill at TIMEOUT_S;
bounded measurements run twice in the main session, min taken.

Usage: python tools/scale_probe_r11_wedge.py           (JSON to stdout)
       python tools/scale_probe_r11_wedge.py --single NAME DIR  (internal)
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
OUT_BASE = os.path.join(REPO, ".tmp", "wedge_probe")
HUB_SIZES = {"hub2k": 2_000, "hub20k": 20_000}
TIMEOUT_S = 600
# Node ids are the STRINGS 'S<suppkey>', so orientation (a < b) is string
# order.  Hub 'S50000000' sits between 'S1...' (below) and 'S9...' (above):
# all three ranges are 8-digit, so lexicographic order == leading digit.
HUB_SUPP = 50_000_000
OFF_LOW = 10_000_000    # partner ids sorting BELOW the hub ('S1.......')
OFF_HIGH = 90_000_000   # partner ids sorting ABOVE the hub ('S9.......')
OFF_ORD = 200_000_000
OFF_CUST = 50_000_000

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def build_corpus(spark: SparkSession, h: int, out_dir: str) -> None:
    """sf0.1 + one hub supplier sharing a size-2 witness group with each
    of `h` distinct partner suppliers, partner ids chosen so roughly
    half sort below the hub's node id in string order (mixed-direction
    wedges through the hub)."""
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    half = h // 2
    for t in TABLES:
        df = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        if t == "supplier":
            hub = spark.range(1).select(
                F.lit(HUB_SUPP).cast("bigint").alias("s_suppkey"),
                F.lit("hub").alias("s_name"),
                F.lit(0).cast("int").alias("s_nationkey"),
                F.lit(0.0).alias("s_acctbal"),
            )
            partners = spark.range(h).select(
                F.expr(
                    f"cast(if(id < {half}, {OFF_LOW} + id, {OFF_HIGH} + id)"
                    " as bigint)"
                ).alias("s_suppkey"),
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
            mk = lambda supp: base.select(  # noqa: E731
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
                mk(
                    F.expr(
                        f"cast(if(id < {half}, {OFF_LOW} + id,"
                        f" {OFF_HIGH} + id) as bigint)"
                    )
                )
            )
        else:
            out = df
        out.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")


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


def _probes():
    from helium_arango_etl_spark.registry import QUERIES

    return {
        "ktruss_edges_capped": QUERIES["ktruss_edges_capped"],
        "local_clustering_coeff_capped": QUERIES["local_clustering_coeff_capped"],
        "city_triangle_stats_capped": QUERIES["city_triangle_stats_capped"],
    }


def run_single(name: str, d: str) -> None:
    spark = _session(f"wedge-probe-single-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    fn = _probes()[name]
    t0 = time.time()
    rows = fn(spark, d).count()
    print(json.dumps({"sec": round(time.time() - t0, 3), "rows": rows}))
    spark.stop()


def timed_subprocess(name: str, d: str):
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
    spark = _session("scale-probe-r11-wedge")
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

    # assert the achieved orientation split at the hub: the whole point
    # of this corpus is in(hub) ≈ out(hub) ≈ H/2 on the ORIENTED capped
    # projection (string order on the 'S<id>' node names)
    split = {}
    for name, d in dirs.items():
        shared.clear(spark, "witness")
        proj = G._co_witness_pairs_capped_cached(spark, d)
        hub = f"S{HUB_SUPP}"
        row = proj.agg(
            F.sum(F.expr(f"if(src_b = '{hub}', 1, 0)")).alias("in_hub"),
            F.sum(F.expr(f"if(src_a = '{hub}', 1, 0)")).alias("out_hub"),
        ).collect()[0]
        split[name] = {
            "in_hub": int(row["in_hub"] or 0),
            "out_hub": int(row["out_hub"] or 0),
        }
        print(f"{name} oriented split: {split[name]}", file=sys.stderr)
        shared.clear(spark, "witness")

    results = {"split": split, "probes": {}}
    for pname in _probes():
        results["probes"][pname] = {}
        for cname, d in dirs.items():
            sec, rows = timed_subprocess(pname, d)
            results["probes"][pname][cname] = {"sec": sec, "rows": rows}
            print(f"{pname} @ {cname}: {sec} rows={rows}", file=sys.stderr)

    print(json.dumps(results, indent=2))


if __name__ == "__main__":
    if len(sys.argv) >= 4 and sys.argv[1] == "--single":
        run_single(sys.argv[2], sys.argv[3])
    else:
        main()
