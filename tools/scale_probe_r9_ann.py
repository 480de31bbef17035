"""Round-9 ANN scale probe: brute-force vs bucketed paths at 10x embeddings.

Companion to tools/scale_probe_r9.py (the graph fan-in probe): builds a
10x embeddings corpus from sf0.1 by replicating with offset vec_ids and a
per-copy cyclic ROTATION of the 64-dim vector (norm- and
distribution-preserving, no exact duplicates, deterministic), then
measures the ANN family's scaling shape:

  - ann_cosine_topk   — the documented brute-force baseline: corpus x
                        queries dot products, expected ~quadratic;
  - ivf_topk          — inverted-file partition pruning: each query
                        scores only its probed cells, expected far
                        sub-quadratic;
  - mutual_knn_graph_lsh — the bucketed 100 TB form of the kNN graph:
                        candidate pairs from LSH buckets, expected
                        near-linear while buckets stay balanced.

Other tables are copied verbatim so the sf_dir contract holds.  Both
scales run in one session (caches cleared per measurement, min-of-2);
the 1x -> 10x ratio is the readable result on a host-calibrated VM.

Usage: python tools/scale_probe_r9_ann.py   (JSON to stdout)
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

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(REPO, ".tmp", "sf1x_emb")
COPIES = 10
OFF_VEC = 10_000_000
DIM = 64

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
        if t == "embeddings":
            # ADVICE r9: F.slice is forgiving, so a dimension mismatch
            # would silently corrupt the rotated copies — fail loudly.
            dim = df.select(F.size("embedding").alias("d")).head()["d"]
            assert dim == DIM, f"embeddings dim {dim} != probe DIM {DIM}"
            parts = []
            for i in range(COPIES):
                rot = (
                    F.col("embedding")
                    if i == 0
                    else F.concat(
                        F.slice("embedding", i + 1, DIM - i),
                        F.slice("embedding", 1, i),
                    )
                )
                parts.append(
                    df.select(
                        (F.col("vec_id") + F.lit(i * OFF_VEC)).alias("vec_id"),
                        rot.alias("embedding"),
                        "label",
                    )
                )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        else:
            out = df
        out.write.mode("overwrite").parquet(f"{OUT_DIR}/{t}.parquet")


def timed(spark: SparkSession, fn, sf_dir: str) -> tuple[float, int]:
    best, rows = float("inf"), -1
    for _ in range(2):
        shared.clear(spark, "emb")
        t0 = time.time()
        rows = fn(spark, sf_dir).count()
        best = min(best, time.time() - t0)
    shared.clear(spark, "emb")
    return round(best, 3), rows


def main() -> None:
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .appName("scale-probe-r9-ann")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    print("building 10x embeddings corpus ...", file=sys.stderr)
    t0 = time.time()
    build_corpus(spark)
    print(f"built in {time.time() - t0:.1f}s", file=sys.stderr)

    from helium_arango_etl_spark.operators import similarity as S

    probes = {
        "ann_cosine_topk_bruteforce": S.ann_cosine_topk,
        "ivf_topk": S.ivf_topk,
        "mutual_knn_graph_lsh": S.mutual_knn_graph_lsh,
    }
    results = {}
    for name, fn in probes.items():
        r = {}
        for scale, d in (("1x", SF_DIR), ("10x", OUT_DIR)):
            sec, rows = timed(spark, fn, d)
            r[scale] = {"sec": sec, "rows": rows}
            print(f"{name} {scale}: {sec}s, {rows} rows", file=sys.stderr)
        r["time_ratio"] = round(r["10x"]["sec"] / max(r["1x"]["sec"], 1e-9), 2)
        results[name] = r

    print(json.dumps({"probes": results}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
