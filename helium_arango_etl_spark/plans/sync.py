"""Inventory sync + dynamic-collection backfill plans.

Reference lifecycle (SURVEY.md §3):
- ``sync_inventories`` (etl.py:77-109): snapshot collections (accounts,
  hotspots, cities) fully re-imported each cycle; witnesses imported with
  first-write-wins + retention; rewards merged onto hotspots.
- ``sync_dynamic_collections`` (etl.py:111-130): payments backfilled in
  fixed-size block chunks, each chunk importBulk'd with onDuplicate='ignore'
  — re-running any chunk is a no-op (content-hash keys).

Here each collection is one DataFrame DAG -> keyed parquet via the merge
sinks in ``io``.  The chunk loop survives only as an *orchestration* over
time windows — every chunk runs the same DAG with a different filter, and
the idempotency tests assert 1-chunk == N-chunk == re-run equality
(the reference's core operational guarantee, L4/L5).

Store layout: ``<out_dir>/<collection>`` parquet dirs keyed by ``_key``.
At scale these would be Delta tables with MERGE; plain parquet + left-anti
union is the dependency-free equivalent with identical semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import arango_id, content_key, synthetic_lat, synthetic_lon
from ..io import merge_ignore, merge_upsert, read_table
from ..operators.graph import witness_subgraph
from ..operators.windows import daily_balances_nested

COLLECTIONS = ("accounts", "hotspots", "cities", "balances", "payments", "witnesses")


# ---------- vertex collections (snapshot semantics) ----------


def build_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """accounts vertex: account_inventory snapshot + _key = address
    (reference: blockchain_queries.py:73-82)."""
    cust = read_table(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").cast("string").alias("_key"),
        F.col("c_custkey").alias("address"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_acctbal").alias("balance"),
        F.col("c_mktsegment").alias("segment"),
    )


def build_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hotspots vertex with the reference's nested shape: flat inventory cols
    + ``location_details`` struct + ``geo_location`` GeoJSON Point struct +
    null-initialized analytics columns (blockchain_queries.py:135-169,
    arango_schema.py:32-61)."""
    sup = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    joined = (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
    )
    city_key = F.md5(F.concat_ws("|", "n_name", "r_name"))
    return joined.select(
        F.col("s_suppkey").cast("string").alias("_key"),
        F.col("s_suppkey").alias("address"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("balance"),
        F.struct(
            city_key.alias("city_key"),
            F.col("n_name").alias("long_city"),
            F.col("r_name").alias("long_country"),
        ).alias("location_details"),
        F.struct(
            F.lit("Point").alias("type"),
            F.array(
                synthetic_lon(F.col("s_suppkey")), synthetic_lat(F.col("s_suppkey"))
            ).alias("coordinates"),
        ).alias("geo_location"),
        F.lit(None).cast("decimal(18,2)").alias("rewards_5d"),
        F.lit(None).cast("double").alias("betweenness_centrality"),
        F.lit(None).cast("double").alias("pagerank"),
        F.lit(None).cast("double").alias("hub_score"),
        F.lit(None).cast("double").alias("authority_score"),
    )


def build_cities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cities vertex (D3 distinct + md5 key, blockchain_queries.py:90-112)."""
    from ..operators.relational import cities

    return cities(spark, sf_dir).withColumn("_key", F.col("city_key"))


def build_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """balances vertex: per-account daily_balances array
    (arango_schema.py:95-102; the reference's disabled-as-slow query)."""
    return daily_balances_nested(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("_key"),
        F.col("daily_balances"),
    )


# ---------- edge collections (append/ignore semantics) ----------


def build_payments(
    spark: SparkSession, sf_dir: str, start: str | None = None, end: str | None = None
) -> DataFrame:
    """payments edges for a time window: _key = content hash, _from/_to =
    account ids (blockchain_queries.py:220-257; v1 shape).  Bounds are
    half-open-strict like the reference (B2 quirk)."""
    ev = read_table(spark, sf_dir, "events")
    fields = F.from_json(F.col("props"), "k INT")
    df = ev.filter(F.col("event_type").isin("purchase", "signup"))
    if start is not None:
        df = df.filter(F.col("ts") > F.lit(start))
    if end is not None:
        df = df.filter(F.col("ts") < F.lit(end))
    return df.select(
        content_key(F.col("event_id"), F.col("user_id"), fields["k"]).alias("_key"),
        arango_id("accounts", F.col("user_id")).alias("_from"),
        arango_id("accounts", F.pmod(F.col("user_id") * 7 + fields["k"], F.lit(1000))).alias("_to"),
        fields["k"].alias("amount"),
        F.col("ts").alias("time"),
    )


def build_witnesses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """witnesses edges: valid-only, keep-latest per (src,dst) pair (E1),
    _key = md5(challengee+witness) (blockchain_queries.py:306).  Reads the
    shared valid-edge table, so the cycle's metrics pass does not rebuild
    the fact-fact join."""
    from pyspark.sql import Window

    edges = witness_subgraph(spark, sf_dir)
    w = Window.partitionBy("src", "dst").orderBy(F.col("edge_ts").desc(), F.col("distance_m").desc())
    return (
        edges.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.md5(F.concat_ws("|", "src", "dst")).alias("_key"),
            arango_id("hotspots", F.col("src")).alias("_from"),
            arango_id("hotspots", F.col("dst")).alias("_to"),
            "city_key",
            "distance_m",
            F.col("edge_ts").alias("time"),
        )
    )


# ---------- sync orchestration ----------


def _store_path(out_dir: str, name: str) -> str:
    return os.path.join(out_dir, name)


def _read_store(spark: SparkSession, out_dir: str, name: str) -> DataFrame | None:
    path = _store_path(out_dir, name)
    try:
        return spark.read.parquet(path)
    except Exception:
        return None


def _write_merged(
    spark: SparkSession, out_dir: str, name: str, new: DataFrame, mode: str
) -> None:
    """Merge ``new`` into the stored collection with upsert/ignore semantics.

    Parquet can't be read and overwritten in one job, so the merged result is
    checkpointed via a staging dir and moved into place (Delta MERGE at
    scale; this is the dependency-free equivalent)."""
    import shutil
    import tempfile

    old = _read_store(spark, out_dir, name)
    if old is None:
        merged = new.dropDuplicates(["_key"]) if mode == "ignore" else new
    elif mode == "upsert":
        merged = merge_upsert(old, new)
    else:
        merged = merge_ignore(old, new)
    staging = tempfile.mkdtemp(prefix=f"{name}_", dir=out_dir)
    merged.write.mode("overwrite").parquet(os.path.join(staging, "data"))
    final = _store_path(out_dir, name)
    if os.path.exists(final):
        shutil.rmtree(final)
    shutil.move(os.path.join(staging, "data"), final)
    shutil.rmtree(staging, ignore_errors=True)


def sync_inventories(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Entry point 1 (etl.py:77-109): snapshot refresh of all vertex
    collections + witness import.  Snapshots use upsert (full re-import is
    idempotent); witnesses use ignore (first write wins)."""
    os.makedirs(out_dir, exist_ok=True)
    _write_merged(spark, out_dir, "accounts", build_accounts(spark, sf_dir), "upsert")
    _write_merged(spark, out_dir, "hotspots", build_hotspots(spark, sf_dir), "upsert")
    _write_merged(spark, out_dir, "cities", build_cities(spark, sf_dir), "upsert")
    _write_merged(spark, out_dir, "balances", build_balances(spark, sf_dir), "upsert")
    _write_merged(spark, out_dir, "witnesses", build_witnesses(spark, sf_dir), "ignore")


def backfill_payments(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 1
) -> None:
    """Entry point 2 (etl.py:111-130): chunked payments backfill.  The chunk
    loop is pure orchestration — every chunk is the same DAG over a narrower
    strict-bounds window, merged with first-write-wins.  Chunk seams use the
    reference's strict inequalities (B2): a row exactly at a seam would be
    skipped — reproduced deliberately; the default seams fall between the
    testdata's microsecond timestamps so no row is lost (verified by the
    1-chunk == N-chunk test)."""
    import datetime as dt

    os.makedirs(out_dir, exist_ok=True)
    bounds = read_table(spark, sf_dir, "events").agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo) / n_chunks
    for i in range(n_chunks):
        # strict bounds at every seam (B2): a row exactly at an interior seam
        # would be skipped, exactly like the reference's chunk loop; the
        # outermost bounds are widened 1s so lo/hi rows are included.
        a = (lo - dt.timedelta(seconds=1)) if i == 0 else (lo + i * span)
        b = (hi + dt.timedelta(seconds=1)) if i == n_chunks - 1 else (lo + (i + 1) * span)
        chunk = build_payments(spark, sf_dir, start=a.isoformat(sep=" "), end=b.isoformat(sep=" "))
        _write_merged(spark, out_dir, "payments", chunk, "ignore")


def read_collection(spark: SparkSession, out_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(_store_path(out_dir, name))
