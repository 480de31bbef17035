"""Shared tables follow their corpus: a table rewritten in place at the same
path inside one long-lived session (the follower daemon's situation) must
serve the new rows on the next lookup, not the persisted old ones."""

from __future__ import annotations

import datetime
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from helium_arango_etl_spark import shared
from helium_arango_etl_spark.operators.graph import witness_subgraph
from helium_arango_etl_spark.operators.textops import tokenized_corpus


def _tables(n: int, with_witnesses: bool) -> dict[str, pa.Table]:
    """A tiny corpus: n documents and, optionally, n valid witness edges
    (order i of customer i saw supplier 1, all in one city)."""
    out = {
        "documents": pa.table(
            {
                "doc_id": list(range(n)),
                "text": [f"the doc {i}" for i in range(n)],
                "lang": ["en"] * n,
                "source": ["web"] * n,
            }
        )
    }
    if with_witnesses:
        ts = datetime.datetime(2024, 1, 1)
        out |= {
            "lineitem": pa.table(
                {
                    "l_orderkey": list(range(n)),
                    "l_suppkey": [1] * n,
                    "l_returnflag": ["N"] * n,
                    "l_shipdate": [ts] * n,
                }
            ),
            "orders": pa.table({"o_orderkey": list(range(n)), "o_custkey": list(range(n))}),
            "supplier": pa.table({"s_suppkey": [1], "s_nationkey": [0]}),
            "nation": pa.table({"n_nationkey": [0], "n_name": ["N0"], "n_regionkey": [0]}),
            "region": pa.table({"r_regionkey": [0], "r_name": ["R0"]}),
        }
    return out


@pytest.mark.parametrize("layout", ["pyarrow_file", "spark_dir"])
def test_shared_tables_follow_in_place_rewrite(spark, tmp_path, layout):
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark_dir = layout == "spark_dir"

    def write(n: int) -> None:
        for name, t in _tables(n, spark_dir).items():
            path = os.path.join(sf, f"{name}.parquet")
            if not spark_dir:
                pq.write_table(t, path)
                continue
            # another writer's job swaps the new directory in, as the sync
            # store merge does — Spark's own overwrite would also refresh
            # this session's cache by path, which a separate writer cannot
            staging = str(tmp_path / "staging")
            spark.createDataFrame(t.to_pandas()).write.parquet(staging)
            shutil.rmtree(path, ignore_errors=True)
            shutil.move(staging, path)

    write(5)
    assert tokenized_corpus(spark, sf).count() == 5
    if spark_dir:
        assert witness_subgraph(spark, sf).count() == 5
    write(9)
    assert tokenized_corpus(spark, sf).count() == 9
    if spark_dir:
        assert witness_subgraph(spark, sf).count() == 9
    shared.clear(spark, "tok", "witness")


def test_bench_prepare_drops_only_its_step_tables(spark, sf_dir):
    """bench.prepare clears the shared families its step is billed for and
    keeps every other table (a step with no families clears nothing)."""
    import bench

    tok = tokenized_corpus(spark, sf_dir)
    bench.prepare(spark, sf_dir, "city_hits")
    assert tokenized_corpus(spark, sf_dir) is tok
    assert bench.prepare(spark, sf_dir, "tok_prepare") is not tok
    shared.clear(spark, "tok", "metrics", "witness")
