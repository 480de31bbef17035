"""Cross-engine parity on FULLY EMPTY tables, for every oracled query.

The last rung of the pathological ladder (test_degenerate_parity.py
covers degenerate ROWS): a 100 TB pipeline routinely feeds an operator
an empty slice — a day with no data, a filter that matched nothing, a
brand-new tenant.  Round 8's empty-table probe found 13 defects here:
4 engine crashes (a div-by-zero LITERAL in markov_stationary's uniform
init, empty-side estimates in join_cardinality_audit, 0/0 Jaccard in
set_ops_battery, DuckDB ln(0) in optimal_histogram_bins) and 9
one-row-vs-zero-row shape divergences between Spark global aggregates
and the oracles' group-over-empty chains — all harmonized to the
"empty in, empty out" convention (or exact-zero counters where a
0-row summary is the documented shape).
"""

from __future__ import annotations

import pytest

from helium_arango_etl_spark.registry import ORACLE

from .test_degenerate_parity import _compare

SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string"
    ),
    "supplier": "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp"
    ),
    "events": (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    ),
    "documents": "doc_id long, text string, lang string, source string, n_chars long",
    "embeddings": "vec_id long, label string, embedding array<float>",
}

EMPTY_OPS = sorted(n for n in ORACLE if n != "sql_rewards_summary")


@pytest.fixture(scope="module")
def degen_empty(spark, tmp_path_factory):
    import duckdb

    from helium_arango_etl_spark import shared

    tmp = str(tmp_path_factory.mktemp("degen_empty"))
    for t, sch in SCHEMAS.items():
        spark.createDataFrame([], sch).write.parquet(f"{tmp}/{t}.parquet")
    con = duckdb.connect()
    for t in SCHEMAS:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{tmp}/{t}.parquet/*.parquet'"
        )
    shared.clear(spark, "witness", "sig", "emb", "tok")
    yield tmp, con
    shared.clear(spark, "witness", "sig", "emb", "tok")


@pytest.mark.parametrize("name", EMPTY_OPS)
def test_empty_tables_parity(spark, degen_empty, name):
    tmp, con = degen_empty
    _compare(spark, tmp, con, name)
