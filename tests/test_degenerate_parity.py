"""Cross-engine parity on a PATHOLOGICAL corpus, for every registered
documents-only query.

The driver gate and tests/test_oracle_parity.py compare on well-formed
corpora; real 100 TB corpora always contain empty documents,
whitespace-only documents, and single-token documents.  Round 8's
degenerate sweep found nine latent divergences that only such rows
trigger (ANSI division-by-zero crashes, Spark-0.0 vs DuckDB-NULL,
round(-0.0) disagreement) — this file pins the whole class: EVERY
oracled query whose SQL references only the documents table must
produce byte-identical results on the degenerate corpus.

NOTE the compare COLLECTS both sides — `df.count()` would let Catalyst
prune the projected expressions, which is exactly why the original
degenerate non-crash tests missed the ANSI division errors.
"""

from __future__ import annotations

import datetime
import decimal
import re

import duckdb
import pytest

from helium_arango_etl_spark.registry import ORACLE, QUERIES

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

# empty text, single token, below shingle K, an exact-dup pair, and a
# whitespace-only doc (length > 0 but zero tokens — the row that
# separates the size(t)=0 and length(text)=0 guard branches)
DEGENERATE_ROWS = [
    (0, "", "en", "src0", 0),
    (1, "solo", "en", "src0", 4),
    (2, "a b", "en", "src1", 3),
    (3, "the quick brown fox jumps over it", "en", "src1", 33),
    (4, "the quick brown fox jumps over it", "en", "src2", 33),
    (5, "   ", "es", "src2", 3),
]

_OTHER_TABLES = re.compile(
    r"\b(events|orders|lineitem|customer|supplier|part|nation|region|embeddings)\b"
)

DOCS_ONLY_OPS = sorted(
    n for n, sql in ORACLE.items() if "documents" in sql and not _OTHER_TABLES.search(sql)
)


def _canon(v):
    if v is None:
        return "N"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _regen_seed_fixture(spark, tmp_path_factory, seed: int, degen: bool = False):
    """Regenerate the exact randomized-audit corpus for a pinned seed.

    The fixture dir comes from pytest's tmp_path_factory (unique per
    session) instead of a fixed shared path under <repo>/.tmp — two
    concurrent runs over the same checkout could race on the same
    parquet dir mid-overwrite (ADVICE r8).  Returns (tmp_dir, the
    loaded tools/random_audit module)."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "random_audit", os.path.join(repo, "tools", "random_audit.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    tmp = str(
        tmp_path_factory.mktemp(f"pin_seed{seed}{'_degen' if degen else ''}")
    )
    mod._gen(seed, tmp, spark, degen=degen)
    return tmp, mod


@pytest.fixture(scope="module")
def degen(spark, tmp_path_factory):
    from helium_arango_etl_spark import shared

    tmp = str(tmp_path_factory.mktemp("degen_parity"))
    spark.createDataFrame(DEGENERATE_ROWS, DOC_SCHEMA).write.mode("overwrite").parquet(
        tmp + "/documents.parquet"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp}/documents.parquet/*.parquet'"
    )
    shared.clear(spark, "sig", "tok")
    yield tmp, con
    shared.clear(spark, "sig", "tok")


def test_docs_only_op_inventory_is_substantial():
    # the sweep is only meaningful if it actually covers the text/dedup/
    # pipeline/multimodal families — guard against the filter regressing
    assert len(DOCS_ONLY_OPS) >= 100, len(DOCS_ONLY_OPS)


def _compare(spark, tmp, con, name):
    srows = sorted(
        tuple(_canon(v) for _, v in sorted(r.asDict().items()))
        for r in QUERIES[name](spark, tmp).collect()
    )
    cur = con.execute(ORACLE[name])
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    drows = sorted(tuple(_canon(r[i]) for i in order) for r in cur.fetchall())
    assert srows == drows, (
        f"{name}: spark {len(srows)} rows vs duckdb {len(drows)} rows; "
        f"first spark={srows[:2]} duck={drows[:2]}"
    )


@pytest.mark.parametrize("name", DOCS_ONLY_OPS)
def test_degenerate_corpus_parity(spark, degen, name):
    tmp, con = degen
    _compare(spark, tmp, con, name)


# ---------- degenerate EVENTS: the fact-table twin of the sweep ----------
#
# single-event users (lag -> NULL), identical timestamps (tie-breaks),
# zero-variance days, all-zero values (log/ratio paths), and a type with
# exactly one event (n-1 = 0 variance paths).  Round 8's events sweep
# found 12 latent defects here: ANSI division-by-zero in
# normalize_by_group_mean / gini / lorenz / welch / quantile_transform /
# xcorr (via corr_pair_expr) / holt / bootstrap / perm_test /
# chi2_adjusted_residuals, an out-of-bounds array index in the
# absorption folds, and a -0.0 sign flip in woe_encoding's iv_term.

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def _degenerate_events():
    import datetime as dt

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta
    return [
        (1000, t, 100, "purchase", 50.0, '{"k": 1}'),
        (1001, t, 101, "click", 10.0, '{"k": 2}'),
        (1002, t, 101, "view", 10.0, '{"k": 3}'),
        (1003, t + m(minutes=1), 102, "view", 7.0, '{"k": 4}'),
        (1004, t + m(minutes=2), 102, "view", 7.0, '{"k": 5}'),
        (1005, t + m(minutes=3), 102, "view", 7.0, '{"k": 6}'),
        (1006, t + m(hours=1), 103, "signup", 0.0, '{"k": 7}'),
        (1007, t + m(hours=2), 103, "purchase", 0.0, '{"k": 8}'),
        (1008, t + m(hours=3), 103, "error", 1.0, '{"k": 9}'),
    ]


_OTHER_THAN_EVENTS = re.compile(
    r"\b(documents|orders|lineitem|customer|supplier|part|nation|region|embeddings)\b"
)

EVENTS_ONLY_OPS = sorted(
    n
    for n, sql in ORACLE.items()
    if re.search(r"\bevents\b", sql) and not _OTHER_THAN_EVENTS.search(sql)
)


@pytest.fixture(scope="module")
def degen_events(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("degen_events"))
    spark.createDataFrame(_degenerate_events(), EVENT_SCHEMA).write.mode(
        "overwrite"
    ).parquet(tmp + "/events.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{tmp}/events.parquet/*.parquet'"
    )
    yield tmp, con


def test_events_only_op_inventory_is_substantial():
    assert len(EVENTS_ONLY_OPS) >= 100, len(EVENTS_ONLY_OPS)


@pytest.mark.parametrize("name", EVENTS_ONLY_OPS)
def test_degenerate_events_parity(spark, degen_events, name):
    tmp, con = degen_events
    _compare(spark, tmp, con, name)


# ---------- degenerate EMBEDDINGS ----------
#
# a ZERO vector (norm 0 -> every cosine against it is undefined; common
# in production as a padding/failed-encode artifact) plus an exact
# duplicate pair.  The corpus keeps >= 16 vectors because the PQ family
# trains its 16 codewords from the first 16 vec_ids — a corpus smaller
# than the codebook is a build-time precondition violation, not a data
# edge case (k-means with k > n fails the same way).  Round 8's sweep
# found 21 zero-norm crash sites (all cosine/scale divisions) plus two
# NULL-ordering divergences (Spark NULLS FIRST asc vs DuckDB NULLS LAST)
# in prototype_distances and mmr_rerank's candidate pools.

EMB_SCHEMA = "vec_id long, label string, embedding array<float>"


def _degenerate_embeddings():
    import random

    rng = random.Random(7)
    dim = 64
    rows = [
        (0, "a", [0.0] * dim),                    # the zero vector
        (1, "a", [1.0] + [0.0] * (dim - 1)),      # unit axis
        (2, "b", [1.0] + [0.0] * (dim - 1)),      # exact duplicate of 1
    ]
    for i in range(3, 20):
        rows.append(
            (i, "ab"[i % 2], [round(rng.uniform(-1, 1), 3) for _ in range(dim)])
        )
    return rows


_OTHER_THAN_EMB = re.compile(
    r"\b(documents|orders|lineitem|customer|supplier|part|nation|region|events)\b"
)

EMB_ONLY_OPS = sorted(
    n
    for n, sql in ORACLE.items()
    if re.search(r"\bembeddings\b", sql) and not _OTHER_THAN_EMB.search(sql)
)


@pytest.fixture(scope="module")
def degen_emb(spark, tmp_path_factory):
    from helium_arango_etl_spark import shared

    tmp = str(tmp_path_factory.mktemp("degen_emb"))
    spark.createDataFrame(_degenerate_embeddings(), EMB_SCHEMA).write.mode(
        "overwrite"
    ).parquet(tmp + "/embeddings.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp}/embeddings.parquet/*.parquet'"
    )
    shared.clear(spark, "emb")
    yield tmp, con
    shared.clear(spark, "emb")


def test_emb_only_op_inventory_is_substantial():
    assert len(EMB_ONLY_OPS) >= 30, len(EMB_ONLY_OPS)


@pytest.mark.parametrize("name", EMB_ONLY_OPS)
def test_degenerate_embeddings_parity(spark, degen_emb, name):
    tmp, con = degen_emb
    _compare(spark, tmp, con, name)


# ---------- degenerate ORDERS/LINEITEM ----------
#
# a single-day grid (no trend pairs, no variance across days), constant
# prices (zero IQR/variance), a zero-price order (no log feature), a
# zero-quantity line (no unit price), and a priority class with one
# order.  Round 8's sweep found 9 defects: ANSI division-by-zero in
# gumbel / weekday_anova / price_histogram / ols_residual_diagnostics /
# the shared JB skew-kurtosis strings / weighted_median's unit-price
# division, a Spark-1-row-vs-DuckDB-0-row divergence in theilsen, and a
# DuckDB ln(0) error in logistic_price_model's log-price feature.

O_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
L_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
    " l_quantity double, l_extendedprice double, l_discount double,"
    " l_tax double, l_returnflag string, l_linestatus string,"
    " l_shipdate timestamp"
)


def _degenerate_orders_lineitem():
    import datetime as dt

    d = dt.datetime(1997, 1, 15)
    orders = [
        (0, 85, "F", 100.0, d, "3-MEDIUM"),
        (1, 85, "O", 100.0, d, "3-MEDIUM"),
        (2, 85, "F", 100.0, d, "3-MEDIUM"),
        (3, 86, "F", 0.0, d, "1-URGENT"),
        (4, 86, "O", 100.0, d, "2-HIGH"),
    ]
    lineitem = [
        (0, 101, 9, 1, 0.0, 0.0, 0.0, 0.0, "N", "O", d),
        (0, 102, 9, 2, 1.0, 50.0, 0.0, 0.0, "N", "O", d),
        (1, 101, 9, 1, 1.0, 50.0, 0.5, 0.0, "R", "F", d),
        (2, 103, 8, 1, 2.0, 100.0, 0.0, 0.0, "A", "F", d),
        (3, 101, 8, 1, 1.0, 0.0, 0.0, 0.0, "N", "O", d),
    ]
    return orders, lineitem


_OTHER_THAN_OLI = re.compile(
    r"\b(documents|events|customer|supplier|part|nation|region|embeddings)\b"
)

OLI_ONLY_OPS = sorted(
    n
    for n, sql in ORACLE.items()
    if (re.search(r"\borders\b", sql) or re.search(r"\blineitem\b", sql))
    and not _OTHER_THAN_OLI.search(sql)
    # the raw-SQL surface (A2) registers EVERY table as a temp view by
    # design, so it cannot run against a two-table fixture
    and n != "sql_rewards_summary"
)


@pytest.fixture(scope="module")
def degen_oli(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("degen_oli"))
    orders, lineitem = _degenerate_orders_lineitem()
    spark.createDataFrame(orders, O_SCHEMA).write.mode("overwrite").parquet(
        tmp + "/orders.parquet"
    )
    spark.createDataFrame(lineitem, L_SCHEMA).write.mode("overwrite").parquet(
        tmp + "/lineitem.parquet"
    )
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{tmp}/{t}.parquet/*.parquet'"
        )
    yield tmp, con


def test_oli_only_op_inventory_is_substantial():
    assert len(OLI_ONLY_OPS) >= 50, len(OLI_ONLY_OPS)


@pytest.mark.parametrize("name", OLI_ONLY_OPS)
def test_degenerate_orders_lineitem_parity(spark, degen_oli, name):
    tmp, con = degen_oli
    _compare(spark, tmp, con, name)


# ---------- degenerate MULTI-TABLE (combined fixture) ----------
#
# every remaining oracled query (the witness-graph family and other
# cross-family joins) runs against a combined minimal fixture: one
# region/nation, 3 suppliers (one with no valid witness edges), 3
# customers (one zero-balance), a zero-quantity and an invalid ('R')
# lineitem, a zero-price order, plus the family degenerate tables.
# Round 8's sweep found 6 defects here: unit-price ANSI divisions in
# ols_price_model / spearman_price_qty, log-of-zero in
# price_elasticity, zero-negative-set bloom fp_rate, single-category
# Cramer's V, and zero-entropy normalized mutual information.

def _combined_fixture(spark, tmp):
    import datetime as dt
    import random

    d = dt.datetime(1997, 1, 15)
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    rng = random.Random(7)
    spark.createDataFrame([(0, "AFRICA")], "r_regionkey int, r_name string").write.parquet(tmp + "/region.parquet")
    spark.createDataFrame(
        [(0, "NATION_0", 0)], "n_nationkey int, n_name string, n_regionkey int"
    ).write.parquet(tmp + "/nation.parquet")
    spark.createDataFrame(
        [(i, f"Customer#{i}", 0, 0.0 if i == 0 else 100.0, "FURNITURE") for i in range(3)],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).write.parquet(tmp + "/customer.parquet")
    spark.createDataFrame(
        [(i, f"Supplier#{i}", 0, 50.0) for i in range(3)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).write.parquet(tmp + "/supplier.parquet")
    spark.createDataFrame(
        [(0, "cold widget", "Brand#13", "ECONOMY", 24, 900.0),
         (1, "hot gear", "Brand#13", "ECONOMY", 0, 0.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    ).write.parquet(tmp + "/part.parquet")
    spark.createDataFrame(
        [(0, 0, "F", 100.0, d, "3-MEDIUM"), (1, 1, "O", 100.0, d, "3-MEDIUM"),
         (2, 2, "F", 0.0, d, "1-URGENT"), (3, 0, "O", 100.0, d, "2-HIGH")],
        O_SCHEMA,
    ).write.parquet(tmp + "/orders.parquet")
    spark.createDataFrame(
        [(0, 0, 0, 1, 1.0, 50.0, 0.0, 0.0, "N", "O", d),
         (1, 0, 0, 1, 0.0, 0.0, 0.0, 0.0, "N", "O", d),
         (0, 1, 1, 2, 1.0, 60.0, 0.0, 0.0, "N", "O", d),
         (2, 0, 2, 1, 2.0, 70.0, 0.5, 0.0, "R", "F", d),
         (3, 1, 1, 1, 1.0, 80.0, 0.0, 0.0, "N", "O", d)],
        L_SCHEMA,
    ).write.parquet(tmp + "/lineitem.parquet")
    spark.createDataFrame(
        [(1000, t, 100, "purchase", 50.0, '{"k": 1}'),
         (1001, t, 101, "click", 10.0, '{"k": 2}'),
         (1002, t, 101, "view", 10.0, '{"k": 3}'),
         (1006, t + dt.timedelta(hours=1), 103, "signup", 0.0, '{"k": 7}'),
         (1008, t + dt.timedelta(hours=3), 103, "error", 1.0, '{"k": 9}')],
        EVENT_SCHEMA,
    ).write.parquet(tmp + "/events.parquet")
    spark.createDataFrame(
        [(0, "", "en", "src0", 0), (1, "solo", "en", "src0", 4),
         (3, "the quick brown fox jumps over it", "en", "src1", 33),
         (4, "the quick brown fox jumps over it", "en", "src2", 33),
         (5, "   ", "es", "src2", 3)],
        DOC_SCHEMA,
    ).write.parquet(tmp + "/documents.parquet")
    emb = [(0, "a", [0.0] * 64)] + [
        (i, "ab"[i % 2], [round(rng.uniform(-1, 1), 3) for _ in range(64)])
        for i in range(1, 20)
    ]
    spark.createDataFrame(emb, EMB_SCHEMA).write.parquet(tmp + "/embeddings.parquet")


MULTI_TABLE_OPS = sorted(
    set(ORACLE) - set(DOCS_ONLY_OPS) - set(EVENTS_ONLY_OPS)
    - set(EMB_ONLY_OPS) - set(OLI_ONLY_OPS) - {"sql_rewards_summary"}
)


@pytest.fixture(scope="module")
def degen_all(spark, tmp_path_factory):
    from helium_arango_etl_spark import shared

    tmp = str(tmp_path_factory.mktemp("degen_all"))
    _combined_fixture(spark, tmp)
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events"
        " documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{tmp}/{t}.parquet/*.parquet'"
        )
    shared.clear(spark, "witness", "sig", "emb", "tok")
    yield tmp, con
    shared.clear(spark, "witness", "sig", "emb", "tok")


def test_multi_table_inventory_covers_the_rest():
    # the five sections together must cover every oracled query except
    # the raw-SQL surface
    assert len(MULTI_TABLE_OPS) >= 70, len(MULTI_TABLE_OPS)
    total = (
        len(DOCS_ONLY_OPS) + len(EVENTS_ONLY_OPS) + len(EMB_ONLY_OPS)
        + len(OLI_ONLY_OPS) + len(MULTI_TABLE_OPS) + 1  # + sql_rewards_summary
    )
    assert total == len(ORACLE), (total, len(ORACLE))


@pytest.mark.parametrize("name", MULTI_TABLE_OPS)
def test_degenerate_multi_table_parity(spark, degen_all, name):
    tmp, con = degen_all
    _compare(spark, tmp, con, name)


# ---------- tiny-vocabulary BPE regression ----------
#
# Spark's sequence(1, 0) is a DESCENDING [1, 0] (step defaults to -1
# when start > stop), so the BPE pair generation crashed with an ANSI
# element_at(t, 0) the moment any word fully merged to one symbol --
# guaranteed on a small vocabulary within the merge budget, and latent
# on any corpus where a frequent short word finishes merging.  Found by
# the round-8 randomized parity audit (three seeds, 253 ops each, this
# was the only failure).

def test_intraday_timestamps_and_singleton_nations(spark, tmp_path_factory):
    """Pin the two defects the round-8 randomized MULTI-TABLE audit
    found (tools/random_audit.py, seeds 11-15, 387 ops each):

    - binseg_changepoints' oracle grouped its daily series BY THE RAW
      o_orderdate TIMESTAMP while Spark groups by calendar day —
      equivalent only on midnight-aligned testdata, divergent the
      moment orders carry a time of day (every real corpus).
    - atkinson_index: a single-customer nation makes geo/mean land an
      ulp above 1, so the rounded index is IEEE ±0.0 — Spark's
      BigDecimal round strips the sign, DuckDB keeps -0.0.
    """
    import datetime as dt

    import duckdb

    tmp = str(tmp_path_factory.mktemp("intraday"))
    orders = [
        # two intra-day timestamps on the SAME calendar day (the binseg
        # trap), plus enough days for a depth-2 segmentation
        (0, 0, "F", 100.0, dt.datetime(1997, 1, 15, 9, 30, 11), "3-MEDIUM"),
        (1, 0, "O", 200.0, dt.datetime(1997, 1, 15, 17, 5, 2), "3-MEDIUM"),
        (2, 1, "F", 300.0, dt.datetime(1997, 1, 16, 8, 0, 59), "1-URGENT"),
        (3, 1, "O", 400.0, dt.datetime(1997, 1, 17, 23, 59, 59), "2-HIGH"),
        (4, 1, "F", 500.0, dt.datetime(1997, 1, 18, 12, 0, 0), "2-HIGH"),
        (5, 2, "O", 129838.27, dt.datetime(1997, 1, 19, 1, 2, 3), "5-LOW"),
    ]
    customer = [
        # nation 7 has exactly ONE customer (the atkinson ±0.0 trap)
        (0, "Customer#0", 3, 10.0, "BUILDING"),
        (1, "Customer#1", 3, 20.0, "MACHINERY"),
        (2, "Customer#2", 7, 30.0, "BUILDING"),
    ]
    spark.createDataFrame(orders, O_SCHEMA).write.parquet(tmp + "/orders.parquet")
    spark.createDataFrame(
        customer,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    ).write.parquet(tmp + "/customer.parquet")
    con = duckdb.connect()
    for t in ("orders", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{tmp}/{t}.parquet/*.parquet'"
        )
    for name in ("binseg_changepoints", "atkinson_index"):
        _compare(spark, tmp, con, name)


def test_total_churn_offset_zeroes_survival(spark, tmp_path_factory):
    """Pin the seed-17 randomized-audit find: an offset where EVERY
    remaining user churns (d = n_at_risk) makes the Kaplan-Meier factor
    exactly 0 — DuckDB raised on ln(0) and Spark's null-skipping window
    sum silently dropped the -inf term (survival stayed > 0 past total
    churn).  Both sides now clamp survival to 0 from that offset on."""
    import datetime as dt

    import duckdb

    tmp = str(tmp_path_factory.mktemp("total_churn"))
    d0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        # u1 lives day0..day8 and churns (corpus ends day9): at its
        # offset 8 it is the ONLY user at risk -> d = n_at_risk = 1
        (0, d0, 1, "click", 1.0, "{}"),
        (1, d0 + dt.timedelta(days=8), 1, "view", 2.0, "{}"),
        # u2's single event ON the corpus end day -> censored, offset 0
        (2, d0 + dt.timedelta(days=9), 2, "click", 3.0, "{}"),
    ]
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(tmp + "/events.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp}/events.parquet/*.parquet'"
    )
    _compare(spark, tmp, con, "retention_survival")
    surv = {
        r["day_offset"]: r["survival"]
        for r in QUERIES["retention_survival"](spark, tmp).collect()
    }
    assert surv[8] == 0.0, surv


def test_brown_forsythe_round_half_boundary(spark, tmp_path_factory):
    """Pin the seed-16 randomized-audit find: ss_between's fresh
    fractional round(x, 6) landed on a .5 half boundary the two engines
    resolve differently (Spark BigDecimal saw ...87049..., DuckDB's
    scaled round saw ...8705) — both sides now quantize via
    round-to-integer of the 1e6-scaled double.  Regenerates the exact
    seed-16 events fixture from the checked-in audit tool."""
    import duckdb

    tmp, _ = _regen_seed_fixture(spark, tmp_path_factory, 16)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp}/events.parquet/*.parquet'"
    )
    _compare(spark, tmp, con, "brown_forsythe_levene")


def test_seed21_power_of_two_group_means(spark, tmp_path_factory):
    """Pin the seed-21 randomized-audit find: a 32-event purchase group
    put Σcents/n on an exact .5 at the 6th decimal (power-of-two group
    sizes divide exactly in binary), and the fresh round(x, 6) in
    bootstrap_ci / winsorized_mean_by_type resolved the half differently
    per engine — both now round the 1e4-scaled cent sum to an integer."""
    import duckdb

    tmp, _ = _regen_seed_fixture(spark, tmp_path_factory, 21)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp}/events.parquet/*.parquet'"
    )
    for name in ("bootstrap_ci", "winsorized_mean_by_type"):
        _compare(spark, tmp, con, name)


def test_degen_seed33_embedding_norms(spark, tmp_path_factory):
    """Pin the seed-33 --degen audit find: re-rounding a 6dp-quantized
    l2 norm at 4dp lands on .5 halves at the 5th digit (the COVERAGE
    rule's blind spot: 'already-quantized' is only safe at the SAME
    precision).  embedding_norms now carries integer-micro norms
    end-to-end and rounds the integer for the 4dp surface."""
    import duckdb

    tmp, _ = _regen_seed_fixture(spark, tmp_path_factory, 33, degen=True)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp}/embeddings.parquet/*.parquet'"
    )
    _compare(spark, tmp, con, "embedding_norms")


def test_seed25_silhouette_and_seed34_zero_centroid(spark, tmp_path_factory):
    """Pin two more randomized-audit finds:

    - seed 25: simplified_silhouette's mean over a 4-member cluster put
      Σmicro/n on an exact .5 half — now rounds the integer division.
    - seed 34 --degen: a label whose components sum to the zero vector
      (a zero-embedding singleton label) made label_centroid_cosine an
      ANSI divide-by-zero JOB KILLER on Spark and a DuckDB error — both
      now probe the exact-integer norm and NULL out, the shared-COSINE
      convention.
    """
    import duckdb

    for seed, degen, names in (
        (25, False, ("simplified_silhouette",)),
        (34, True, ("label_centroid_cosine", "simplified_silhouette")),
    ):
        tmp, _ = _regen_seed_fixture(spark, tmp_path_factory, seed, degen=degen)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"'{tmp}/embeddings.parquet/*.parquet'"
        )
        from helium_arango_etl_spark import shared

        for name in names:
            shared.clear(spark, "emb")
            _compare(spark, tmp, con, name)
        shared.clear(spark, "emb")


def test_degen_seed41_celebrity_binds_cap_cross_engine(spark, tmp_path_factory):
    """The --degen fixture embeds a CELEBRITY WITNESS (one customer with
    valid lines from 12 same-nation suppliers, fan-in 12 >
    CO_WITNESS_MAX_GROUP=8), so the co-witness cap BINDS on random data
    — and every capped graph twin still matches its cap-folded DuckDB
    oracle byte-for-byte.  The crafted celebrity fixture asserts
    boundedness; this asserts cross-engine cap SEMANTICS on a random
    graph."""
    import duckdb

    from helium_arango_etl_spark import shared

    tmp, mod = _regen_seed_fixture(spark, tmp_path_factory, 41, degen=True)
    con = duckdb.connect()
    for t in mod.tables_list():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{tmp}/{t}.parquet/*.parquet'"
        )
    shared.clear(spark, "witness")
    try:
        exact = QUERIES["co_witness_pairs"](spark, tmp).count()
        capped = QUERIES["co_witness_pairs_capped"](spark, tmp).count()
        assert capped < exact, (exact, capped)  # the cap must actually bind
        for name in (
            "co_witness_pairs_capped",
            "co_witness_bucket_stats",
            "neighborhood_jaccard_capped",
            "butterfly_stats_capped",
            "rich_club_coefficient_capped",
            "adamic_adar_scores_capped",
            "local_clustering_coeff_capped",
            "ktruss_edges_capped",
            "co_witness_recommendations_capped",
            "tip_decomposition_capped",
            # round-9 twins: the family is now closed 13/13
            "city_triangle_stats_capped",
            "degree_assortativity_capped",
            "contrastive_pairs_capped",
            "city_transitivity_capped",
            "cowitness_lift_capped",
        ):
            _compare(spark, tmp, con, name)
    finally:
        shared.clear(spark, "witness")


def test_degen_seed46_dim_stats_propagation(spark, tmp_path_factory):
    """Pin the seed-46 --degen find: a 32-vector corpus (power-of-two n)
    landed embedding_dim_stats' mean on an exact .5 micro, and the
    divergence PROPAGATED into embedding_whiten_audit through the
    published stats (8 of 32 rows).  Both stats surfaces now round the
    scaled integer division; the whiten audit is pinned alongside to
    guard the propagation path."""
    import duckdb

    from helium_arango_etl_spark import shared

    tmp, _ = _regen_seed_fixture(spark, tmp_path_factory, 46, degen=True)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp}/embeddings.parquet/*.parquet'"
    )
    try:
        for name in ("embedding_dim_stats", "embedding_whiten_audit"):
            shared.clear(spark, "emb")
            _compare(spark, tmp, con, name)
    finally:
        shared.clear(spark, "emb")


def test_degen_seed31_theil_and_hurst(spark, tmp_path_factory):
    """Pin the two --degen randomized-audit finds (random corpus WITH
    the pathological rows embedded; tools/random_audit.py seed 31):

    - theil_index: the single-customer ±0.0 class again (quantized
      log-sum an ulp under the fresh ln term) — post-round normalize,
      the atkinson convention.
    - hurst_rs_daily: avg_rs was a fresh fractional round(x, 6) and the
      degen corpus landed rs_sum_micro/n_chunks on an exact .5 micro —
      now quantized by rounding at the micro scale.
    """
    import duckdb

    tmp, _ = _regen_seed_fixture(spark, tmp_path_factory, 31, degen=True)
    con = duckdb.connect()
    for t in ("orders", "customer", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{tmp}/{t}.parquet/*.parquet'"
        )
    for name in ("theil_index", "hurst_rs_daily"):
        _compare(spark, tmp, con, name)


def test_degen_seed66_decimal_literal_division_constants(spark, tmp_path_factory):
    """Pin the seed-66 --degen find (round 9): a fractional constant
    written as LITERAL/LITERAL inside Spark SQL is DECIMAL division —
    quantized to 6 fractional digits before any enclosing sqrt/ln —
    while DuckDB's literal division is double-precision.

    - ewma_daily_counts: `sqrt(0.2 / 1.8) * 3` made band_micro 999999 vs
      the double's 1000000; seed 66's 'error' type has a perfect-square
      variance (14·70−28² = 196) putting the first observation EXACTLY on
      μ−band, so the alarm flipped.  Fixed by folding the constant once
      in Python (rangeops.EWMA_BAND_SCALE) and sharing it verbatim with
      the oracle.
    - sprt_monitor: the same class LATENT — Spark's ln(1.0/19.0) read
      −2944431 micro vs the double's −2944439, a decision flip for any
      cum_llr in the 8-micro gap (never yet hit by a fixture).  Bounds
      now folded to integers in Python (SPRT_A_MICRO/SPRT_B_MICRO) and
      shared.  The boundary itself is asserted below so the constants
      cannot silently drift apart again."""
    import math

    import duckdb

    from helium_arango_etl_spark.operators.rangeops import (
        EWMA_BAND_SCALE,
        SPRT_A_MICRO,
        SPRT_B_MICRO,
    )

    assert EWMA_BAND_SCALE == 3.0 * math.sqrt(0.2 / 1.8)
    # ADVICE r9: 3·√(λ/(2−λ)) with λ=0.2 is EXACTLY 1.0 in IEEE doubles
    # (0.2/1.8 = 1/9 rounds to a value whose sqrt·3 folds to 1.0), so the
    # line above alone would still pass if a lambda edit changed the
    # value — pin the literal so any such edit is caught explicitly.
    assert EWMA_BAND_SCALE == 1.0
    assert SPRT_B_MICRO == -2944439 and SPRT_A_MICRO == 2944439

    tmp, _ = _regen_seed_fixture(spark, tmp_path_factory, 66, degen=True)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp}/events.parquet/*.parquet'"
    )
    # the fixture must still exercise the boundary: a perfect-square
    # variance numerator for at least one event type (else the pin is vacuous)
    sq = con.execute(
        """
        WITH daily AS (
          SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2)
        SELECT count(*) FROM (
          SELECT count(*) * sum(n * n) - sum(n) * sum(n) AS v
          FROM daily GROUP BY event_type)
        WHERE CAST(sqrt(CAST(v AS DOUBLE)) AS BIGINT)
              * CAST(sqrt(CAST(v AS DOUBLE)) AS BIGINT) = v
        """
    ).fetchone()[0]
    assert sq >= 1, "seed-66 fixture no longer has a perfect-square variance"
    # ADVICE r9: the perfect square alone doesn't prove the ALARM boundary
    # is exercised — also require an observation landing exactly on μ−band
    # at micro precision (n·1e6 == mu_micro − band_micro), mirroring the
    # original divergence where the off-by-one band flipped the alarm.
    boundary = con.execute(
        f"""
        WITH daily AS (
          SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        stats AS (
          SELECT event_type,
                 CAST(round(sum(n) * 1000000.0 / count(*)) AS BIGINT)
                     AS mu_micro,
                 CAST(round(sqrt(CAST(count(*) * sum(n * n) - sum(n) * sum(n)
                      AS DOUBLE)) / count(*) * 1000000
                      * CAST({EWMA_BAND_SCALE!r} AS DOUBLE)) AS BIGINT)
                     AS band_micro
          FROM daily GROUP BY event_type)
        SELECT count(*) FROM daily JOIN stats USING (event_type)
        WHERE n * 1000000 = mu_micro - band_micro
        """
    ).fetchone()[0]
    assert boundary >= 1, (
        "seed-66 fixture no longer has an observation exactly on mu-band"
    )
    for name in ("ewma_daily_counts", "sprt_monitor"):
        _compare(spark, tmp, con, name)


def test_degen_seed87_gini_threshold_half_cent(spark, tmp_path_factory):
    """Pin the seed-87 --degen audit find (round 10): best_gini_split's
    winning threshold is a percentile midpoint over integer cents, so it
    lands on an EXACT .5 cents whenever the interpolation fraction is a
    half — and the fresh round(thr/100.0, 2) resolved it differently per
    engine (Spark's shortest-repr HALF_UP: 2135.305 → 2135.31; DuckDB's
    binary round: 2135.30499… → 2135.3).  Both sides now round at the
    INTEGER cents scale, where exact halves are exactly representable
    and both engines round them away from zero identically."""
    import duckdb

    tmp, _ = _regen_seed_fixture(spark, tmp_path_factory, 87, degen=True)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{tmp}/orders.parquet/*.parquet'"
    )
    # the fixture must still exercise the boundary: the winning
    # candidate's RAW thr (pre-round percentile midpoint) sits on an
    # exact .5 cents half (else the pin is vacuous)
    from helium_arango_etl_spark.operators.mlstats import GINI_N_CANDIDATES
    from helium_arango_etl_spark.registry import QUERIES

    idx = QUERIES["best_gini_split"](spark, tmp).collect()[0]["candidate_idx"]
    k = GINI_N_CANDIDATES
    qs = ", ".join(str(i / (k + 1)) for i in range(1, k + 1))
    thr = con.execute(
        f"""
        WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
                   FROM orders)
        SELECT (quantile_cont(v, [{qs}]))[{idx}] FROM o
        """
    ).fetchone()[0]
    assert thr % 1 == 0.5, f"winning thr {thr} no longer on a half cent"
    _compare(spark, tmp, con, "best_gini_split")
    """Round-10 oracle-side sweep find (the seed-66 literal/literal
    class, latent): Benford expectations written as `log10(1 + 1.0/d)`
    in SQL were DECIMAL division on Spark vs double on DuckDB.  Both
    engines now share rangeops.BENFORD_EXP_MICRO, pinned here by literal
    value (the EWMA_BAND_SCALE discipline) so a drift is caught
    explicitly; the sum sanity check guards against a fat-finger edit
    (the nine shares must cover ~100% minus rounding)."""
    from helium_arango_etl_spark.operators.rangeops import BENFORD_EXP_MICRO

    assert BENFORD_EXP_MICRO == {
        1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
        6: 66947, 7: 57992, 8: 51153, 9: 45757,
    }
    assert abs(sum(BENFORD_EXP_MICRO.values()) - 1_000_000) <= 5
    # and the oracle-side CASE embeds the same folded ints
    from helium_arango_etl_spark.registry import ORACLE

    for d, m in BENFORD_EXP_MICRO.items():
        assert f"WHEN {d} THEN CAST({m} AS BIGINT)" in ORACLE["benford_audit"]


def test_bpe_survives_fully_merged_words(spark, tmp_path_factory):
    import duckdb

    from helium_arango_etl_spark import shared

    tmp = str(tmp_path_factory.mktemp("bpe_tiny"))
    # two-char words merge to a single symbol on their first rule
    rows = [
        (0, "ab ab ab ab cd cd cd xyz xyz", "en", "src0", 29),
        (1, "ab cd xyz xyz xyz", "en", "src1", 17),
    ]
    spark.createDataFrame(rows, DOC_SCHEMA).write.parquet(tmp + "/documents.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp}/documents.parquet/*.parquet'"
    )
    shared.clear(spark, "tok")
    try:
        for name in ("bpe_merge_rules", "bpe_encode_stats"):
            _compare(spark, tmp, con, name)
    finally:
        shared.clear(spark, "tok")
