"""Round-8 operator invariants (sweep-line concurrency, Granger lag-1,
Brown–Forsythe, compaction shards).

Oracle parity (tests/test_oracle_parity.py) pins value equality; these
pin the SEMANTICS against independent numpy/pure-python recomputes and
structural invariants.
"""

from __future__ import annotations

import duckdb
import numpy as np

from helium_arango_etl_spark.registry import QUERIES


def _daily_counts(sf_dir):
    rows = duckdb.sql(
        f"""SELECT CAST(ts AS DATE) AS d,
                   sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS buy,
                   sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS clk
            FROM '{sf_dir}/events.parquet' GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    days = [r[0] for r in rows]
    spine = {days[0] + __import__("datetime").timedelta(days=i): (0, 0)
             for i in range((days[-1] - days[0]).days + 1)}
    for d, b, c in rows:
        spine[d] = (int(b), int(c))
    ordered = [spine[k] for k in sorted(spine)]
    buy = np.array([b for b, _ in ordered], dtype=float)
    clk = np.array([c for _, c in ordered], dtype=float)
    return buy, clk


def test_granger_matches_numpy_ols(spark, sf_dir):
    buy, clk = _daily_counts(sf_dir)
    y, u, v = buy[1:], buy[:-1], clk[:-1]
    n = len(y)

    def sse(X):
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        r = y - X @ beta
        return float(r @ r)

    ones = np.ones_like(y)
    sse_r = sse(np.column_stack([ones, u]))
    sse_u = sse(np.column_stack([ones, u, v]))
    f_ref = (sse_r - sse_u) / (sse_u / (n - 3))

    row = QUERIES["granger_lag1_daily"](spark, sf_dir).collect()[0]
    assert row["n_obs"] == n
    assert abs(row["sse_restricted"] - sse_r) < 1e-3 * max(1.0, sse_r)
    assert abs(row["sse_unrestricted"] - sse_u) < 1e-3 * max(1.0, sse_u)
    assert abs(row["f_granger"] - f_ref) < 1e-2 * max(1.0, abs(f_ref))


def test_brown_forsythe_matches_numpy(spark, sf_dir):
    vals = duckdb.sql(
        f"""SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c
            FROM '{sf_dir}/events.parquet' WHERE value IS NOT NULL"""
    ).fetchall()
    groups: dict[str, list[int]] = {}
    for t, c in vals:
        groups.setdefault(t, []).append(int(c))
    zs = []
    for t, cs in groups.items():
        cs.sort()
        n = len(cs)
        med2 = cs[(n + 1) // 2 - 1] + cs[(n + 2) // 2 - 1]
        zs.append(np.array([abs(2 * c - med2) for c in cs], dtype=float))
    k = len(zs)
    n_tot = sum(len(z) for z in zs)
    grand = np.concatenate(zs).mean()
    between = sum(len(z) * (z.mean() - grand) ** 2 for z in zs)
    within = sum(((z - z.mean()) ** 2).sum() for z in zs)
    w_ref = (between / (k - 1)) / (within / (n_tot - k))

    row = QUERIES["brown_forsythe_levene"](spark, sf_dir).collect()[0]
    assert row["k_groups"] == k
    assert row["n_obs"] == n_tot
    assert abs(row["w_stat"] - w_ref) < 1e-3 * max(1.0, w_ref)


def test_peak_concurrency_brute_force(spark, sf_dir):
    """Sweep-line peak per day must equal the brute-force maximum over
    boundary instants of 'sessions open at that instant' (closed
    intervals [s, e]: zero-duration sessions register, and a session
    ending exactly as another starts overlaps it momentarily)."""
    rows = QUERIES["peak_concurrency"](spark, sf_dir).collect()
    got = {r["day"]: r["peak_concurrency"] for r in rows}

    sess = duckdb.sql(
        f"""WITH g AS (
              SELECT user_id, ts,
                     epoch_us(ts) - lag(epoch_us(ts)) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM '{sf_dir}/events.parquet'
            ), s AS (
              SELECT user_id,
                     sum(CASE WHEN gap IS NULL OR gap > 1800000000
                              THEN 1 ELSE 0 END)
                         OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS idx,
                     epoch_us(ts) AS us
              FROM g
            )
            SELECT min(us), max(us) FROM s GROUP BY user_id, idx"""
    ).fetchall()
    import datetime

    # concurrency only changes at boundaries; intervals are CLOSED
    # [s, e] (the operator's contract), so the max is attained at some
    # session start — probe each
    days: dict[datetime.date, int] = {}
    starts = sorted(s for s, _ in sess)
    for probe in starts:
        c = sum(1 for s, e in sess if s <= probe <= e)
        d = datetime.datetime.fromtimestamp(
            probe / 1e6, tz=datetime.timezone.utc
        ).date()
        days[d] = max(days.get(d, 0), c)
    # the peak can also sit at midnight (carried sessions ending before
    # the day's first start) — probe each reported day's first instant
    for d in got:
        midnight = int(
            datetime.datetime.combine(
                d, datetime.time.min, tzinfo=datetime.timezone.utc
            ).timestamp()
            * 1_000_000
        )
        c0 = sum(1 for s, e in sess if s < midnight <= e)
        days[d] = max(days.get(d, 0), c0)
    for d, c in days.items():
        assert got[d] == c, (d, c, got[d])

    # invariant: peaks are positive and bounded by sessions touching the day
    for r in rows:
        assert r["peak_concurrency"] >= r["carry_in"]
        assert r["peak_concurrency"] >= 1


def test_compaction_shards_invariants(spark, sf_dir):
    """Within every source: shards partition the docs contiguously by
    doc_id, every shard except possibly the last reaches the target once
    its first doc's offset is included, and byte totals reconcile."""
    from helium_arango_etl_spark.operators.pipeline import TARGET_SHARD_BYTES

    rows = QUERIES["compaction_shards"](spark, sf_dir).collect()
    total = duckdb.sql(
        f"SELECT source, count(*), sum(length(text)) FROM '{sf_dir}/documents.parquet' GROUP BY source"
    ).fetchall()
    per_src = {s: (int(n), int(b)) for s, n, b in total}

    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, shards in by_src.items():
        shards.sort(key=lambda r: r["shard_idx"])
        n, b = per_src[src]
        assert sum(r["n_docs"] for r in shards) == n
        assert sum(r["shard_bytes"] for r in shards) == b
        # contiguity: doc ranges never interleave across shards
        for a, c in zip(shards, shards[1:]):
            assert a["last_doc"] < c["first_doc"]
        # shard indices are the offset chunks: cumulative bytes before a
        # shard's first doc must land inside its index's byte range
        cum = 0
        for r in shards:
            assert cum // TARGET_SHARD_BYTES == r["shard_idx"]
            cum += r["shard_bytes"]


def test_yule_k_matches_pure_python(spark, sf_dir):
    rows = QUERIES["yule_k"](spark, sf_dir).collect()
    docs = duckdb.sql(
        f"SELECT source, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    from collections import Counter

    per_src: dict[str, Counter] = {}
    for src, text in docs:
        per_src.setdefault(src, Counter()).update(
            t for t in text.split(" ") if t
        )
    for r in rows:
        cnt = per_src[r["source"]]
        n = sum(cnt.values())
        s2 = sum(m * m for m in cnt.values())
        assert r["n_tokens"] == n
        assert r["n_types"] == len(cnt)
        k_ref = 1e4 * (s2 - n) / (n * n)
        assert abs(r["yule_k"] - k_ref) < 1e-4, r["source"]


def test_winsorized_mean_matches_numpy(spark, sf_dir):
    rows = QUERIES["winsorized_mean_by_type"](spark, sf_dir).collect()
    vals = duckdb.sql(
        f"""SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c
            FROM '{sf_dir}/events.parquet' WHERE value IS NOT NULL"""
    ).fetchall()
    groups: dict[str, list[int]] = {}
    for t, c in vals:
        groups.setdefault(t, []).append(int(c))
    for r in rows:
        cs = sorted(groups[r["event_type"]])
        n = len(cs)
        lo = cs[max(1, -(-n * 5 // 100)) - 1]
        hi = cs[-(-n * 95 // 100) - 1]
        assert r["lo_cents"] == lo and r["hi_cents"] == hi, r["event_type"]
        wm = sum(min(max(c, lo), hi) for c in cs) / n / 100.0
        assert abs(r["winsorized_mean"] - wm) < 1e-6
        # winsorizing pulls the mean toward the center, never past the fences
        assert lo / 100.0 <= r["winsorized_mean"] <= hi / 100.0


def test_hurst_rs_matches_pure_python(spark, sf_dir):
    from helium_arango_etl_spark.operators.rangeops import HURST_WINDOWS

    buy, clk = _daily_counts(sf_dir)
    x = buy + clk  # not the same series; recompute from scratch instead
    rows_all = duckdb.sql(
        f"""SELECT CAST(ts AS DATE) AS d, count(*) AS n
            FROM '{sf_dir}/events.parquet' GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    import datetime

    d0, d1 = rows_all[0][0], rows_all[-1][0]
    by_day = {d: int(n) for d, n in rows_all}
    series = [
        by_day.get(d0 + datetime.timedelta(days=i), 0)
        for i in range((d1 - d0).days + 1)
    ]

    def rs_avg(w):
        chunks = [
            series[i : i + w]
            for i in range(0, len(series) - w + 1, w)
        ]
        chunks = [c for c in chunks if len(c) == w]
        vals = []
        for c in chunks:
            mu = sum(c) / w
            z, lo, hi, cum = 0.0, 0.0, 0.0, 0.0
            for v in c:
                cum += v - mu
                lo, hi = min(lo, cum), max(hi, cum)
            r = hi - lo
            s = (sum(v * v for v in c) / w - mu * mu) ** 0.5
            vals.append(r / s)
        return len(chunks), sum(vals) / len(vals)

    got = {r["window_size"]: r for r in QUERIES["hurst_rs_daily"](spark, sf_dir).collect()}
    import math

    pts = []
    for w in HURST_WINDOWS:
        n_chunks, avg = rs_avg(w)
        assert got[w]["n_chunks"] == n_chunks, w
        assert abs(got[w]["avg_rs"] - avg) < 1e-4, w
        pts.append((math.log(w), math.log(avg)))
    mx = sum(p[0] for p in pts) / len(pts)
    my = sum(p[1] for p in pts) / len(pts)
    slope = sum((a - mx) * (b - my) for a, b in pts) / sum(
        (a - mx) ** 2 for a, b in pts
    )
    for w in HURST_WINDOWS:
        assert abs(got[w]["hurst_exponent"] - slope) < 1e-4


def test_knn_hubness_distribution_reconciles(spark, sf_dir):
    rows = QUERIES["knn_hubness_audit"](spark, sf_dir).collect()
    from helium_arango_etl_spark.operators.similarity import KNN_K

    n_corpus = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    assert sum(r["n_vectors"] for r in rows) == n_corpus
    edges = sum(r["in_degree"] * r["n_vectors"] for r in rows)
    # each vector emits at most K out-links (fewer if its bucket is thin)
    assert 0 < edges <= KNN_K * n_corpus


def test_fano_factor_matches_numpy(spark, sf_dir):
    rows = QUERIES["fano_factor_daily"](spark, sf_dir).collect()
    raw = duckdb.sql(
        f"""SELECT event_type, CAST(ts AS DATE) d, count(*) n
            FROM '{sf_dir}/events.parquet' GROUP BY 1, 2"""
    ).fetchall()
    import datetime

    d0 = min(r[1] for r in raw)
    d1 = max(r[1] for r in raw)
    n_days = (d1 - d0).days + 1
    per: dict[str, dict] = {}
    for t, d, n in raw:
        per.setdefault(t, {})[d] = int(n)
    for r in rows:
        series = np.array(
            [
                per[r["event_type"]].get(d0 + datetime.timedelta(days=i), 0)
                for i in range(n_days)
            ],
            dtype=float,
        )
        assert r["n_days"] == n_days
        assert abs(r["mean_daily"] - series.mean()) < 1e-6
        assert abs(r["var_daily"] - series.var()) < 1e-4
        fano = series.var() / series.mean()
        assert abs(r["fano_factor"] - fano) < 1e-4
        expected_class = (
            "overdispersed"
            if fano > 1.5
            else "underdispersed" if fano < 0.67 else "poisson_like"
        )
        assert r["dispersion_class"] == expected_class


def test_gpd_tail_fit_matches_pure_python(spark, sf_dir):
    cents = [
        int(c)
        for (c,) in duckdb.sql(
            f"""SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                FROM '{sf_dir}/orders.parquet'"""
        ).fetchall()
    ]
    cs = sorted(cents)
    n = len(cs)
    u = cs[-(-n * 90 // 100) - 1]
    y = sorted(c - u for c in cs if c > u)
    m = len(y)
    b0 = sum(y) / m
    b1 = sum(v * (m - 1 - i) for i, v in enumerate(y)) / (m * (m - 1))
    xi = 2.0 - b0 / (b0 - 2.0 * b1)
    sigma = 2.0 * b0 * b1 / (b0 - 2.0 * b1)

    row = QUERIES["gpd_tail_fit"](spark, sf_dir).collect()[0]
    assert row["u_cents"] == u and row["n_exceed"] == m
    assert abs(row["pwm_b0"] - b0) < 1e-4 * max(1.0, b0)
    assert abs(row["pwm_b1"] - b1) < 1e-4 * max(1.0, b1)
    assert abs(row["gpd_shape"] - xi) < 1e-4
    assert abs(row["gpd_scale"] - sigma) < 1e-3 * max(1.0, sigma)
    # a price tail is bounded-ish: scale positive, shape below 1
    assert row["gpd_scale"] > 0 and row["gpd_shape"] < 1.0


def test_brier_decomposition_reconciles(spark, sf_dir):
    """Murphy decomposition must reconcile: brier ≈ rel − res + unc +
    residual (exact by construction of the residual column), components
    non-negative, and brier must match a direct numpy recompute of
    mean (p̂ − o)² with p̂ = (rank−1)/(n−1) min-rank percentiles."""
    row = QUERIES["brier_decomposition"](spark, sf_dir).collect()[0]
    assert row["reliability"] >= 0 and row["resolution"] >= 0
    assert 0 <= row["uncertainty"] <= 0.25
    lhs = row["brier_score"]
    rhs = row["reliability"] - row["resolution"] + row["uncertainty"] + row[
        "decomp_residual"
    ]
    assert abs(lhs - rhs) < 2e-6

    vals = duckdb.sql(
        f"""SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
            FROM '{sf_dir}/orders.parquet'"""
    ).fetchall()
    import bisect

    cs = sorted(c for c, _ in vals)
    n = len(cs)
    brier = 0.0
    for c, pos in vals:
        rk = bisect.bisect_left(cs, c) + 1  # min-rank of the tie group
        p = (rk - 1) / (n - 1)
        brier += (p - pos) ** 2
    brier /= n
    assert abs(row["brier_score"] - brier) < 1e-5
    assert row["n_obs"] == n


def test_dtw_matches_pure_python(spark, sf_dir):
    """The anti-diagonal fold must equal the textbook row-by-row DTW DP."""
    buy, clk = _daily_counts(sf_dir)
    a = [int(v) for v in clk]
    b = [int(v) for v in buy]
    n = len(a)
    INF = float("inf")
    D = [[INF] * (n + 1) for _ in range(n + 1)]
    D[0][0] = 0
    for i in range(1, n + 1):
        for j in range(1, n + 1):
            c = abs(a[i - 1] - b[j - 1])
            D[i][j] = c + min(D[i - 1][j], D[i][j - 1], D[i - 1][j - 1])
    row = QUERIES["dtw_daily_series"](spark, sf_dir).collect()[0]
    assert row["n_days"] == n
    assert row["dtw_distance"] == D[n][n]
    assert abs(row["dtw_per_step"] - D[n][n] / (2 * n - 1)) < 1e-6


def test_rfm_segmentation_invariants(spark, sf_dir):
    """Tier populations must be balanced quintiles per dimension, cells
    must partition the purchasing-user population, and tier averages
    must be monotone in the tier along each marginal."""
    from helium_arango_etl_spark.operators.temporal import RFM_TIERS

    rows = QUERIES["rfm_segmentation"](spark, sf_dir).collect()
    n_users = duckdb.sql(
        f"""SELECT count(DISTINCT user_id) FROM '{sf_dir}/events.parquet'
            WHERE event_type = 'purchase'"""
    ).fetchone()[0]
    assert sum(r["n_users"] for r in rows) == n_users

    for dim, avg_col, increasing in [
        ("r_tier", "avg_recency_days", False),  # higher tier = fresher
        ("f_tier", "avg_frequency", True),
        ("m_tier", "avg_monetary", True),
    ]:
        marg: dict[int, list] = {}
        for r in rows:
            marg.setdefault(r[dim], []).append(r)
        # quintile balance: ntile-exact arithmetic splits |n/5| +- 1
        sizes = {t: sum(r["n_users"] for r in rs) for t, rs in marg.items()}
        assert set(sizes) == set(range(1, RFM_TIERS + 1))
        assert max(sizes.values()) - min(sizes.values()) <= 1
        # weighted marginal means are monotone in the tier
        means = {
            t: sum(r[avg_col] * r["n_users"] for r in rs)
            / sum(r["n_users"] for r in rs)
            for t, rs in marg.items()
        }
        seq = [means[t] for t in sorted(means)]
        if not increasing:
            seq = seq[::-1]
        assert all(x <= y + 1e-9 for x, y in zip(seq, seq[1:])), (dim, seq)


def test_cluster_purity_reconciles(spark, sf_dir):
    rows = QUERIES["cluster_purity"](spark, sf_dir).collect()
    n_corpus = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    assert sum(r["n_vectors"] for r in rows) == n_corpus
    for r in rows:
        assert 0 < r["n_majority"] <= r["n_vectors"]
        assert abs(r["purity"] - r["n_majority"] / r["n_vectors"]) < 1e-6
    # a labeled clustering must beat the single-cluster baseline share
    labels = duckdb.sql(
        f"SELECT count(DISTINCT label) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    weighted = sum(r["n_majority"] for r in rows) / n_corpus
    assert weighted >= 1.0 / labels


def test_ivf_recall_sweep_monotone(spark, sf_dir):
    """Deeper probing can only add candidates — candidates and hits must
    be non-decreasing in nprobe, recall bounded by 1, and the deepest
    probe must do at least as well as the shallowest."""
    from helium_arango_etl_spark.operators.similarity import IVF_SWEEP_PROBES

    rows = {r["nprobe"]: r for r in QUERIES["ivf_recall_sweep"](spark, sf_dir).collect()}
    assert sorted(rows) == sorted(IVF_SWEEP_PROBES)
    ps = sorted(rows)
    for a, b in zip(ps, ps[1:]):
        assert rows[a]["n_candidates"] <= rows[b]["n_candidates"]
        assert rows[a]["n_hits"] <= rows[b]["n_hits"]
    for r in rows.values():
        assert 0.0 <= r["mean_recall"] <= 1.0
    assert rows[ps[-1]]["mean_recall"] >= rows[ps[0]]["mean_recall"]


def test_allen_relations_partition_all_pairs(spark, sf_dir):
    """Every (promo window, session) pair classifies into exactly one
    relation — the census must total the raw pair count — and a
    brute-force reclassification must agree per relation."""
    rows = {r["relation"]: r["n_pairs"] for r in
            QUERIES["allen_interval_relations"](spark, sf_dir).collect()}
    pairs = duckdb.sql(
        f"""WITH promos AS (
              SELECT user_id, epoch_us(ts) AS a1,
                     epoch_us(ts) + 259200000000 AS a2
              FROM '{sf_dir}/events.parquet' WHERE event_type = 'signup'
            ), g AS (
              SELECT user_id, ts,
                     epoch_us(ts) - lag(epoch_us(ts)) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM '{sf_dir}/events.parquet'
            ), e AS (
              SELECT user_id,
                     sum(CASE WHEN gap IS NULL OR gap > 1800000000
                              THEN 1 ELSE 0 END) OVER (
                         PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS idx,
                     epoch_us(ts) AS us
              FROM g
            ), sess AS (
              SELECT user_id, min(us) AS b1, max(us) AS b2
              FROM e GROUP BY user_id, idx
            )
            SELECT a1, a2, b1, b2 FROM promos JOIN sess USING (user_id)"""
    ).fetchall()
    assert sum(rows.values()) == len(pairs)

    def classify(a1, a2, b1, b2):
        if a1 == b1 and a2 == b2:
            return "equals"
        if a1 == b1:
            return "starts" if a2 < b2 else "started_by"
        if a2 == b2:
            return "finishes" if a1 > b1 else "finished_by"
        if a2 == b1:
            return "meets"
        if a1 == b2:
            return "met_by"
        if a1 > b1 and a2 < b2:
            return "during"
        if a1 < b1 and a2 > b2:
            return "contains"
        if a2 < b1:
            return "precedes"
        if a1 > b2:
            return "preceded_by"
        if a1 < b1 and a2 > b1 and a2 < b2:
            return "overlaps"
        return "overlapped_by"

    from collections import Counter

    ref = Counter(classify(*p) for p in pairs)
    assert rows == dict(ref)


def test_pq_distortion_audit_reconciles(spark, sf_dir):
    """Subspace rows must cover the whole corpus, usage is bounded by the
    codebook size, shares reconcile, and the summed per-subspace MSE must
    match the mean squared recon_err that pq_encode reports per vector."""
    from helium_arango_etl_spark.operators.similarity import PQ_K, PQ_M

    rows = QUERIES["pq_distortion_audit"](spark, sf_dir).collect()
    n_corpus = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    assert sorted(r["subspace"] for r in rows) == list(range(PQ_M))
    for r in rows:
        assert r["n_vectors"] == n_corpus
        assert 1 <= r["n_codewords_used"] <= PQ_K
        assert abs(r["top_code_share"] - r["top_code_count"] / n_corpus) < 1e-6

    enc = QUERIES["pq_encode"](spark, sf_dir).collect()
    mse_from_encode = sum(e["recon_err"] ** 2 for e in enc) / n_corpus
    mse_from_audit = sum(r["mean_sq_err"] for r in rows)
    assert abs(mse_from_audit - mse_from_encode) < 1e-3 * max(1.0, mse_from_encode)


def test_binseg_matches_pure_python(spark, sf_dir):
    daily = duckdb.sql(
        f"""SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS d,
                   count(*) AS c
            FROM '{sf_dir}/orders.parquet' GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    ds = [int(d) for d, _ in daily]
    cs = [int(c) for _, c in daily]

    def sse(lo, hi):  # half-open row range [lo, hi)
        n = hi - lo
        if n <= 0:
            return 0.0
        s = sum(cs[lo:hi])
        ss = sum(c * c for c in cs[lo:hi])
        return ss - s * s / n

    def best(lo, hi):
        cands = [
            (sse(lo, m) + sse(m, hi), ds[m - 1], m) for m in range(lo + 1, hi)
        ]
        return min(cands) if cands else None

    n = len(cs)
    tot_sse, t1_d, m1 = best(0, n)
    got = {(r["level"], r["side"]): r for r in
           QUERIES["binseg_changepoints"](spark, sf_dir).collect()}
    root = got[(0, "root")]
    assert root["break_day"] == t1_d
    assert root["n_left"] == m1 and root["n_right"] == n - m1
    assert abs(root["gain"] - (sse(0, n) - tot_sse)) < 1e-3

    for side, lo, hi in [("left", 0, m1), ("right", m1, n)]:
        b = best(lo, hi)
        if b is None:
            assert (1, side) not in got
            continue
        child_sse, day, m = b
        r = got[(1, side)]
        assert r["break_day"] == day, side
        assert r["n_left"] == m - lo and r["n_right"] == hi - m
        assert abs(r["gain"] - (sse(lo, hi) - child_sse)) < 1e-3
        assert r["gain"] >= -1e-6  # splitting never increases SSE


def test_atkinson_matches_numpy(spark, sf_dir):
    rows = QUERIES["atkinson_index"](spark, sf_dir).collect()
    spend = duckdb.sql(
        f"""SELECT c.c_nationkey, o.o_custkey,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
            FROM '{sf_dir}/orders.parquet' o
            JOIN '{sf_dir}/customer.parquet' c ON c.c_custkey = o.o_custkey
            GROUP BY 1, 2"""
    ).fetchall()
    per: dict[int, list[int]] = {}
    for nk, _, x in spend:
        if x > 0:
            per.setdefault(int(nk), []).append(int(x))
    for r in rows:
        xs = np.array(per[r["c_nationkey"]], dtype=float)
        mean = xs.mean()
        geo = float(np.exp(np.log(xs).mean()))
        a_ref = 1.0 - geo / mean
        assert r["n_customers"] == len(xs)
        assert abs(r["mean_spend"] - mean / 100) < 1e-3
        assert abs(r["geo_mean_spend"] - geo / 100) < 1e-2
        assert abs(r["atkinson_e1"] - a_ref) < 1e-5
        # A in [0, 1); geometric mean never exceeds arithmetic
        assert 0.0 <= r["atkinson_e1"] < 1.0
        assert r["geo_mean_spend"] <= r["mean_spend"] + 1e-9


def test_tokenized_corpus_cache_contract(spark, sf_dir):
    """The retrieval family's shared materialization: same object per
    (session, sf_dir); shared.clear(spark, "tok") drops it; the projection
    carries exactly the query-agnostic columns and dl == size(t)."""
    from pyspark.sql import functions as F

    from helium_arango_etl_spark import shared
    from helium_arango_etl_spark.operators.textops import tokenized_corpus

    shared.clear(spark, "tok")
    a = tokenized_corpus(spark, sf_dir)
    assert tokenized_corpus(spark, sf_dir) is a
    assert set(a.columns) == {"doc_id", "source", "lang", "t", "dl"}
    assert a.filter(F.expr("dl != size(t)")).count() == 0
    n_docs = a.count()
    import duckdb

    assert n_docs == duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()[0]
    shared.clear(spark, "tok")
    b = tokenized_corpus(spark, sf_dir)
    assert b is not a
    shared.clear(spark, "tok")
