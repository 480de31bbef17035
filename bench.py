"""Benchmark harness — driver contract (BASELINE.md §3).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with the `noop` writer — full execution, no
driver-side collect overhead.  First a warmup pass on the flagship query
absorbs JVM/codegen startup so per-query numbers reflect steady state.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from helium_arango_etl_spark import shared  # noqa: E402
from helium_arango_etl_spark.operators import similarity as S  # noqa: E402
from helium_arango_etl_spark.operators import textops as T  # noqa: E402
from helium_arango_etl_spark.registry import QUERIES  # noqa: E402
from helium_arango_etl_spark.session import get_spark  # noqa: E402

# Headline set: one per operator family (SURVEY.md §2 + training-data ops).
HEADLINE = [
    "rewards_5d",            # flagship: filter→agg→broadcast-join (D1/C2/B2)
    "hotspot_snapshot",      # 3-way broadcast left join (C2/C3)
    "rewards_by_type",       # fact-fact shuffle join + agg (C1/D1)
    "payments_from_events",  # JSON extraction + content keys (H2/H11)
    "payment_v2_exploded",   # from_json + posexplode fan-out (H16/M3)
    "token_explode",         # explode fan-out + agg (M3)
    "keep_latest_witness",   # window dedup (E1)
    "last_balance_per_day",  # window, the reference-disabled query (E2)
    "daily_balances",        # window + collect_list nesting (D6)
    "normalize_by_group_mean",  # window avg normalization (E3)
    "haversine_pairs",       # trig battery (H7)
    "witness_subgraph",      # graph-hop join + distance (J1/C6)
    "city_graph_metrics",    # applyInPandas BC+PageRank (J2/J3)
    "city_hits",             # applyInPandas HITS (J5)
    "exact_dedup",           # hash-groupBy dedup
    "lsh_candidate_pairs",   # minhash + LSH banding self-join
    "ngram_jaccard_pairs",   # exact jaccard verify over candidates
    "near_dup_keep",         # end-to-end dedup retention (exact + LSH verify)
    "text_stats",            # quality/token scoring battery
    "emb_prepare",           # similarity-family shared table: cast+norm+bucket persist
    "ann_cosine_topk",       # brute-force cosine top-k
    "ivf_topk",              # IVF coarse-quantizer ANN (scale path)
    "pq_topk",               # product-quantized ADC top-k (compressed scale path)
    "cosine_near_dup_pairs", # LSH-bucketed embedding self-join
    "image_features",        # binary mapInPandas feature extraction
    # round-3 operators promoted to tracked per-round numbers (VERDICT r3 #4)
    "promo_attribution",     # banded range join (last promo before purchase)
    # tok_prepare sits directly BEFORE the first tokenized-corpus consumer
    # (bpe_merge_rules), matching the emb_prepare placement discipline: the
    # first consumer must not pay the tokenize+persist surcharge on a cold
    # pass (ADVICE r7)
    "tok_prepare",           # retrieval-family shared table: tokenize+persist
    "bpe_merge_rules",       # iterative BPE merge training (vocab-sized shuffles)
    "stratified_split",      # exact per-stratum quota split
    "snapshot_diff",         # digest-only full-outer table diff
    # round-4 operators promoted to tracked per-round numbers
    "semantic_dedup",        # SemDeDup: kmeans buckets + in-cluster pair prune
    "dsir_weights",          # DSIR hashed-ngram importance weights
    "hard_negatives",        # contrastive hard-negative mining (batch ANN)
    "mmr_rerank",            # MMR diversity rerank over the shortlist
    # round-5 operators promoted to tracked per-round numbers
    "zipf_fit",              # per-source word-count + rank regression
    "auc_roc",               # exact rank-statistic AUC over order prices
    "cdc_apply",             # changelog -> snapshot keyed last-write-wins
    "part_er_blocking",      # ER blocking + in-group candidate scoring
    "ndcg_at_k",             # retrieval eval on the BM25 run
    # round-6 operators promoted to tracked per-round numbers
    "ks_price_test",         # two-sample KS over the value-domain CDF
    "corr_matrix",           # 14 exact moments in one scan, 6-cell unpivot
    "theilsen_daily_trend",  # calendar-bounded pair median (robust trend)
    "memorization_risk_ngrams",  # corpus-unique 8-gram exposure (hash-only shuffles)
    "range_partition_planner",   # hash-vs-range bucket load audit
    "city_ppr_joins",        # seed-restart PageRank, quantized join iterations
    # round-7 operators promoted to tracked per-round numbers
    "isotonic_calibration",  # declarative PAVA fit (minimax over bin grid)
    "markov_absorption",     # quantized value iteration over transition matrix
    "event_precedence_matrix",  # first-occurrence pairwise ordering shares
    "mahalanobis_outliers",  # broadcast-moments distance + global top-K
    "intradoc_duplication",  # row-local 5-gram repetition audit
    "rich_club_coefficient", # degree-threshold club density over co-witness pairs
    "markov_attribution",    # removal-effect credit via one expression-fold iteration
    "city_bfs_layers",       # level-synchronous BFS (checkpointed frontier joins)
    "token_budget_waterfill",  # max-min fair allocation (20 exact integer rounds)
    "bigram_llr_collocations",  # Dunning G2 top-K collocations
    # round-8 (driver round 6) operators promoted to tracked per-round numbers
    "mutual_knn_graph_lsh",  # the 100 TB mutual-kNN form: bucket-join pair source
    # round-9 (driver round 7): the capped co-witness consumer (the
    # production form of the rich-club entry); tok_prepare moved up to
    # precede its first consumer
    "rich_club_coefficient_capped",  # bounded-emit club density (VERDICT r6 #2)
    # round-10 (driver round 8): the remaining capped co-witness twins
    # (VERDICT r7 #3) — they ride the capped-pair persist the rich-club
    # twin materializes, so these price consumer work, not pair builds
    "adamic_adar_scores_capped",      # bounded-emit link prediction
    "local_clustering_coeff_capped",  # bounded-emit transitivity
    "ktruss_edges_capped",            # bounded-emit edge peel
]
# The applyInPandas/mapInPandas entries: Python process spawn + Arrow IPC
# degrade far more than JVM codegen under sustained VM load, so these are
# bucketed separately in the host-signature diagnostic (BASELINE.md
# "Host-drift signature", VERDICT r8 #4).
PY_WORKER_QUERIES = {"city_graph_metrics", "city_hits", "image_features"}

# Deliberately NOT in the headline (VERDICT r3 #5, r7 #5) — exact-contract
# demos whose production twins ARE headlined; each stays registered,
# oracle-certified, and sf0.1-probed in BASELINE.md §5:
#   city_betweenness_joins — correctness-harness mirror of the
#     applyInPandas production path (city_graph_metrics).
#   mutual_knn_graph — the deliberate corpus² all-pairs demo; the
#     headline tracks its LSH-bucketed scale form (mutual_knn_graph_lsh),
#     so the headline measures only scale-shaped plans.


# Per-step cache attribution: the shared tables each step drops before it
# runs, so that step pays one full materialization and its consumers ride
# the persist — the designed per-sync-cycle cost, not a free cache re-read
# nor an arbitrary first-consumer surcharge.
#   city_graph_metrics — the combined city-metrics table (city_hits
#     projects it);
#   witness_subgraph — the witness-edge table and its co-witness
#     projections (first in the graph chain: pays the fact-fact join);
#   emb_prepare / tok_prepare — pseudo-steps pricing the prepared-embedding
#     (float64 + norm + hyperplane bucket) and tokenized-corpus persists on
#     their own, so ann_cosine_topk, bm25 and the rest measure query work
#     (r2's only >1.2x per-query regression was this attribution artifact);
#   lsh_candidate_pairs — the signature table: the first dedup-chain query
#     pays the corpus scan + hashing, the verify/retention stages ride it.
# The exact-demo guard stats (``fanin``) are never dropped here.
STEP_CLEARS = {
    "city_graph_metrics": ("metrics",),
    "witness_subgraph": ("witness",),
    "emb_prepare": ("emb",),
    "tok_prepare": ("tok",),
    "lsh_candidate_pairs": ("sig",),
}
PREPARE_STEPS = {"emb_prepare": S.embedding_table, "tok_prepare": T.tokenized_corpus}


def prepare(spark, sf_dir: str, name: str):
    """Drop the shared tables step ``name`` is billed for and return the
    DataFrame the step materializes."""
    if name in STEP_CLEARS:  # a bare shared.clear(spark) would drop every table
        shared.clear(spark, *STEP_CLEARS[name])
    build = PREPARE_STEPS[name] if name in PREPARE_STEPS else QUERIES[name]
    return build(spark, sf_dir)


def _baseline_targets() -> dict:
    """Per-query targets parsed from BASELINE.md's CURRENT TARGETS table
    (the last section so marked; rows are `| q | s | q | s |`).  Keeping
    the table as the single source of truth means a re-baseline never
    needs a second edit here.  Empty dict when BASELINE.md is absent."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BASELINE.md")
    try:
        text = open(path, encoding="utf-8").read()
    except OSError:
        return {}
    # anchor on the section HEADER (a `#`-line ending in the marker) so
    # prose that merely mentions the marker can't hijack the parse
    header = re.compile(r"^#+ .*CURRENT TARGETS\s*$", re.MULTILINE)
    matches = list(header.finditer(text))
    if not matches:
        return {}
    targets: dict = {}
    for line in text[matches[-1].end():].splitlines():
        if line.startswith("60-query min-merged total"):
            break
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if len(cells) != 4:
            continue
        for name, val in ((cells[0], cells[1]), (cells[2], cells[3])):
            try:
                targets[name] = float(val)
            except ValueError:
                pass
    return targets


# Nominal Python-substrate fingerprints (VERDICT r9 #4 — mechanizing the
# BASELINE.md d5662cf prose calibration): a warm uncontended VM runs the
# 10M-iteration pure-Python loop in ~0.4-0.6 s and imports pandas+pyarrow
# in a FRESH interpreter in ~0.9-1.3 s; this container has been observed
# at 1.08 s / 2.7 s under load — the same degradation that inflates the
# applyInPandas/mapInPandas bucket (worker spawn pays the import, UDF
# bodies pay the interpreter).  Measuring both once per bench run lets
# the classifier judge a pyworker ratio against the SAME-RUN substrate
# instead of a prose note.
PY_LOOP_NOMINAL_S = 0.5
PY_IMPORT_NOMINAL_S = 1.1


def _py_substrate() -> dict:
    """Same-run Python-substrate fingerprint: the 10M-iteration loop
    (interpreter speed under current host load) and a fresh-interpreter
    pandas+pyarrow import (what every Spark Python worker pays at spawn).
    substrate_factor is the worse of the two vs nominal — the factor the
    pyworker bucket is ENTITLED to without being a plan suspect."""
    import subprocess
    import sys as _sys

    t0 = time.perf_counter()
    x = 0
    for i in range(10_000_000):
        x += i
    loop = time.perf_counter() - t0
    imp = None
    try:
        r = subprocess.run(
            [
                _sys.executable,
                "-c",
                "import time; t = time.perf_counter(); import pandas, pyarrow;"
                " print(time.perf_counter() - t)",
            ],
            capture_output=True,
            text=True,
            timeout=120,
        )
        imp = float(r.stdout.strip())
    except Exception:
        pass
    factors = [loop / PY_LOOP_NOMINAL_S]
    if imp is not None:
        factors.append(imp / PY_IMPORT_NOMINAL_S)
    return {
        "loop10m_sec": round(loop, 3),
        "pandas_pyarrow_import_sec": round(imp, 3) if imp is not None else None,
        "substrate_factor": round(max(factors), 2),
    }


def _host_signature(timings: dict, substrate: dict | None = None) -> dict:
    """One-line machine verdict on whether this run's inflation vs the
    consolidated targets looks like HOST degradation or a PLAN break
    (VERDICT r8 #4, mechanizing BASELINE.md's host-drift signature):

    - host signature: UNIFORM ratio across pure-JVM entries, with the
      applyInPandas/mapInPandas bucket degrading ~2x harder (Python
      process spawn + Arrow IPC pay VM load disproportionately);
    - plan signature: one or few queries skewed (>1.5x the JVM median
      ratio) while the rest sit uniform — a real plan break never
      inflates twenty unrelated queries by the same factor.

    Sub-0.5 s entries are never flagged as suspects (the r8 window's
    worst 'regression' was 1.45x on a 0.24 s query — pure noise)."""
    import statistics

    targets = _baseline_targets()
    ratios = {
        n: timings[n] / targets[n]
        for n in timings
        if targets.get(n, 0) > 0
    }
    if not ratios:
        return {"verdict": "no-baseline"}
    jvm = {n: r for n, r in ratios.items() if n not in PY_WORKER_QUERIES}
    pyw = {n: r for n, r in ratios.items() if n in PY_WORKER_QUERIES}
    med_jvm = round(statistics.median(jvm.values()), 3) if jvm else None
    med_py = round(statistics.median(pyw.values()), 3) if pyw else None
    suspects = sorted(
        n
        for n, r in jvm.items()
        if r > 1.5 * (med_jvm or 1.0) and r > 1.3 and timings[n] > 0.5
    )
    if suspects:
        verdict = "plan-suspect: " + ",".join(suspects)
    elif med_jvm is not None and med_jvm <= 1.15:
        verdict = "quiet"
    elif med_py is not None and med_jvm is not None and med_py >= 1.5 * med_jvm:
        # VERDICT r9 #4: judge the pyworker bucket against the SAME-RUN
        # substrate fingerprint mechanically, not a prose note — the
        # bucket's excess over the JVM median is legitimate exactly when
        # the interpreter/import substrate degraded comparably.
        sub = substrate.get("substrate_factor") if substrate else None
        excess = med_py / max(med_jvm, 1e-9)
        # corroboration requires the substrate to be BOTH genuinely
        # degraded (>= 1.3 — a clean at-rest reading is ~0.9-1.1) AND
        # comparable to the bucket's excess; without the floor, a clean
        # substrate near the branch boundary (e.g. 0.94 vs excess 1.54)
        # would excuse a real pyworker-only regression
        if sub is not None and sub >= 1.3 and sub >= 0.6 * excess:
            verdict = (
                f"host-degraded (uniform jvm x{med_jvm}, python-worker"
                f" x{med_py}; substrate x{sub} corroborates)"
            )
        elif sub is not None:
            verdict = (
                f"pyworker-suspect (python-worker x{med_py} vs jvm"
                f" x{med_jvm} with substrate only x{sub})"
            )
        else:
            verdict = (
                f"host-degraded (uniform jvm x{med_jvm}, python-worker x{med_py})"
            )
    else:
        verdict = f"host-inflated (uniform x{med_jvm})"
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = None
    out = {
        "median_jvm_ratio": med_jvm,
        "median_pyworker_ratio": med_py,
        "plan_suspects": suspects,
        "loadavg_end": load1,
        "verdict": verdict,
    }
    if substrate is not None:
        out["py_substrate"] = substrate
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    try:
        load_start = round(os.getloadavg()[0], 2)
    except OSError:
        load_start = None
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in HEADLINE if n in QUERIES or n in PREPARE_STEPS]

    def run(name: str) -> float:
        t0 = time.perf_counter()
        prepare(spark, sf_dir, name).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    # pass 1 warms JVM/codegen/file-index caches and Python workers; passes
    # 2-3 are measurements (steady-state is what a resident engine
    # delivers).  min-of-3 rather than min-of-2: the bench host shows
    # noisy-neighbor spikes lasting tens of seconds, long enough to hit the
    # same query in two consecutive passes — a third sample makes a clean
    # measurement overwhelmingly likely while keeping bench wall-time
    # bounded.
    first = {name: run(name) for name in names}
    second = {name: min(first[name], run(name)) for name in names}
    timings = {name: round(min(second[name], run(name)), 3) for name in names}

    # Before accusing a plan, re-probe each suspect once in isolation: a
    # cold-boot VM can inflate all three passes of an early query (the
    # round-9 opening run flagged hotspot_snapshot at 0.75 s purely from
    # first-jobs-after-boot warmup; one extra sample read 0.44 s).  A real
    # plan break survives a fourth sample; a startup artifact does not.
    suspects = _host_signature(timings).get("plan_suspects", [])
    for name in suspects:
        timings[name] = round(min(timings[name], run(name)), 3)
    total = sum(timings.values())

    # same-run substrate fingerprint AFTER the timed passes (the probe
    # must never compete with a measurement for the interpreter)
    host = _host_signature(timings, substrate=_py_substrate())
    if suspects:
        host["reprobed_suspects"] = suspects
    host["loadavg_start"] = load_start
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "host_signature": host,
            }
        )
    )


if __name__ == "__main__":
    main()
