"""The benchmark's workloads.

Each workload is a closed loop: one operation in flight at a time, driven
from this process through the engine's public functions.

- ``sync_cycle``: one reference daemon cycle into an empty store per
  operation — inventory sync, per-city graph metrics, hotspot writeback,
  a 4-chunk payments backfill and one follower micro-batch over held-out
  events.
- ``analytics``: one pass over a fixed-order mix of registry queries,
  written to the ``noop`` sink.

Every operation gets its own snapshot directory, so path-keyed shared
tables are rebuilt per operation; ``spark.catalog.clearCache()`` runs
between operations, outside the timed part.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

from . import checks
from .gen import Snapshot, dir_bytes, load_tables, write_snapshot
from .trace import SPAN_COUNTERS, SparkCounters, Tracer

CYCLE_PHASES = (
    "sync.sync_inventories",
    "graph.city_graph_metrics",
    "graph.hotspot_metrics_writeback",
    "sync.backfill_payments",
    "follower.follow_payments",
)
ANALYTICS_MIX = (
    "city_ppr_joins",
    "city_bfs_layers",
    "rich_club_coefficient_capped",
    "local_clustering_coeff_capped",
    "ktruss_edges_capped",
    "lsh_candidate_pairs",
    "near_dup_keep",
    "ann_cosine_topk",
    "mutual_knn_graph_lsh",
    "ndcg_at_k",
    "semantic_dedup",
    "mahalanobis_outliers",
)
QUERY_COUNTERS = ("wall_s", "jobs", "shuffle_write_mb", "executor_run_s")

# Timed operations per run: every one that starts within --seconds, at
# least the workload's minimum, at most MAX_OPS.
MAX_OPS = 6


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in BENCHMARK.json order."""
    names = ["session.get_spark.wall_s", "input.rows", "input.mb"]
    for phase in CYCLE_PHASES:
        names += [f"{phase}.{c}" for c in SPAN_COUNTERS]
    names += [
        "graph.city_graph_metrics.python_rows",
        "follower.rows_written_per_new_row",
        "cycle.input_reads",
        "cycle.store_bytes_per_input_byte",
        "sync.resync_inventories.wall_s",
    ]
    for q in ANALYTICS_MIX:
        names += [f"q.{q}.{c}" for c in QUERY_COUNTERS]
    names += ["cached_mb", "trace.op_s", "trace.overhead_s", "trace.overhead_ratio"]
    return names


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    for suffix, unit in (
        ("_s", "s"), ("_mb", "MB"), (".mb", "MB"),
        ("jobs", "count"), ("tasks", "count"), ("rows", "count"),
    ):
        if name.endswith(suffix):
            return unit
    return "ratio"


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Run:
    """State of one benchmark run: session, inputs, tracer and tallies."""

    def __init__(self, spark, seed: int, seconds: float, traced: bool, work_dir: str, log):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work_dir = work_dir
        self.log = log
        self.counters = SparkCounters(spark)
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0
        self.prep_s = 0.0  # input preparation inside the timed loop
        self.setup_end = 0.0
        self.op_s: list[float] = []  # NaN for an operation that raised
        self.layer_samples: dict[str, list[float]] = {}
        self.snapshots: list[Snapshot] = []
        self.tables = load_tables()

    # ---- inputs -------------------------------------------------------

    def snapshot(self, index: int) -> Snapshot:
        """Snapshot ``index`` of the run's seed."""
        snap = write_snapshot(self.tables, self.seed, index, os.path.join(self.work_dir, f"op{index}"))
        self.snapshots.append(snap)
        return snap

    # ---- bookkeeping --------------------------------------------------

    def sample(self, name: str, value: float) -> None:
        self.layer_samples.setdefault(name, []).append(float(value))

    def fail(self, what: str, problems: list[str]) -> None:
        self.failed += 1
        for p in problems:
            self.log(f"CHECK FAILED {what}: {p}")

    def check(self, what: str, problems_fn) -> None:
        """Run one correctness check (timed into check_s, not set-up)."""
        t0 = time.perf_counter()
        try:
            problems = problems_fn()
        except Exception:  # a check that cannot run counts as failed
            problems = [traceback.format_exc()]
        self.check_s += time.perf_counter() - t0
        if problems:
            self.fail(what, problems)

    def timed_loop(self, op, prepare, min_ops: int) -> None:
        """Run ``op`` on fresh inputs until --seconds have passed (at least
        ``min_ops``, at most MAX_OPS times)."""
        t_end = time.perf_counter() + self.seconds
        self.tracer.counters = self.counters if self.traced else None
        while len(self.op_s) < min_ops or (len(self.op_s) < MAX_OPS and time.perf_counter() < t_end):
            t0 = time.perf_counter()
            args = prepare(len(self.op_s) + 1)
            self.prep_s += time.perf_counter() - t0
            read0 = self.counters.read_s
            self.attempted += 1
            try:
                self.op_s.append(op(*args))
            except Exception:
                self.log(traceback.format_exc())
                self.failed += 1
                self.op_s.append(float("nan"))
            finally:
                self.spark.catalog.clearCache()
            if self.traced:
                self.sample("trace.overhead_s", self.counters.read_s - read0)
        self.tracer.counters = None

    def record_spans(self, op_span) -> None:
        """Per-layer samples from the direct children of one traced op span."""
        for sp in self.tracer.spans:
            if sp.parent == op_span.span_id and sp.counters:
                for key in (QUERY_COUNTERS if sp.name.startswith("q.") else SPAN_COUNTERS):
                    self.sample(f"{sp.name}.{key}", sp.counters[key])
                if sp.name == "graph.city_graph_metrics":
                    self.sample(f"{sp.name}.python_rows", sp.counters["python_rows"])

    def per_layer(self) -> dict[str, float]:
        out = {name: _median(self.layer_samples.get(name, [])) for name in per_layer_names()}
        out["trace.op_s"] = self.median_op_s()
        untraced = out["trace.op_s"] - out["trace.overhead_s"]
        out["trace.overhead_ratio"] = out["trace.overhead_s"] / untraced if untraced > 0 else 0.0
        return out

    def median_op_s(self) -> float:
        """Median wall time of the timed operations that completed."""
        return _median([t for t in self.op_s if t == t])


# ---------------------------------------------------------------- sync_cycle


def sync_cycle(run: Run) -> None:
    from helium_arango_etl_spark.io import write_keyed
    from helium_arango_etl_spark.operators import graph
    from helium_arango_etl_spark.plans import sync
    from helium_arango_etl_spark.streaming import follower

    spark, tr = run.spark, run.tracer

    cycles: list[tuple[Snapshot, str, int | None]] = []

    def cycle(snap: Snapshot, store: str) -> float:
        with tr.span("cycle", read_counters=False) as op:
            with tr.span("sync.sync_inventories"):
                sync.sync_inventories(spark, snap.sf_dir, store)
            with tr.span("graph.city_graph_metrics"):
                write_keyed(graph.city_graph_metrics(spark, snap.sf_dir), os.path.join(store, "city_metrics"))
            with tr.span("graph.hotspot_metrics_writeback"):
                write_keyed(
                    graph.hotspot_metrics_writeback(spark, snap.sf_dir), os.path.join(store, "hotspot_metrics")
                )
            with tr.span("sync.backfill_payments"):
                sync.backfill_payments(spark, snap.sf_dir, store, n_chunks=4)
            with tr.span("follower.follow_payments") as follow:
                follower.follow_payments(spark, snap.landing_dir, store, store + "_checkpoint")
        if tr.enabled:
            run.record_spans(op)
            reads = sum(sp.counters["input_bytes"] for sp in tr.spans if sp.parent == op.span_id)
            run.sample("cycle.input_reads", reads / (snap.bytes + dir_bytes(snap.landing_dir)))
            run.sample("cycle.store_bytes_per_input_byte", dir_bytes(store) / snap.bytes)
        cycles.append((snap, store, follow.counters.get("output_rows")))
        return op.wall_s

    def prepare(i: int):
        return run.snapshot(i), os.path.join(run.work_dir, f"store{i}")

    # warm-up: one cold cycle, not checked
    cycle(run.snapshot(0), os.path.join(run.work_dir, "store0"))
    cycles.clear()
    spark.catalog.clearCache()
    run.setup_end = time.perf_counter()

    # the first cycle after the warm-up is usually ~1 s slower than the next
    # (the JVM is still compiling), so op_s is never that cycle alone, even
    # when it outlasts --seconds
    run.timed_loop(cycle, prepare, min_ops=2)

    def check_cycle(snap: Snapshot, store: str, follow_rows) -> list[str]:
        snap_keys = {r[0] for r in sync.build_payments(spark, snap.sf_dir).select("_key").distinct().collect()}
        land_keys = {r[0] for r in sync.build_payments(spark, snap.landing_dir).select("_key").collect()}
        skeleton = {tuple(r) for r in graph.city_graph_nodes(spark, snap.sf_dir).collect()}
        if follow_rows is not None:
            new_rows = len(land_keys - snap_keys)
            run.sample("follower.rows_written_per_new_row", follow_rows / max(new_rows, 1))
        return (
            checks.unique_keys(store)
            + checks.payment_keys(store, snap_keys | land_keys)
            + checks.metrics_rows(store, skeleton)
        )

    def resync(snap: Snapshot, store: str) -> list[str]:
        """Re-sync over unchanged input must leave every collection as is."""
        before = checks.digests(store)
        with tr.span("sync.resync_inventories") as sp:
            sync.sync_inventories(spark, snap.sf_dir, store)
        run.sample("sync.resync_inventories.wall_s", sp.wall_s)
        return checks.digests_unchanged(before, checks.digests(store))

    for snap, store, follow_rows in cycles:
        run.check(f"cycle {os.path.basename(store)}", lambda: check_cycle(snap, store, follow_rows))
    if cycles:
        run.attempted += 1
        run.check("re-sync", lambda: resync(*cycles[-1][:2]))


# ----------------------------------------------------------------- analytics


def analytics(run: Run) -> None:
    from helium_arango_etl_spark.registry import ORACLE, QUERIES

    spark, tr = run.spark, run.tracer

    def one_pass(snap: Snapshot) -> float:
        with tr.span("pass", read_counters=False) as op:
            for q in ANALYTICS_MIX:
                with tr.span(f"q.{q}"):
                    QUERIES[q](spark, snap.sf_dir).write.mode("overwrite").format("noop").save()
        if tr.enabled:
            run.record_spans(op)
            run.sample("cached_mb", run.counters.cached_mb())
        return op.wall_s

    # warm-up pass on a full-size snapshot: every query collected to pandas,
    # then checked against its DuckDB oracle (the comparison time is not
    # set-up time)
    warm = run.snapshot(0)
    results = {}
    for q in ANALYTICS_MIX:
        run.attempted += 1
        try:
            with tr.span(f"warmup.{q}"):
                results[q] = QUERIES[q](spark, warm.sf_dir).toPandas()
        except Exception:
            run.fail(q, [traceback.format_exc()])
    spark.catalog.clearCache()
    for q, pdf in results.items():
        run.check(q, lambda q=q, pdf=pdf: checks.oracle_parity(q, pdf, ORACLE[q], warm.sf_dir))
    run.setup_end = time.perf_counter() - run.check_s

    run.timed_loop(one_pass, lambda i: (run.snapshot(i),), min_ops=1)


WORKLOADS = {"sync_cycle": sync_cycle, "analytics": analytics}
