"""Benchmark entry point.

    python3 perfbench/run.py --workload sync_cycle --seed 1 --seconds 15 --trace 0

Starts one SparkSession on ``local[<cores>]``
through the engine's ``session.get_spark``, runs the workload's set-up,
timed loop and correctness checks, and prints one JSON object as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` they are the per-layer ones.  Human-readable lines (every
metric with its unit, input sizes, failures) precede it.  Everything the run
writes stays under ``.perfbench/`` in the repository root; spans go to
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procs  # noqa: E402
from perfbench.workloads import WORKLOADS, Run, layer_unit  # noqa: E402

_MB = 1024 * 1024


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _configure_environment(work_dir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work_dir``, and let Python workers import the engine."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}"),
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine and the oracle harness are part of the checkout; without
    # them there is nothing to measure
    try:
        import helium_arango_etl_spark.session as session  # noqa: F401
        import tests.parity  # noqa: F401
    except ImportError as exc:
        log(f"perfbench: the engine is not importable from {ROOT}: {exc}")
        return 2

    bench_dir = os.path.join(ROOT, ".perfbench")
    work_dir = os.path.join(bench_dir, f"work-{os.getpid()}")
    trace_dir = os.path.join(bench_dir, "traces")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(trace_dir, exist_ok=True)
    _configure_environment(work_dir)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = session.get_spark(app_name="perfbench", master=f"local[{procs.cores()}]")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        run = Run(spark, args.seed, args.seconds, bool(args.trace), work_dir, log)
        run.sample("session.get_spark.wall_s", session_s)
        WORKLOADS[args.workload](run)
        log(f"perfbench: session {session_s:.2f} s, set-up done at {run.setup_end - T_START:.2f} s, "
            f"ops {[round(x, 2) for x in run.op_s]}, checks {run.check_s:.2f} s, "
            f"end {time.perf_counter() - T_START:.2f} s")
        run.tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.jsonl"))
    finally:
        procs.stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    setup_s = run.setup_end - T_START + run.prep_s
    snaps = run.snapshots
    input_rows = sum(s.rows for s in snaps) / len(snaps)
    input_mb = sum(s.bytes for s in snaps) / len(snaps) / _MB
    run.sample("input.rows", input_rows)
    run.sample("input.mb", input_mb)

    if args.trace:
        metrics = {name: {"value": v, "unit": layer_unit(name)} for name, v in run.per_layer().items()}
    else:
        metrics = {
            "op_s": {"value": run.median_op_s(), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }

    print(f"workload {args.workload} seed {args.seed}: {len(snaps)} snapshots, "
          f"{input_rows:.0f} input rows, {input_mb:.3f} MB each")
    print(f"operations: {len(run.op_s)} timed, "
          f"attempted {run.attempted}, failed {run.failed}, "
          f"failed_ratio {run.failed / max(run.attempted, 1):.4f}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
