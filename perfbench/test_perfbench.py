"""The benchmark's own tests: input determinism, tracer self time, the
store checks, the output schema of each workload, and the refusal to run
without the engine.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks
from perfbench.gen import TABLES, load_tables, write_snapshot
from perfbench.trace import Span, Tracer, plan_counters
from perfbench.workloads import per_layer_names

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


def _files(snap) -> list[str]:
    return [os.path.join(snap.sf_dir, f"{t}.parquet") for t in TABLES] + [
        os.path.join(snap.landing_dir, "events.parquet")
    ]


def test_same_seed_gives_byte_identical_snapshots(tmp_path):
    tables = load_tables()
    a = write_snapshot(tables, 7, 1, str(tmp_path / "a"))
    b = write_snapshot(load_tables(), 7, 1, str(tmp_path / "b"))
    c = write_snapshot(tables, 8, 1, str(tmp_path / "c"))
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(_files(a), _files(b)))
    assert (a.rows, a.bytes) == (b.rows, b.bytes)
    assert not filecmp.cmp(_files(a)[-1], _files(c)[-1], shallow=False)


def test_snapshot_samples_orders_whole_and_holds_out_events(tmp_path):
    tables = load_tables()
    snap = write_snapshot(tables, 3, 1, str(tmp_path / "s"))
    kept = set(pq.read_table(os.path.join(snap.sf_dir, "events.parquet"))["event_id"].to_pylist())
    landing = pq.read_table(os.path.join(snap.landing_dir, "events.parquet"))["event_id"].to_pylist()
    new = [e for e in landing if e not in kept]
    assert new and len(new) < len(landing)  # new events plus some the store already holds
    assert len(kept) + len(new) == tables["events"].num_rows
    orders = set(pq.read_table(os.path.join(snap.sf_dir, "orders.parquet"))["o_orderkey"].to_pylist())
    items = pq.read_table(os.path.join(snap.sf_dir, "lineitem.parquet"))["l_orderkey"].to_pylist()
    assert set(items) <= orders  # every kept order keeps all of its lineitem rows
    assert len(items) == sum(k in orders for k in tables["lineitem"]["l_orderkey"].to_pylist())


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer()
    tr.spans = [
        Span("op", 0, None, "r", 0.0, 10.0),
        Span("a", 1, 0, "r", 1.0, 4.0),
        Span("b", 2, 0, "r", 3.0, 5.0),  # overlaps a: union is 1..5
        Span("c", 3, 0, "r", 7.0, 8.0),
    ]
    assert tr.self_time(tr.spans[0]) == pytest.approx(5.0)
    assert tr.self_time(tr.spans[3]) == pytest.approx(1.0)


def test_plan_counters_read_scan_bytes_and_python_rows():
    dot = (
        '  2 [id="node2" labelType="html" label="<b>FlatMapGroupsInPandas</b><br><br>time to run Python '
        'workers total (min, med, max (stageId: taskId))<br>10.9 s (237 ms, 318 ms, 2.0 s (stage 16.0: task 20))'
        '<br>number of output rows: 14,484" tooltip="FlatMapGroupsInPandas"];\n'
        '  9 [id="node9" labelType="html" label="<b>Scan parquet </b><br><br>number of files read: 1<br>'
        'size of files read: 1018.0 KiB<br>number of output rows: 60,000" tooltip="x"];\n'
        '  10 [id="node10" labelType="html" label="<b>Scan parquet </b><br><br>size of files read: 1885.0 B" tooltip="y"];\n'
        '  1 [id="node1" labelType="html" label="<br><b>AdaptiveSparkPlan</b><br><br>" tooltip="z"];\n'
    )
    assert plan_counters(dot) == {"scan_bytes": 1018.0 * 1024 + 1885.0, "python_rows": 14484}


def _store(path, duplicate: str | None = None) -> str:
    for name in checks.COLLECTIONS:
        keys = ["k1", "k2", "k3"] + (["k2"] if name == duplicate else [])
        os.makedirs(path / name)
        pq.write_table(pa.table({"_key": keys, "v": list(range(len(keys)))}), path / name / "part-0.parquet")
    return str(path)


def test_checks_catch_a_duplicated_key(tmp_path):
    assert checks.unique_keys(_store(tmp_path / "clean")) == []
    bad = checks.unique_keys(_store(tmp_path / "corrupt", duplicate="payments"))
    assert bad == ["payments: 1 duplicated _key rows"]


def test_checks_compare_payment_keys_and_digests(tmp_path):
    store = _store(tmp_path / "s")
    assert checks.payment_keys(store, {"k1", "k2", "k3"}) == []
    assert checks.payment_keys(store, {"k1", "k2"}) != []
    before = checks.digests(store)
    assert checks.digests_unchanged(before, checks.digests(store)) == []
    pq.write_table(pa.table({"_key": ["k1", "k2", "k9"], "v": [0, 1, 2]}), tmp_path / "s" / "cities" / "part-0.parquet")
    assert checks.digests_unchanged(before, checks.digests(store)) == ["cities: digest changed by re-sync"]


def test_benchmark_json_lists_every_per_layer_metric():
    assert [m["name"] for m in SPEC["per_layer"]] == per_layer_names()
    assert [w["name"] for w in SPEC["workloads"]] == ["sync_cycle", "analytics"]


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize(("workload", "trace", "section"), [
    ("sync_cycle", 0, "end_to_end"),
    ("analytics", 1, "per_layer"),
])
def test_workload_smoke_pins_the_output_schema(workload, trace, section):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    expected = {m["name"]: m["unit"] for m in SPEC[section]}
    assert {n: m["unit"] for n, m in result["metrics"].items()} == expected
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("sync_cycle", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
