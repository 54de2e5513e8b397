"""The benchmark's own tests: seeded inputs are reproducible, and every
metric the benchmark prints is declared in BENCHMARK.json.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import spec  # noqa: E402

SMALL = {"documents": 60, "embeddings": 20, "events": 300, "users": 10, "customer": 30,
         "orders": 100, "supplier": 5, "part": 8, "lineitem": 20}


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_same_seed_same_fingerprint_other_seed_differs(tmp_path):
    a = gen.stage(str(tmp_path / "a"), 7, SMALL)
    b = gen.stage(str(tmp_path / "b"), 7, SMALL)
    c = gen.stage(str(tmp_path / "c"), 8, SMALL)
    assert a["fingerprint"] == b["fingerprint"]
    assert a["fingerprint"] != c["fingerprint"]
    assert a["tables"] == b["tables"]
    assert set(a["tables"]) == set(gen.TABLES)
    assert {t: a["tables"][t]["rows"] for t in SMALL if t != "users"} == {
        t: n for t, n in SMALL.items() if t != "users"}


def test_stage_regenerates_only_when_stale(tmp_path):
    d = str(tmp_path / "d")
    first = gen.stage(d, 3, SMALL)
    path = os.path.join(d, "events.parquet")
    mtime = os.stat(path).st_mtime_ns
    assert gen.stage(d, 3, SMALL) == first
    assert os.stat(path).st_mtime_ns == mtime  # fresh: not rewritten
    with open(path, "ab") as fh:
        fh.write(b"x")
    assert not gen.is_fresh(d, 3, SMALL)
    assert gen.stage(d, 3, SMALL)["fingerprint"] == first["fingerprint"]
    assert gen.stage(d, 4, SMALL)["seed"] == 4
    assert not gen.is_fresh(d, 4, {**SMALL, "documents": 61})


def test_benchmark_json_matches_spec():
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(spec.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == spec.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == spec.PER_LAYER
    assert bench["command"] == ["python3", "perfbench/run.py"]


def _fake_pass(workload: str, traced: bool) -> dict:
    names = spec.WORKLOADS[workload]
    batches = [{"duration_ms": {"triggerExecution": 100 + i, "addBatch": 50},
                "input_rows": 10, "state_rows_total": 1, "state_rows_updated": 1,
                "state_memory_bytes": 1, "timestamp": "2026-01-01T00:00:00.000Z"}
               for i in range(12)] if workload == "stream" else []
    out = {"setup_s": 10.0, "wall_s": 20.0, "peak_rss_mb": 1000.0, "check_s": 1.0,
           "queries": [{"query": q, "error": None, "build_s": 1.0, "sink_s": 1.0}
                       for q in names],
           "batches": batches}
    if traced:
        out["trace"] = {"totals": {"suite.build_s": 5.0, "operators.dedup_s": 1.0},
                        "per_query": {}, "spans": [], "jobs": [], "unattributed_jobs": 0}
    return out


@pytest.mark.parametrize("workload", list(spec.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_every_printed_metric_is_declared(workload, trace):
    bench = _benchmark_json()
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    manifest = {"tables": {t: {"rows": 1, "bytes": 1} for t in gen.TABLES}}
    timed = _fake_pass(workload, False)
    traced = _fake_pass(workload, True) if trace else None
    lines, result = run.summarize(workload, 1, manifest, timed, traced)
    expected = bench["per_layer"] if trace else bench["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in expected}
    for name, m in result["metrics"].items():
        assert m["unit"] == declared[name]
    for line in lines:
        if line.startswith(("perfbench ", "  ")):
            continue  # header and per-query detail
        name, _value, unit = line.split()[:3]
        assert declared.get(name) == unit, line


def test_tail_percentile_leaves_ten_beyond():
    assert layers.tail_percentile(list(range(10))) is None
    pct, value = layers.tail_percentile(list(range(40)))
    assert value == 29 and pct == 75.0


def test_clear_run_state_keeps_fixtures(tmp_path):
    keep_dir = tmp_path / "spark_graft_ab_granules"
    keep_dir.mkdir()
    (keep_dir / "g.h5").write_bytes(b"x")
    (keep_dir / "g.h5.ok").write_text("v1")
    (tmp_path / "spark_graft_ab_store").mkdir()
    (tmp_path / "spark_graft_ab_store.ok").write_text("v1")
    (tmp_path / "spark_graft_ab_lshdedup_ckpt").mkdir()
    (tmp_path / "deepicedrain_sink_ab").mkdir()
    run.clear_run_state(str(tmp_path))
    assert sorted(os.listdir(tmp_path)) == [
        "spark_graft_ab_granules", "spark_graft_ab_store", "spark_graft_ab_store.ok"]


def test_missing_program_exits_without_result(tmp_path):
    import shutil
    import subprocess

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "icesat", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
