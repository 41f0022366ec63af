"""The benchmark's own tests, at the tiny scale (sf0.001).

Run from the repository root:  python3 -m pytest perfbench/tests -q
Each Spark workload run starts its own JVM, so the module takes minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run as bench  # noqa: E402
from spans import self_times  # noqa: E402

# a traced op's spans must cover its wall time up to this remainder
UNSPANNED_MAX_MS, UNSPANNED_MAX_SHARE = 5.0, 0.10


def _bench(root: Path, workload: str, trace: int, seconds: float = 1):
    out = subprocess.run(
        [sys.executable, str(root / "perfbench" / "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", str(seconds),
         "--trace", str(trace), "--scale", "tiny"],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    record = root / ".bench_build" / "perfbench" / "records" / (
        f"{workload}-seed7-trace{trace}.json")
    return lines, json.loads(lines[-1]), json.loads(record.read_text())


@pytest.fixture(scope="module")
def traced():
    return {w: _bench(ROOT, w, 1) for w in bench.WORKLOADS}


def _failures_are_reported(lines, result, record):
    failed_ops = {r["op"] for r in record["records"] if r["failed"]}
    assert result["failed"] == sum(r["failed"] for r in record["records"])
    assert result["correct"] == (result["failed"] == 0)
    assert set(record["failures"]) == failed_ops
    assert {ln.split(":")[0][5:] for ln in lines if ln.startswith("FAIL ")} == (
        failed_ops)
    assert record["failed_share"] == result["failed"] / result["attempted"]


@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    lines, result, record = _bench(ROOT, workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    _failures_are_reported(lines, result, record)
    assert result["metrics"] == {
        k: {"value": result["metrics"][k]["value"], "unit": u}
        for k, u in bench.END_TO_END.items()
    }
    assert all(v["value"] > 0 for v in result["metrics"].values())
    if workload == "pql_compile":
        # every cold pass, the fresh interpreters' too, ran every op and
        # went through the same check as the warm passes
        cold = {}
        for r in record["records"]:
            if r["pass"].startswith("cold"):
                cold.setdefault(r["pass"], set()).add(r["op"])
        assert len(cold) == bench.COMPILE_SETUP_REPS
        assert all(ops == set(cold["cold"]) for ops in cold.values())
        assert len(cold["cold"]) == record["ops"]
        assert len(record["setup_reps_s"]) == bench.COMPILE_SETUP_REPS
    else:
        assert len(record["setup_reps_s"]) == 1
        # the peak counts the JVM's memory, not only this process's
        assert len(record["peak_rss_by_process_mb"]) == 2
        assert result["metrics"]["peak_rss_mb"]["value"] == pytest.approx(
            sum(record["peak_rss_by_process_mb"]))


@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_traced_run_prints_every_per_layer_metric(traced, workload):
    lines, result, record = traced[workload]
    _failures_are_reported(lines, result, record)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == (
        bench.PER_LAYER)


def test_benchmark_json_names_every_metric():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(bench.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == (
        bench.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == (
        bench.PER_LAYER)


def test_layers_per_workload(traced):
    m = {w: {k: v["value"] for k, v in r[1]["metrics"].items()}
         for w, r in traced.items()}
    assert m["pql_compile"]["lexer.tokens"] > 0
    assert m["pql_compile"]["sql_backend.refusals"] == 5
    assert m["pql_compile"]["spark.jobs"] == 0
    assert m["pql_cached"]["engine.fallbacks"] == 5
    assert m["pql_cached"]["compiler.py4j_calls"] > 0
    assert m["pql_cached"]["spark.jobs"] > 0
    assert m["curate_dedup"]["lexer.tokens"] == 0
    assert m["curate_dedup"]["operators.clusters.eager_jobs"] > 0
    inputs = traced["pql_cached"][2]["user_inputs"]
    assert inputs["persisted"] == inputs["cached_after_setup"] == 3
    assert m["pql_cached"]["cache.user_inputs_evicted"] == (
        inputs["evicted_at_end"])


def test_cache_readings_follow_the_cache_manager():
    """The eviction count and the in-memory-scan flag read what Spark's
    cache manager and executed plan say about the caller's frames."""
    os.environ.setdefault("SPARK_DRIVER_MEM", bench.DRIVER_MEM)
    sys.path.insert(0, str(ROOT))
    from pql_spark.sources import build_session

    spark = build_session("perfbench-test", master="local[1]",
                          shuffle_partitions=1)
    try:
        run = SimpleNamespace(spark=spark, sc=spark.sparkContext,
                              group="pb-test")
        run.sc.setJobGroup(run.group, "test")

        def reads_in_memory(df):
            q = df.filter("id > 3")
            return bench.spark_stats(
                run, {"main": (q.columns, q.collect(), q)})["inmem_scan"]

        kept, dropped = spark.range(10).persist(), spark.range(20).persist()
        kept.count(), dropped.count()
        run.frames = {"kept": kept, "dropped": dropped}
        assert bench._evicted_user_inputs(run) == 0
        assert reads_in_memory(dropped)
        dropped.unpersist(blocking=True)
        assert bench._evicted_user_inputs(run) == 1
        assert not reads_in_memory(dropped)
        assert reads_in_memory(kept)
    finally:
        spark.stop()


@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_layer_self_times_add_up_to_op_wall_time(traced, workload):
    _, _, record = traced[workload]
    spans = self_times(record["spans"])
    checked = 0
    for rec in record["records"]:
        if not rec["traced"]:
            continue
        key = f"{rec['pass']}/{rec['op']}"
        mine = [s for s in spans if s["op"] == key]
        assert all(s["self_ms"] >= -1e-6 for s in mine), key
        roots = sum(s["ms"] for s in mine if s["parent"] is None)
        selfs = sum(s["self_ms"] for s in mine)
        assert selfs == pytest.approx(roots, rel=1e-9, abs=1e-6)
        remainder = rec["wall_ms"] - selfs
        assert -1e-6 <= remainder <= max(
            UNSPANNED_MAX_MS, UNSPANNED_MAX_SHARE * rec["wall_ms"]), key
        checked += 1
    assert checked > 0


def _copy_checkout(tmp_path: Path) -> Path:
    root = tmp_path / "checkout"
    shutil.copytree(HERE, root / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(ROOT / "BENCHMARK.json", root / "BENCHMARK.json")
    return root


def test_corrupted_oracle_row_counts_as_failure(tmp_path):
    root = _copy_checkout(tmp_path)
    (root / "pql_spark").symlink_to(ROOT / "pql_spark")
    path = root / "perfbench" / "inputs" / "workloads.json"
    inputs = json.loads(path.read_text())
    q = next(q for q in inputs["pql"] if q["name"] == "pql_q1_pricing")
    q["oracles"]["main"] = (
        f"SELECT * REPLACE (n + 1 AS n) FROM ({q['oracles']['main']})")
    path.write_text(json.dumps(inputs))
    lines, result, record = _bench(root, "pql_cached", 0)
    _failures_are_reported(lines, result, record)
    q1 = [r for r in record["records"] if r["op"] == "pql_q1_pricing"]
    assert len(q1) >= 2 and all(r["failed"] for r in q1)
    assert "sorted row" in record["failures"]["pql_q1_pricing"]
    assert not result["correct"]


def test_refuses_to_run_without_the_program(tmp_path):
    root = _copy_checkout(tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pql_cached",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=root, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
