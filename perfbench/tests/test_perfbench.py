"""Tests of the benchmark itself; no JVM needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest
from pyspark.sql import Row

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, loop, run, worker  # noqa: E402
from perfbench.check import canonical_rows  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    inputs.write_inputs(7, str(tmp_path / "a"))
    inputs.write_inputs(7, str(tmp_path / "b"))
    inputs.write_inputs(8, str(tmp_path / "c"))
    names = [f"{t}.parquet" for t in inputs.TABLES]
    match, mismatch, errors = filecmp.cmpfiles(
        tmp_path / "a", tmp_path / "b", names, shallow=False
    )
    assert sorted(match) == sorted(names) and not mismatch and not errors
    assert not filecmp.cmp(
        tmp_path / "a" / "lineitem.parquet", tmp_path / "c" / "lineitem.parquet", shallow=False
    )


def test_spark_and_duckdb_rows_share_one_canonical_form():
    import datetime

    spark_rows = [Row(b=1.5, a="x", d=datetime.date(2024, 1, 2)), Row(b=None, a="y", d=None)]
    duck_rows = [("y", float("nan"), None), ("x", 1.5, datetime.date(2024, 1, 2))]
    assert canonical_rows(["b", "a", "d"], spark_rows) == canonical_rows(["a", "b", "d"], duck_rows)


def _fake_run(results: dict, log: list):
    def run_query(name):
        log.append(name)
        value = results[name]
        if isinstance(value, Exception):
            raise value
        return value() if callable(value) else value, 0.5

    return run_query


def test_loop_counts_injected_failures():
    good = canonical_rows(["n"], [(1,)])
    flips = iter(range(100))
    results = {
        "good": good,
        "raises": RuntimeError("injected"),
        # no oracle: checked against its own first result, which later differs
        "drifts": lambda: canonical_rows(["n"], [(min(next(flips), 1),)]),
    }
    expected = {"good": good, "raises": good, "drifts": None}
    log: list[str] = []
    res = loop.run_loop(list(results), _fake_run(results, log), lambda: None, expected, 3, 0.0)
    passes = loop.WARM_PASSES + loop.MIN_TIMED_PASSES
    assert res.timed_passes == loop.MIN_TIMED_PASSES
    assert res.attempted == 3 * passes == len(log)
    assert res.failed == passes + (passes - 1)
    metrics = loop.end_to_end(res, setup_s=1.0, peak_rss_mb=10.0)
    assert metrics["success_frac"] == pytest.approx(1 - res.failed / res.attempted)
    # only successful timed executions are samples
    assert res.samples() == {"good": [0.5] * loop.MIN_TIMED_PASSES}


def test_loop_without_failures_is_fully_successful():
    good = canonical_rows(["n"], [(1,)])
    res = loop.run_loop(["a", "b"], _fake_run({"a": good, "b": good}, []), lambda: None,
                        {"a": good, "b": good}, 1, 0.0)
    metrics = loop.end_to_end(res, setup_s=2.0, peak_rss_mb=10.0)
    assert set(metrics) == {m["name"] for m in BENCH["end_to_end"]}
    assert res.failed == 0 and metrics["success_frac"] == 1.0
    assert metrics["wall_s"] == pytest.approx(1.0)
    assert metrics["query_p50_s"] == pytest.approx(0.5)
    assert res.pass_walls() == [1.0] * (loop.WARM_PASSES + loop.MIN_TIMED_PASSES)
    last_no, last = res.last_pass()
    assert last_no == loop.WARM_PASSES + loop.MIN_TIMED_PASSES - 1 and last == {"a": 0.5, "b": 0.5}


def test_cached_expectations_follow_the_oracle_sql(tmp_path, monkeypatch):
    import __spark_entry__ as registry

    calls = []

    def fake_oracle(data_dir, names, sql):
        calls.append(sql["q"])
        return {"q": [sql["q"]]}

    monkeypatch.setattr(inputs, "write_inputs", lambda seed, out: os.makedirs(out))
    monkeypatch.setattr(inputs, "oracle_expectations", fake_oracle)
    monkeypatch.setattr(registry, "oracle_sql", lambda: {"q": "SELECT 1"})
    assert inputs.prepare(str(tmp_path), 1, "w", ["q"])[1] == {"q": ["SELECT 1"]}
    assert inputs.prepare(str(tmp_path), 1, "w", ["q"])[1] == {"q": ["SELECT 1"]}
    monkeypatch.setattr(registry, "oracle_sql", lambda: {"q": "SELECT 2"})
    assert inputs.prepare(str(tmp_path), 1, "w", ["q"])[1] == {"q": ["SELECT 2"]}
    assert calls == ["SELECT 1", "SELECT 2"]


def test_timed_passes_run_until_seconds_elapse():
    ticks = iter(range(1000))
    good = canonical_rows(["n"], [(1,)])
    res = loop.run_loop(["a"], _fake_run({"a": good}, []), lambda: None, {"a": good}, 1, 10.0,
                        clock=lambda: float(next(ticks)))
    assert res.timed_passes > loop.MIN_TIMED_PASSES


def test_pass_order_is_seeded():
    names = [f"q{i}" for i in range(8)]
    assert loop.pass_order(names, 5, 1) == loop.pass_order(names, 5, 1)
    assert sorted(loop.pass_order(names, 5, 1)) == names
    assert len({tuple(loop.pass_order(names, s, 1)) for s in range(10)}) > 1


def test_every_workload_query_is_registered():
    import __spark_entry__ as registry

    assert [w["name"] for w in BENCH["workloads"]] == list(loop.WORKLOADS)
    registered = registry.queries()
    for names in loop.WORKLOADS.values():
        assert set(names) <= set(registered)


def test_result_line_schema_matches_benchmark_json():
    e2e = {m["name"] for m in BENCH["end_to_end"]}
    child = {
        "attempted": 4,
        "failed": 0,
        "metrics": {k: 1.0 for k in e2e},
        "layer": {m["name"]: 1.0 for m in BENCH["per_layer"]},
    }
    for trace, names in ((False, e2e), (True, {m["name"] for m in BENCH["per_layer"]})):
        line = run.result_line(child, trace)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert set(line["metrics"]) == set(names)
        assert line["correct"] is True
    child["failed"] = 1
    assert run.result_line(child, False)["correct"] is False


def test_traced_pass_produces_every_per_layer_metric():
    class Counters:
        calls, call_s, call_jobs, persists = 2, 1.0, 8, 1

    per_query = {
        "q": {k: 1.0 for k in worker.SUMMED} | {"wall_s": 2.0},
    }
    layer = worker.layer_metrics(per_query, Counters(), 50.0, cores=4)
    # the caller adds these two
    layer["session.boot_s"] = layer["trace.overhead_s"] = 0.0
    assert set(layer) == {m["name"] for m in BENCH["per_layer"]}
    assert layer["versioned.jobs_per_call"] == 4
    assert layer["executor.core_util"] == pytest.approx(1.0 / (2.0 * 4))


def test_benchmark_json_contract():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names))
    assert all(0 < m["bound"] <= 0.25 for m in BENCH["end_to_end"])
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])
