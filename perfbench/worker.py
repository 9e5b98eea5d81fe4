"""The measured process: boots the session, runs one workload's closed
loop and writes a JSON result file. Started by ``perfbench/run.py``;
``PERFBENCH_T0`` carries the parent's ``time.monotonic()`` at spawn, so
``setup_s`` runs from process start until the session is up, the
registry is imported and a trivial action has run.

    python -m perfbench.worker <request.json> <result.json>
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from perfbench.check import canonical_rows
from perfbench.loop import WORKLOADS, end_to_end, pass_order, run_loop
from perfbench.tracing import STAGE_FIELDS, JvmProbe, Tracer, Wrappers

#: per-query figures of the traced pass that add up to a workload figure
SUMMED = [
    *STAGE_FIELDS,
    "sched.stages",
    "sched.jobs",
    "entry.build_s",
    "entry.build_jobs",
    "catalyst.plan_s",
    "exec.collect_s",
    "jvm.gc_s",
]


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def main(request_path: str, result_path: str) -> None:
    t_spawn = float(os.environ["PERFBENCH_T0"])
    with open(request_path) as f:
        req = json.load(f)

    from amadeus_spark import get_spark, release_cached

    t = time.perf_counter()
    spark = get_spark("perfbench")
    boot_s = time.perf_counter() - t
    import __spark_entry__ as registry

    spark.range(1000).selectExpr("sum(id)").collect()
    setup_s = time.monotonic() - t_spawn

    builders = registry.queries()
    names = WORKLOADS[req["workload"]]
    data_dir = req["data_dir"]
    expected = req["expected"]
    probe = JvmProbe(spark)

    def reset() -> None:
        spark.catalog.clearCache()
        release_cached()
        spark._jvm.System.gc()

    def run_query(name: str) -> tuple[list[str], float]:
        t0 = time.perf_counter()
        df = builders[name](spark, data_dir)
        rows = df.collect()
        seconds = time.perf_counter() - t0
        return canonical_rows(df.columns, rows), seconds

    loop = run_loop(names, run_query, reset, expected, req["seed"], req["seconds"])
    peak_rss_mb = vm_hwm_mb(probe.pid()) + vm_hwm_mb()
    metrics = end_to_end(loop, setup_s, peak_rss_mb)
    samples = loop.samples()
    out = {
        "attempted": loop.attempted,
        "failed": loop.failed,
        "errors": [
            {"query": e.name, "pass": e.pass_no, "error": e.error}
            for e in loop.executions
            if not e.ok
        ],
        "metrics": metrics,
        "timed_passes": loop.timed_passes,
        "phases_s": {
            "setup": setup_s,
            "boot": boot_s,
            "warm_passes": loop.warm_s,
            "timed_passes": loop.timed_s,
        },
        "samples": samples,
        "per_query_median_s": {n: statistics.median(v) for n, v in samples.items()},
        "pass_walls_s": loop.pass_walls(),
    }
    if req["trace"]:
        # same order as the last timed pass, so the two compare query by query
        last_no, last = loop.last_pass()
        order = pass_order(names, req["seed"], last_no)
        out.update(traced_pass(spark, builders, order, data_dir, expected, reset, probe))
        out["layer"]["session.boot_s"] = boot_s
        out["layer"]["trace.overhead_s"] = out["traced_wall_s"] - sum(
            last[n] for n in out["per_query_layers"]
        )
        # failures in the traced pass count like any other execution
        out["attempted"] += len(names)
        out["failed"] += len(out["trace_errors"])
        out["errors"] += out.pop("trace_errors")
        with open(req["trace_path"], "w") as f:
            json.dump({"spans": out.pop("spans"), "per_query": out["per_query_layers"]}, f)
    with open(result_path, "w") as f:
        json.dump(out, f)
    spark.stop()


def traced_pass(spark, builders, names, data_dir, expected, reset, probe) -> dict:
    """One more pass with spans and counters. Per-layer metrics are
    sums over its queries, except ``jvm.live_heap_mb`` (the largest heap
    in use after the GC before a query), ``executor.cpu_frac``,
    ``executor.core_util`` and ``versioned.jobs_per_call`` (ratios)."""
    tracer = Tracer()
    wrappers = Wrappers(tracer, probe)
    per_query: dict[str, dict] = {}
    errors = []
    live_heap = 0.0
    probe.drain()
    probe.new_stages()  # start counting stages from here
    wrappers.install()
    try:
        for name in names:
            reset()
            live_heap = max(live_heap, probe.heap_used_mb())
            gc0, j0 = probe.gc_ms(), probe.next_job_id()
            try:
                with tracer.span("query", query=name) as q:
                    with tracer.span("entry.build"):
                        df = builders[name](spark, data_dir)
                    jb = probe.next_job_id()
                    with tracer.span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("exec.collect"):
                        rows = df.collect()
            except Exception as exc:  # counted as a failed execution
                errors.append({"query": name, "pass": "traced", "error": repr(exc)})
                continue
            if canonical_rows(df.columns, rows) != expected[name]:
                errors.append({"query": name, "pass": "traced", "error": "result differs"})
            probe.drain()
            by_name = {s["name"]: s for s in tracer.spans if s["parent"] == q["id"]}
            rec = probe.new_stages()
            rec.update(
                {
                    "wall_s": q["end"] - q["start"],
                    "entry.build_s": _dur(by_name["entry.build"]),
                    "entry.build_jobs": jb - j0,
                    "catalyst.plan_s": _dur(by_name["catalyst.plan"]),
                    "exec.collect_s": _dur(by_name["exec.collect"]),
                    "sched.jobs": probe.next_job_id() - j0,
                    "jvm.gc_s": (probe.gc_ms() - gc0) / 1e3,
                }
            )
            per_query[name] = rec
    finally:
        wrappers.uninstall()

    layer = layer_metrics(per_query, wrappers, live_heap, int(os.environ["SPARK_GRAFT_CPUS"]))
    t0 = tracer.spans[0]["start"] if tracer.spans else 0.0
    for s in tracer.spans:
        s["start"] -= t0
        s["end"] -= t0
    return {
        "layer": layer,
        "traced_wall_s": sum(r["wall_s"] for r in per_query.values()),
        "per_query_layers": per_query,
        "trace_errors": errors,
        "spans": tracer.spans,
    }


def layer_metrics(per_query: dict[str, dict], wrappers, live_heap_mb: float, cores: int) -> dict:
    """Workload figures from the traced pass's per-query figures and the
    wrapper counters (``session.boot_s`` and ``trace.overhead_s`` are
    added by the caller)."""
    layer = {k: sum(r[k] for r in per_query.values()) for k in SUMMED}
    wall = sum(r["wall_s"] for r in per_query.values())
    run_s = layer["executor.task_run_s"]
    layer.update(
        {
            "executor.cpu_frac": layer["executor.task_cpu_s"] / run_s if run_s else 0.0,
            "executor.core_util": run_s / (wall * cores) if wall else 0.0,
            "versioned.calls": wrappers.calls,
            "versioned.call_s": wrappers.call_s,
            "versioned.jobs_per_call": wrappers.call_jobs / wrappers.calls if wrappers.calls else 0.0,
            "cache.persists": wrappers.persists,
            "jvm.live_heap_mb": live_heap_mb,
        }
    )
    return layer


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
