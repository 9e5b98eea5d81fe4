"""spark-amadeus benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Run from the repository root. The run

1. writes the seed's inputs (rows of every base table permuted by the
   seed) and their DuckDB oracle results, cached under
   ``perfbench/.work/inputs``; this is outside every measured section;
2. starts ``perfbench.worker`` in a child process with the repository on
   ``PYTHONPATH`` (Python UDF workers import ``amadeus_spark`` too),
   ``SPARK_GRAFT_CPUS`` set to the usable core count and private
   ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` inside ``perfbench/.work``, which
   are removed afterwards;
3. records noise diagnostics around the child: CPU steal seconds from
   ``/proc/stat``, a fixed pure-Python spin in ms and the 1-minute load;
4. writes a run record to ``perfbench/.work/records`` (and, traced, the
   spans to ``perfbench/.work/traces``) and prints, as the last line, the
   result: ``correct``, ``attempted``, ``failed`` and the end-to-end
   metrics (``--trace 0``) or the per-layer metrics of one extra traced
   pass (``--trace 1``).

``peak_rss_mb`` is the peak resident set (VmHWM) of the driver JVM plus
that of the driver Python process, over the warm and timed passes. The
JVM runs with a fixed 512 MB young generation and a heap that shrinks
after each GC. Python UDF worker processes are not covered; no query of
the current workloads starts them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: a run must end within 180 s; the child is killed at this point of it
DEADLINE_S = 172

def spin_ms() -> float:
    """A fixed pure-Python spin: its time moves only with how fast the
    host runs this process."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(500_000):
        acc = (acc * 1103515245 + i) & 0xFFFFFFFF
    return (time.perf_counter() - t0) * 1e3


def steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def noise_snapshot() -> dict:
    return {"spin_ms": spin_ms(), "load1": os.getloadavg()[0], "steal_s": steal_s()}


def metric_units(section: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def result_line(child: dict, trace: bool) -> dict:
    values = child["layer"] if trace else child["metrics"]
    units = metric_units("per_layer" if trace else "end_to_end")
    return {
        "correct": child["failed"] == 0,
        "attempted": child["attempted"],
        "failed": child["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def child_env(run_dir: str) -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = local
    env["TMPDIR"] = tmp
    env["PYSPARK_PYTHON"] = sys.executable
    # Keep the JVMs' temporary files inside the run directory too. A fixed
    # young generation and a heap that shrinks after each GC make the JVM's
    # resident set follow what the queries hold: with G1's adaptive sizing
    # it follows pause times, and so the host's speed, and the peak of
    # identical runs spreads by a quarter.
    env["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        " -Xmn512m -XX:MinHeapFreeRatio=10 -XX:MaxHeapFreeRatio=20"
    )
    return env


def run_child(request: dict, run_dir: str, log_path: str, timeout: float) -> dict:
    req_path = os.path.join(run_dir, "request.json")
    res_path = os.path.join(run_dir, "result.json")
    with open(req_path, "w") as f:
        json.dump(request, f)
    env = child_env(run_dir)
    env["PERFBENCH_T0"] = repr(time.monotonic())
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", req_path, res_path],
            cwd=run_dir,
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
    if code != 0 or not os.path.exists(res_path):
        raise RuntimeError(
            f"worker {'timed out' if code is None else f'exited with {code}'}; log: {log_path}"
        )
    with open(res_path) as f:
        return json.load(f)


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's process group (the JVM,
    Python UDF workers) and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (
        os.path.isdir(os.path.join(ROOT, "amadeus_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"no spark-amadeus checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs
    from perfbench.loop import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    names = WORKLOADS[args.workload]
    t_start = time.monotonic()
    data_dir, expected = inputs.prepare(WORK, args.seed, args.workload, names)
    prepare_s = time.monotonic() - t_start

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    for sub in ("records", "traces", "logs"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    request = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "data_dir": data_dir,
        "expected": expected,
        "trace_path": os.path.join(WORK, "traces", f"{tag}.json"),
    }
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    before = noise_snapshot()
    try:
        child = run_child(
            request,
            run_dir,
            os.path.join(WORK, "logs", f"{tag}.log"),
            timeout=DEADLINE_S - (time.monotonic() - t_start),
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    after = noise_snapshot()

    line = result_line(child, bool(args.trace))
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "queries": names,
        "result": line,
        "timed_passes": child["timed_passes"],
        "phases_s": {"prepare": prepare_s, **child["phases_s"], "run": time.monotonic() - t_start},
        "samples": child["samples"],
        "sample_count": sum(len(v) for v in child["samples"].values()),
        "per_query_median_s": child["per_query_median_s"],
        "pass_walls_s": child["pass_walls_s"],
        "end_to_end": child["metrics"],
        "errors": child["errors"],
        "noise": {
            "spin_ms_before": before["spin_ms"],
            "spin_ms_after": after["spin_ms"],
            "load1_before": before["load1"],
            "steal_s": after["steal_s"] - before["steal_s"],
        },
    }
    if args.trace:
        record["per_layer"] = child["layer"]
        record["per_query_layers"] = child["per_query_layers"]
    with open(os.path.join(WORK, "records", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: record[k] for k in ("sample_count", "timed_passes", "phases_s", "noise")}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
