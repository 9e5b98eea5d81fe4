"""Per-ACTION job ledger: monkeypatch every PySpark action entry point
to record (repo-frame call stack, wall time, DAGScheduler job-id delta)
so a lifecycle query's job count decomposes into named actions. Guide
§1: attribute before cutting. Measurement-only — never on a query path.

Usage: SPARK_GRAFT_PROBE="merge_into" python scripts/job_ledger.py

Each named query runs twice (warm, then measured) and the measured run
prints its total jobs and one line per action: jobs, seconds, action
and the repo call sites that launched it.

Environment:
  SPARK_GRAFT_PROBE          comma-separated registry query names
                             (default: merge_into)
  SPARK_GRAFT_SF_DIR         scale-factor directory the queries read
                             (default: the sf0.1 testdata directory;
                             the benchmark reads perfbench/data/sf0.01)
  SPARK_GRAFT_LEDGER_STAGES  set (any value) to also list, under each
                             action, every job it launched with its
                             stage names and task counts — e.g. an AQE
                             cache stage, a broadcast or a write
  SPARK_GRAFT_CPUS           local cores for the session (get_spark)
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LEDGER: list[dict] = []
DEPTH = [0]


def _site() -> str:
    frames = [
        f"{os.path.relpath(fr.filename, REPO)}:{fr.lineno}"
        for fr in traceback.extract_stack()
        if fr.filename.startswith(REPO) and "job_ledger" not in fr.filename
    ]
    return " > ".join(frames[-4:])


def _wrap(cls, name, njobs):
    orig = getattr(cls, name)

    def patched(self, *a, **k):
        if DEPTH[0]:  # nested action (e.g. collect inside isEmpty)
            return orig(self, *a, **k)
        DEPTH[0] += 1
        j0, t0 = njobs(), time.perf_counter()
        try:
            return orig(self, *a, **k)
        finally:
            DEPTH[0] -= 1
            LEDGER.append(
                {
                    "action": f"{cls.__name__}.{name}",
                    "jobs": njobs() - j0,
                    "s": round(time.perf_counter() - t0, 3),
                    "site": _site(),
                }
            )

    setattr(cls, name, patched)


def main() -> None:
    # the abstract pyspark.sql.DataFrame dispatches per-call to the
    # session's concrete class — patch the CLASSIC class or actions
    # never route through the wrapper
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from amadeus_spark import get_spark, release_cached

    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = [
        n.strip()
        for n in os.environ.get("SPARK_GRAFT_PROBE", "merge_into").split(",")
        if n.strip()
    ]
    queries = entrymod.queries()

    spark = get_spark("amadeus_spark_ledger")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def njobs() -> int:
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    for act in ("collect", "count", "isEmpty", "take", "toPandas",
                "localCheckpoint"):
        if hasattr(DataFrame, act):
            _wrap(DataFrame, act, njobs)
    for act in ("parquet", "save", "json", "csv"):
        _wrap(DataFrameWriter, act, njobs)

    for name in names:
        fn = queries[name]
        # warm
        spark.catalog.clearCache()
        release_cached()
        LEDGER.clear()
        fn(spark, sf_dir).collect()
        # measured
        spark.catalog.clearCache()
        release_cached()
        spark._jvm.System.gc()
        LEDGER.clear()
        j0, t0 = njobs(), time.perf_counter()
        fn(spark, sf_dir).collect()
        total_s = time.perf_counter() - t0
        total_j = njobs() - j0
        ledger = list(LEDGER)
        acc_j = sum(e["jobs"] for e in ledger)
        acc_s = sum(e["s"] for e in ledger)
        print(f"== {name}: {total_j} jobs / {total_s:.2f}s "
              f"(ledger: {acc_j} jobs / {acc_s:.2f}s across "
              f"{len(ledger)} actions)")
        # per-job stage names (what each DAGScheduler job actually ran)
        tracker = spark.sparkContext.statusTracker()
        jid = j0
        for e in ledger:
            print(f"  {e['jobs']:3d}j {e['s']:7.3f}s  {e['action']:28s} "
                  f"{e['site']}")
            if os.environ.get("SPARK_GRAFT_LEDGER_STAGES"):
                for j in range(jid, jid + e["jobs"]):
                    ji = tracker.getJobInfo(j)
                    names = []
                    if ji:
                        for sid in ji.stageIds:
                            si = tracker.getStageInfo(sid)
                            if si:
                                names.append(
                                    f"{si.name.split(' at ')[0]}"
                                    f"[{si.numTasks}]"
                                )
                    print(f"        job {j}: {' | '.join(names)}")
                jid += e["jobs"]


if __name__ == "__main__":
    main()
