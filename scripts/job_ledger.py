"""Per-ACTION job ledger: monkeypatch every PySpark action entry point
to record (repo-frame call stack, wall time, DAGScheduler job-id delta,
digest of the normalized executed plan) so a query's job count
decomposes into named actions and two trees compare plan for plan.
Guide §1: attribute before cutting. Measurement-only — never on a query
path.

Usage: SPARK_GRAFT_PROBE="merge_into" python scripts/job_ledger.py

Each named query runs twice (warm, then measured). The measured run
prints one line per query — total jobs and its wall time split into
build (DataFrame construction, including any commit actions a lifecycle
query runs while building), plan (Catalyst planning of the final frame)
and exec (its collect) — then one line per action: jobs, seconds, plan
digest, action and the repo call sites that launched it. The digest
hashes the action's executed plan with expression ids, plan ids, paths
and uuids masked, so the same plan on another checkout or in another
temp dir digests the same: diff two ledger outputs to check that a
change left every plan as it was.

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

import hashlib
import os
import re
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LEDGER: list[dict] = []
DEPTH = [0]

#: what differs between two runs of one plan: expression and plan ids,
#: file paths (temp dirs, checkouts) and uuid-stamped names (staging
#: dirs, uuid-suffixed physical column names)
_MASKS = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\b(plan_id|id)=\d+"), r"\1=?"),
    (re.compile(r"(?:file:|hdfs:|s3a?:)?/[\w.\-/=:]*"), "<path>"),
    (re.compile(r"(?<![0-9a-f])[0-9a-f]{8}(?:[0-9a-f]{24})?(?![0-9a-f])"),
     "<uuid>"),
]


def _normalize(plan: str) -> str:
    for pat, rep in _MASKS:
        plan = pat.sub(rep, plan)
    return plan


def _digest(df) -> str:
    try:
        plan = _normalize(df._jdf.queryExecution().executedPlan().toString())
    except Exception as e:  # a plan that cannot re-plan still gets a line
        plan = f"<unplannable: {type(e).__name__}>"
    return hashlib.sha1(plan.encode()).hexdigest()[:12]


def _site() -> str:
    frames = [
        f"{os.path.relpath(fr.filename, REPO)}:{fr.lineno}"
        for fr in traceback.extract_stack()
        if fr.filename.startswith(REPO) and "job_ledger" not in fr.filename
    ]
    return " > ".join(frames[-4:])


def _wrap(cls, name, njobs, frame):
    orig = getattr(cls, name)

    def patched(self, *a, **k):
        if DEPTH[0]:  # nested action (e.g. collect inside isEmpty)
            return orig(self, *a, **k)
        DEPTH[0] += 1
        j0, t0 = njobs(), time.perf_counter()
        try:
            return orig(self, *a, **k)
        finally:
            s, jobs = time.perf_counter() - t0, njobs() - j0
            # planned after the count: re-planning launches no job
            digest = _digest(frame(self))
            DEPTH[0] -= 1
            LEDGER.append(
                {
                    "action": f"{cls.__name__}.{name}",
                    "jobs": jobs,
                    "s": round(s, 3),
                    "digest": digest,
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
            _wrap(DataFrame, act, njobs, lambda df: df)
    for act in ("parquet", "save", "json", "csv"):
        _wrap(DataFrameWriter, act, njobs, lambda w: w._df)

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
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.collect()
        t3 = time.perf_counter()
        total_j = njobs() - j0
        ledger = list(LEDGER)
        acc_j = sum(e["jobs"] for e in ledger)
        print(f"== {name}: {total_j} jobs / {t3 - t0:.2f}s = build "
              f"{t1 - t0:.2f} + plan {t2 - t1:.2f} + exec {t3 - t2:.2f}s "
              f"(ledger: {acc_j} jobs across {len(ledger)} actions)")
        # per-job stage names (what each DAGScheduler job actually ran)
        tracker = spark.sparkContext.statusTracker()
        jid = j0
        for e in ledger:
            print(f"  {e['jobs']:3d}j {e['s']:7.3f}s  {e['digest']}  "
                  f"{e['action']:28s} {e['site']}")
            if os.environ.get("SPARK_GRAFT_LEDGER_STAGES"):
                for j in range(jid, jid + e["jobs"]):
                    ji = tracker.getJobInfo(j)
                    stages = []
                    if ji:
                        for sid in ji.stageIds:
                            si = tracker.getStageInfo(sid)
                            if si:
                                stages.append(
                                    f"{si.name.split(' at ')[0]}"
                                    f"[{si.numTasks}]"
                                )
                    print(f"        job {j}: {' | '.join(stages)}")
                jid += e["jobs"]


if __name__ == "__main__":
    main()
