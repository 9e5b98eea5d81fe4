"""Per-query phase probe: split each registry query's wall time into
build (DataFrame construction — includes embedded commit actions for
the lifecycle queries), plan (Catalyst analysis+optimization+physical
planning of the FINAL frame), and exec (collect), plus the number of
Spark jobs launched end-to-end (DAGScheduler job-id delta). Guide §1:
decide whether a query is action-count bound, planning bound, or
execution bound BEFORE touching it.

Usage: SPARK_GRAFT_PROBE="a,b,c" python scripts/probe_phases.py
(defaults to the full registry; sf dir from SPARK_GRAFT_SF_DIR).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _njobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def main() -> None:
    from amadeus_spark import get_spark, release_cached

    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    queries = entrymod.queries()
    only = os.environ.get("SPARK_GRAFT_PROBE")
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        queries = {n: queries[n] for n in names}

    spark = get_spark("amadeus_spark_probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    out = {}
    for name, fn in queries.items():
        # warm run (codegen/JIT at the probed sf)
        spark.catalog.clearCache()
        release_cached()
        try:
            fn(spark, sf_dir).collect()
        except Exception as e:
            out[name] = {"err": repr(e)[:120]}
            continue
        spark.catalog.clearCache()
        release_cached()
        spark._jvm.System.gc()
        j0 = _njobs(spark)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.collect()
        t3 = time.perf_counter()
        out[name] = {
            "total": round(t3 - t0, 3),
            "build": round(t1 - t0, 3),
            "plan": round(t2 - t1, 3),
            "exec": round(t3 - t2, 3),
            "jobs": _njobs(spark) - j0,
        }
        print(name, json.dumps(out[name]), flush=True)


if __name__ == "__main__":
    main()
