"""MERGE commit cost (versioned.commit_merge): Spark jobs per call on a
fresh 4-file table for each clause shape, the caches its write plan
reads, and the py4j round trips one call costs on the driver."""

from __future__ import annotations

import re

import pytest
from pyspark.errors import AnalysisException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from amadeus_spark.operators import versioned as V


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "vt")


def _next_job(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _four_file_table(spark, root):
    """400 rows in 4 files with disjoint ``k`` ranges [0,100) .. [300,400)."""
    V.commit_append(
        spark, root,
        spark.range(0, 400, 1, 4).selectExpr(
            "id AS k", "id % 3 AS g", "CAST(id AS string) AS v"
        ),
        ["k"],
    )
    assert len(V._live_entries(spark, root, 0)) == 4


def _source(spark):
    """35 rows, k in [380, 415): 20 match the last file, 15 are new."""
    return spark.range(380, 415).selectExpr(
        "id AS k", "id % 3 AS g", "concat('new', CAST(id AS string)) AS v"
    )


MATCHED = [
    {"action": "delete", "condition": "s.v LIKE '%5'"},
    {"action": "update", "set": {"v": "concat(t.v, s.v)"}},
]
NOT_MATCHED = [
    {"action": "insert", "condition": "k % 2 = 0",
     "values": {"k": "k", "g": "g", "v": "v"}},
    {"action": "insert", "values": None},
]
BY_SOURCE = [
    {"action": "delete", "condition": "k % 50 = 7"},
    {"action": "update", "condition": "k % 50 = 13",
     "set": {"v": "concat(v, '!')"}},
]

#: commit_merge keyword arguments per shape
SHAPES = {
    "rewrite_cdf": dict(matched=MATCHED, not_matched=NOT_MATCHED,
                        not_matched_by_source=BY_SOURCE, changefeed=True),
    "dv_cdf": dict(matched=MATCHED, not_matched=NOT_MATCHED,
                   not_matched_by_source=BY_SOURCE, changefeed=True,
                   mode="dv"),
    "no_cdf": dict(matched=MATCHED, not_matched=NOT_MATCHED,
                   not_matched_by_source=BY_SOURCE),
    "insert_only": dict(not_matched=NOT_MATCHED, changefeed=True),
    "by_source_only": dict(not_matched_by_source=BY_SOURCE,
                           changefeed=True),
    "composite": dict(key_col=["k", "g"], matched=MATCHED[1:],
                      not_matched=NOT_MATCHED[1:], changefeed=True),
}


def _merge(spark, root, shape):
    kw = dict(SHAPES[shape])
    key = kw.pop("key_col", "k")
    return V.commit_merge(spark, root, _source(spark), key, **kw)


#: Spark jobs one call launches: one planning action (source cache
#: fill, per-key count and global aggregate, result), the data + change
#: write with its broadcasts, and in dv mode the DV staging collect and
#: write
JOB_BUDGETS = {
    "rewrite_cdf": 6,
    "dv_cdf": 10,
    "no_cdf": 6,
    "insert_only": 5,
    "by_source_only": 5,
    "composite": 6,
}


@pytest.mark.parametrize("shape", sorted(JOB_BUDGETS))
def test_jobs_per_merge(spark, root, shape):
    _four_file_table(spark, root)
    j0 = _next_job(spark)
    _merge(spark, root, shape)
    assert _next_job(spark) - j0 == JOB_BUDGETS[shape]


@pytest.mark.parametrize("shape", ["rewrite_cdf", "no_cdf", "composite"])
def test_rewrite_write_reads_only_the_source_cache(
    spark, root, monkeypatch, shape
):
    """The rewrite-mode write plan reads no persisted frame but the
    source, which the planning action has already filled: the joined
    frame, the insert rows and the target keys are one pass, not caches
    (an unfilled cache costs its own AQE job)."""
    _four_file_table(spark, root)
    plans = []
    real = V._commit

    def capture(spark_, root_, df, *a, **k):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real(spark_, root_, df, *a, **k)

    monkeypatch.setattr(V, "_commit", capture)
    _merge(spark, root, shape)
    (plan,) = plans
    caches = re.findall(r"InMemoryRelation \[([^\]]*)\]", plan)
    source_cols = {"k", "g", "v"}
    assert caches, plan  # the source, broadcast to the join
    for cols in caches:
        assert {c.split("#")[0] for c in cols.split(", ")} == source_cols


# -------------------------------------------------------------- budget

#: py4j round trips of one call, memory-release commands not counted
#: (their number depends on Python GC timing)
BUILD_BUDGET = {
    "rewrite_cdf": 332,
    "dv_cdf": 402,
}


def _count_calls(spark, monkeypatch, root, shape) -> int:
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            calls[0] += 1
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        _merge(spark, root, shape)
    finally:
        monkeypatch.setattr(client, "send_command", send)
    return calls[0]


@pytest.mark.parametrize("shape", sorted(BUILD_BUDGET))
def test_merge_round_trip_budget(spark, tmp_path, monkeypatch, shape):
    counts = []
    for i in range(2):  # the first call warms the JVM-side caches
        r = str(tmp_path / f"vt{i}")
        _four_file_table(spark, r)
        counts.append(_count_calls(spark, monkeypatch, r, shape))
    assert counts[1] <= BUILD_BUDGET[shape], counts


def test_session_skips_call_site_capture(spark):
    """get_spark turns PySpark's per-call call-site capture off; an
    unresolvable column still fails analysis with AnalysisException."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == (
        "false"
    )
    assert not is_debugging_enabled()
    with pytest.raises(AnalysisException, match="no_such_col"):
        spark.range(3).selectExpr("no_such_col + 1").schema
    with pytest.raises(AnalysisException, match="no_such_col"):
        spark.range(3).select(F.col("no_such_col")).schema
