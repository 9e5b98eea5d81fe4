"""The keyed copy-on-write rewrite shared by ``commit_upsert`` and
``apply_changes`` (versioned._keyed_rewrite): Spark jobs per call (with
the predicate DELETE/UPDATE commits beside them), parity between the
two entry points, and the batch shapes with no usable key (empty,
all-NULL) that must touch no file."""

from __future__ import annotations

import pytest

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


def _batch(spark, ops: bool = False):
    """35 rows, k in [380, 415): 20 updates of the last file, 15 inserts.
    With ``ops``, every fifth key is a delete event."""
    df = spark.range(380, 415).selectExpr(
        "id AS k", "id % 3 AS g", "concat('new', CAST(id AS string)) AS v"
    )
    if ops:
        df = df.selectExpr(
            "*", "1L AS ts", "CASE WHEN k % 5 = 0 THEN 'D' ELSE 'U' END AS op"
        )
    return df


def _local_batch(spark):
    """The ``_batch(ops=True)`` events as a local relation: unlike the
    range batch, it carries no partitioning on ``k``, so apply_changes'
    latest-wins window adds a hash exchange (one more job)."""
    return spark.createDataFrame(
        [
            (k, k % 3, f"new{k}", 1, "D" if k % 5 == 0 else "U")
            for k in range(380, 415)
        ],
        "k long, g long, v string, ts long, op string",
    )


#: the predicate of the delete/update rows: 21 rows of the last two files
PRED = "k % 7 = 3 AND k >= 250"

#: the point-delete keys: 4 rows of the last two files
KEYS = [255, 262, 388, 399]

#: one call per shape on a fresh 4-file table
CALLS = {
    "upsert": lambda s, r, cf: V.commit_upsert(
        s, r, _batch(s), "k", changefeed=cf
    ),
    "upsert_composite": lambda s, r, cf: V.commit_upsert(
        s, r, _batch(s), ["k", "g"], changefeed=cf
    ),
    "cdc": lambda s, r, cf: V.apply_changes(
        s, r, _batch(s, ops=True), "k", "ts", changefeed=cf
    ),
    "cdc_local": lambda s, r, cf: V.apply_changes(
        s, r, _local_batch(s), "k", "ts", changefeed=cf
    ),
    "delete_rewrite": lambda s, r, cf: V.commit_delete_where(
        s, r, PRED, changefeed=cf
    ),
    "delete_dv": lambda s, r, cf: V.commit_delete_where(
        s, r, PRED, changefeed=cf, mode="dv"
    ),
    "delete_keys_rewrite": lambda s, r, cf: V.commit_delete_keys(
        s, r, KEYS, "k", changefeed=cf, mode="rewrite"
    ),
    "delete_keys_dv": lambda s, r, cf: V.commit_delete_keys(
        s, r, KEYS, "k", changefeed=cf, mode="dv"
    ),
    "update_rewrite": lambda s, r, cf: V.commit_update_where(
        s, r, PRED, {"v": "concat(v, '!')"}, changefeed=cf
    ),
    "update_dv": lambda s, r, cf: V.commit_update_where(
        s, r, PRED, {"v": "concat(v, '!')"}, changefeed=cf, mode="dv"
    ),
}

#: Spark jobs one call launches on a fresh 4-file table. Keyed: the
#: bounds pass, the commit write (with a changefeed also the key-hit
#: broadcasts, one tagged write), manifest/stat bookkeeping. Predicate
#: (delete_keys: on its key-range candidates): the file-finding scan
#: and the write (dv: the DV staging collect and the DV write too)
JOB_BUDGETS = {
    ("upsert", False): 4,
    ("upsert", True): 6,
    ("upsert_composite", False): 4,
    ("upsert_composite", True): 6,
    ("cdc", False): 5,
    ("cdc", True): 8,
    ("cdc_local", False): 6,
    ("cdc_local", True): 9,
    ("delete_rewrite", False): 3,
    ("delete_rewrite", True): 3,
    ("delete_dv", False): 4,
    ("delete_dv", True): 5,
    ("delete_keys_rewrite", False): 3,
    ("delete_keys_rewrite", True): 3,
    ("delete_keys_dv", False): 4,
    ("delete_keys_dv", True): 5,
    ("update_rewrite", False): 3,
    ("update_rewrite", True): 3,
    ("update_dv", False): 5,
    ("update_dv", True): 5,
}


@pytest.mark.parametrize("call,cf", sorted(JOB_BUDGETS))
def test_jobs_per_keyed_rewrite(spark, root, call, cf):
    _four_file_table(spark, root)
    j0 = _next_job(spark)
    CALLS[call](spark, root, cf)
    assert _next_job(spark) - j0 == JOB_BUDGETS[(call, cf)]


def _rows(df):
    return sorted(map(str, df.collect()))


def _feed(spark, root, v):
    return _rows(
        V.table_changes(spark, root, v, v).drop("_commit_timestamp")
    )


def test_upsert_equals_delete_free_apply_changes(spark, tmp_path, monkeypatch):
    """``commit_upsert(rows)`` and ``apply_changes(rows + ts/op)`` with no
    delete event: same snapshot, same change rows, same conflict footprint."""
    roots = {m: str(tmp_path / m) for m in ("upsert", "cdc")}
    batch = _batch(spark)
    changes = batch.selectExpr("*", "1L AS ts", "'U' AS op")
    run = {
        "upsert": lambda r: V.commit_upsert(
            spark, r, batch, "k", changefeed=True
        ),
        "cdc": lambda r: V.apply_changes(
            spark, r, changes, "k", "ts", changefeed=True
        ),
    }
    for r in roots.values():
        _four_file_table(spark, r)

    # the conflict footprint, taken on ONE table so file identities match
    conflicts = {}
    real = V._commit

    class _Abort(Exception):
        pass

    def capture(*a, **k):
        conflicts[name] = k["conflict"]
        raise _Abort

    monkeypatch.setattr(V, "_commit", capture)
    for name, fn in run.items():
        with pytest.raises(_Abort):
            fn(roots["upsert"])
    monkeypatch.setattr(V, "_commit", real)
    assert conflicts["upsert"] == conflicts["cdc"]
    assert conflicts["upsert"]["kind"] == "pruned"
    assert len(conflicts["upsert"]["read"]) == 1

    out = {name: fn(roots[name]) for name, fn in run.items()}
    assert out["upsert"][0] == out["cdc"][0] == 1
    assert _rows(V.read_version(spark, roots["upsert"])) == _rows(
        V.read_version(spark, roots["cdc"])
    )
    assert _feed(spark, roots["upsert"], 1) == _feed(spark, roots["cdc"], 1)
    kinds = {
        r["_change_type"]
        for r in V.table_changes(spark, roots["cdc"], 1, 1).collect()
    }
    assert kinds == {"update_preimage", "update_postimage", "insert"}


_NO_KEY = {
    "empty": [],
    "null_key": [(None, 7, "nullkey")],
}


@pytest.mark.parametrize("entry", ["upsert", "cdc"])
@pytest.mark.parametrize("shape", sorted(_NO_KEY))
def test_keyless_batch_touches_no_file(spark, root, entry, shape):
    """A batch with no non-NULL key (empty, or only NULL keys) can match
    no row: every file carries, and its rows land as pure inserts."""
    _four_file_table(spark, root)
    before = _rows(V.read_version(spark, root))
    old_files = {(e["dir"], e["path"]) for e in V._live_entries(spark, root, 0)}
    batch = spark.createDataFrame(_NO_KEY[shape], "k long, g long, v string")
    if entry == "upsert":
        v, rewritten, carried = V.commit_upsert(
            spark, root, batch, "k", changefeed=True
        )
        assert (rewritten, carried) == (0, 4)
    else:
        v, n_up, n_del = V.apply_changes(
            spark, root, batch.selectExpr("*", "1L AS ts", "'U' AS op"),
            "k", "ts", changefeed=True,
        )
        assert (n_up, n_del) == (len(_NO_KEY[shape]), 0)
    assert v == 1
    live = {(e["dir"], e["path"]) for e in V._live_entries(spark, root, v)}
    assert old_files <= live
    assert _rows(V.read_version(spark, root)) == sorted(
        before + _rows(batch)
    )
    feed = V.table_changes(spark, root, v, v)
    assert {r["_change_type"] for r in feed.collect()} <= {"insert"}
    assert feed.count() == len(_NO_KEY[shape])
    assert _rows(feed.select("k", "g", "v")) == _rows(batch)
