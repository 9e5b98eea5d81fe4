"""Predicate DML in its two modes: ``commit_delete_where``,
``commit_delete_keys`` and ``commit_update_where`` copy-on-write
(``mode="rewrite"``) and merge-on-read (``mode="dv"``) must leave the
same snapshot, the same change feed and the same returned row counts.
The sequence per entry point covers a row whose predicate is NULL (kept
and never updated), a predicate that matches nothing (no commit) and a
second commit over a file that already carries a deletion vector."""

from __future__ import annotations

import pytest

from amadeus_spark.operators import versioned as V


def _table(spark, root):
    """400 rows in 4 files with disjoint ``k`` ranges [0,100) ..
    [300,400); ``k`` is NULL where id % 50 = 7 and ``g`` where id % 10
    = 0, so both predicates below see NULL rows in every file."""
    V.commit_append(
        spark, root,
        spark.range(0, 400, 1, 4).selectExpr(
            "IF(id % 50 = 7, NULL, id) AS k",
            "IF(id % 10 = 0, NULL, id % 3) AS g",
            "CAST(id AS string) AS v",
        ),
        ["k"],
    )


def _delete_where(spark, root, cf, mode, step):
    pred = {
        # g IS NULL on k % 10 = 0 rows: the predicate is NULL there
        "hit": "g = 1 AND k >= 200",
        "none": "g = 5",
        # the [200,300) and [300,400) files carry the first step's DV
        "again": "g = 2 AND k >= 250",
    }[step]
    return V.commit_delete_where(spark, root, pred, changefeed=cf, mode=mode)


def _delete_keys(spark, root, cf, mode, step):
    keys = {
        # every k = 7 mod 50 row has a NULL key: k IN (..) is NULL there
        "hit": [201, 210, 305, 388, 399],
        # inside the first file's range, absent from it
        "none": [7, 57],
        "again": [202, 306, 389],
    }[step]
    return V.commit_delete_keys(
        spark, root, keys, "k", changefeed=cf, mode=mode
    )


def _update_where(spark, root, cf, mode, step):
    pred = {
        "hit": "g = 1 AND k >= 200",
        "none": "g = 5",
        "again": "g = 2 AND k >= 250",
    }[step]
    return V.commit_update_where(
        spark, root, pred, {"v": "concat(v, '!')", "g": "g + 10"},
        changefeed=cf, mode=mode,
    )


ENTRIES = {
    "delete_where": _delete_where,
    "delete_keys": _delete_keys,
    "update_where": _update_where,
}


def _rows(df):
    return sorted(map(str, df.collect()))


def _run(spark, root, entry, cf, mode):
    """The three steps on a fresh table: per step the returned version
    and row count (a DELETE's 4th element; UPDATE returns none)."""
    _table(spark, root)
    out = []
    for step in ("hit", "none", "again"):
        before = V.current_version(spark, root)
        res = ENTRIES[entry](spark, root, cf, mode, step)
        if step == "none":
            assert res[0] == before == V.current_version(spark, root)
            assert res[1] == 0 and res[2] == len(
                V._live_entries(spark, root, before)
            )
        else:
            assert res[0] == before + 1
        out.append((res[0], res[3] if len(res) == 4 else None))
    feed = (
        _rows(V.table_changes(spark, root, 1).drop("_commit_timestamp"))
        if cf else None
    )
    return out, _rows(V.read_version(spark, root)), feed


@pytest.mark.parametrize("cf", [False, True])
@pytest.mark.parametrize("entry", sorted(ENTRIES))
def test_rewrite_and_dv_modes_agree(spark, tmp_path, entry, cf):
    rw = _run(spark, str(tmp_path / "rw"), entry, cf, "rewrite")
    dv = _run(spark, str(tmp_path / "dv"), entry, cf, "dv")
    assert rw == dv
    returned, state, feed = rw
    if entry != "update_where":
        # the NULL-predicate rows survive; every step deleted something
        assert all(n > 0 for v, n in (returned[0], returned[2]))
        assert returned[1][1] == 0
        assert len(state) == 400 - returned[0][1] - returned[2][1]
    else:
        assert len(state) == 400
        # a NULL predicate never fires the SET: g stays NULL, v intact
        assert not any("!" in r and "g=None" in r for r in state)
    if cf:
        kinds = {r.split("_change_type='")[1].split("'")[0] for r in feed}
        assert kinds == (
            {"update_preimage", "update_postimage"}
            if entry == "update_where" else {"delete"}
        )
    # dv mode left the first step's DV'd files live, DV attached, and
    # the second step re-pointed one of them at a fresh DV
    ents = V._live_entries(spark, str(tmp_path / "dv"), returned[2][0])
    assert sum(1 for e in ents if e.get("dv")) >= 1
