"""Fused data+CDF commit write (r16, versioned._fused_write): one job
stages both halves under a tag partition and renames them into place.
Pins the edges the optimization introduced: an EMPTY data leg still
commits (its dir exists, entries are empty), the fused and two-write
paths produce identical table state + change feed, and the data files'
extra all-NULL trailing columns stay invisible through the manifest
schema."""

from __future__ import annotations

import json
import os

import pytest

from amadeus_spark.operators import versioned as V


def _state(spark, root):
    return sorted(
        map(str, V.read_version(spark, root).collect())
    )


def _feed(spark, root):
    return sorted(
        map(str, V.table_changes(spark, root, 0).collect())
    )


def test_fused_delete_all_rows_empty_data_leg(spark, tmp_path):
    """A changefeed DELETE matching EVERY row of its touched files
    writes a 0-row data leg: the commit must still land, the feed must
    carry every deleted row, and the staged commit dir must exist."""
    root = str(tmp_path / "vt")
    src = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS val")
    V.commit_append(spark, root, src.coalesce(1), ["k"])
    v, rewritten, carried, deleted = V.commit_delete_where(
        spark, root, "k >= 0", changefeed=True
    )
    assert v == 1 and deleted == 100
    assert V.read_version(spark, root).count() == 0
    feed = V.table_changes(spark, root, v, v)
    assert feed.where("_change_type = 'delete'").count() == 100
    man = V._read_manifest(spark, root, v)
    assert man["add"] == []  # empty data leg -> no entries
    # the (empty) staged commit dir exists on disk
    data_dirs = os.listdir(str(tmp_path / "vt" / "data"))
    assert len(data_dirs) >= 2


def test_fused_matches_two_write_path(spark, tmp_path, monkeypatch):
    """Same upsert committed fused and with the kill-switch off must
    yield identical state, feed rows, and manifest row totals."""
    roots = {}
    for mode, env in (("fused", "1"), ("plain", "0")):
        monkeypatch.setenv("AMADEUS_FUSE_CDF", env)
        root = str(tmp_path / f"vt_{mode}")
        base = spark.range(0, 60).selectExpr("id AS k", "id AS val")
        V.commit_append(spark, root, base.coalesce(2), ["k"])
        ups = spark.range(30, 90).selectExpr("id AS k", "id + 7 AS val")
        V.commit_upsert(spark, root, ups, "k", changefeed=True)
        roots[mode] = root
    monkeypatch.delenv("AMADEUS_FUSE_CDF", raising=False)
    assert _state(spark, roots["fused"]) == _state(spark, roots["plain"])
    f_rows = sorted(
        map(str, V.table_changes(spark, roots["fused"], 1, 1)
            .select("k", "val", "_change_type").collect())
    )
    p_rows = sorted(
        map(str, V.table_changes(spark, roots["plain"], 1, 1)
            .select("k", "val", "_change_type").collect())
    )
    assert f_rows == p_rows
    mf = V._read_manifest(spark, roots["fused"], 1)
    mp = V._read_manifest(spark, roots["plain"], 1)
    assert mf["total_rows"] == mp["total_rows"]
    # file COUNT may legitimately differ (a fused task holding only
    # change rows writes no data file) — rows/feed equality above is
    # the contract, layout is not


def test_fused_data_files_keep_logical_schema(spark, tmp_path):
    """The fused data files physically carry _change_type /
    _commit_version (all NULL) — every consumer must still see exactly
    the logical columns."""
    root = str(tmp_path / "vt")
    base = spark.range(0, 40).selectExpr("id AS k", "id AS val")
    V.commit_append(spark, root, base.coalesce(1), ["k"])
    V.commit_update_where(
        spark, root, "k % 2 = 0", {"val": "val + 1"}, changefeed=True
    )
    out = V.read_version(spark, root)
    assert out.columns == ["k", "val"]
    # the raw staged files DO carry the trailing columns (the fused
    # write's signature) — proves the commit really took the one-job
    # path and that _reader's explicit schema is what hides them
    import pyarrow.parquet as pq

    man = V._read_manifest(spark, root, 1)
    assert man["add"], "update must have rewritten at least one file"
    e = man["add"][0]
    raw = pq.read_schema(
        str(tmp_path / "vt" / "data" / e["dir"] / e["path"])
    )
    assert "_change_type" in raw.names and "_commit_version" in raw.names


# ------------------------------------------- merge: fused vs two-write

def _merge_table(spark, root, variant):
    """60 rows in 2 files, then the variant's table change."""
    base = spark.range(0, 60).selectExpr("id AS k", "id * 10 AS val")
    V.commit_append(spark, root, base.coalesce(2), ["k"])
    if variant == "check":
        V.set_check_constraint(spark, root, "nonneg", "val >= 0")
    elif variant == "mapping":
        V.rename_column(spark, root, "val", "amount")


def _merge_call(spark, root, variant, mode):
    val = "amount" if variant == "mapping" else "val"
    src = spark.range(40, 80).selectExpr("id AS k", f"id + 1 AS {val}")
    kw = {}
    if variant == "evolve":
        src = src.selectExpr("*", "concat('n', CAST(k AS string)) AS note")
        kw["evolve_schema"] = True
    if variant == "empty_legs":
        # the matched clauses never fire: 0 update and 0 delete rows,
        # the touched rows pass through and the new keys insert
        matched = [
            {"action": "delete", "condition": "s.k < 0"},
            {"action": "update", "condition": "s.k < 0",
             "set": {val: f"s.{val}"}},
        ]
        nmbs = []
    else:
        matched = [
            {"action": "delete", "condition": "s.k % 5 = 0"},
            {"action": "update",
             "set": {val: f"t.{val} + s.{val}",
                     **({"note": "s.note"} if variant == "evolve" else {})}},
        ]
        nmbs = [{"action": "delete", "condition": "k % 7 = 3"}]
    return V.commit_merge(
        spark, root, src, "k", matched=matched,
        not_matched=[{"action": "insert", "values": None}],
        not_matched_by_source=nmbs, changefeed=True, mode=mode, **kw,
    )


@pytest.mark.parametrize("mode", ["rewrite", "dv"])
@pytest.mark.parametrize("variant", ["check", "mapping", "evolve", "empty_legs"])
def test_fused_merge_matches_two_write_path(
    spark, tmp_path, monkeypatch, variant, mode
):
    """A changefeed MERGE committed through the one-pass fused write and
    through the two-write path (kill-switch off) yields the same
    snapshot, change rows and manifest row totals."""
    out = {}
    for path, env in (("fused", "1"), ("plain", "0")):
        monkeypatch.setenv("AMADEUS_FUSE_CDF", env)
        root = str(tmp_path / f"vt_{path}")
        _merge_table(spark, root, variant)
        v, _, _ = _merge_call(spark, root, variant, mode)
        man = V._read_manifest(spark, root, v)
        out[path] = (
            _state(spark, root),
            sorted(map(str, V.table_changes(spark, root, v, v).collect())),
            man["total_rows"], man.get("total_dv_rows", 0),
            json.loads(man["schema"]), man.get("column_mapping"),
        )
    monkeypatch.delenv("AMADEUS_FUSE_CDF", raising=False)
    assert out["fused"] == out["plain"]
    state, feed = out["fused"][:2]
    kinds = {r.split("_change_type='")[1].split("'")[0] for r in feed}
    if variant == "empty_legs":
        assert kinds == {"insert"}
    else:
        assert kinds == {"insert", "update_preimage", "update_postimage",
                         "delete"}
    assert len(state) == 60 + 20 - (
        0 if variant == "empty_legs" else 4 + 6
    )
