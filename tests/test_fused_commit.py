"""Fused data+CDF commit write (versioned._fused_write): one job
stages both halves of a tagged commit frame under a tag partition and
renames them into place. Pins the edges: an EMPTY data leg still
commits (its dir exists, entries are empty), the fused and two-write
(object-store, ``_fuse_ok`` false) paths produce identical table state,
change feed and manifest totals for every changefeed commit, the data
files' extra all-NULL trailing columns stay invisible through the
manifest schema, a table column named like a change-row column is
refused before anything is written, and one named like a staging
column changes nothing."""

from __future__ import annotations

import json
import os

import pytest

from amadeus_spark.operators import versioned as V


def _state(spark, root):
    return sorted(
        map(str, V.read_version(spark, root).collect())
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
    """Same upsert committed fused and through the two-write path must
    yield identical state, feed rows, and manifest row totals. File
    COUNT may legitimately differ (a fused task holding only change
    rows writes no data file) — rows/feed equality is the contract,
    layout is not."""
    _both_paths(
        spark, tmp_path, monkeypatch,
        lambda root: V.commit_append(
            spark, root,
            spark.range(0, 60).selectExpr("id AS k", "id AS val").coalesce(2),
            ["k"],
        ),
        lambda root: V.commit_upsert(
            spark, root,
            spark.range(30, 90).selectExpr("id AS k", "id + 7 AS val"),
            "k", changefeed=True,
        ),
    )


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


# ------------------------------------------- fused vs two-write parity

def _both_paths(spark, tmp_path, monkeypatch, setup, call):
    """Run ``setup`` then the changefeed commit ``call`` on one fresh
    table per write path (fused, then two-write); assert both yield the
    same snapshot, change rows, manifest row/DV totals, schema and
    column mapping, and return them."""
    out = {}
    for path in ("fused", "plain"):
        if path == "plain":
            monkeypatch.setattr(V, "_fuse_ok", lambda root: False)
        root = str(tmp_path / f"vt_{path}")
        setup(root)
        v = call(root)[0]
        man = V._read_manifest(spark, root, v)
        out[path] = (
            _state(spark, root),
            sorted(map(str, V.table_changes(spark, root, v, v).collect())),
            man["total_rows"], man.get("total_dv_rows", 0),
            json.loads(man["schema"]), man.get("column_mapping"),
        )
    monkeypatch.undo()
    assert out["fused"] == out["plain"]
    return out["fused"]


def _kinds(feed):
    return {r.split("_change_type='")[1].split("'")[0] for r in feed}


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
    through the two-write path yields the same snapshot, change rows
    and manifest row totals."""
    state, feed = _both_paths(
        spark, tmp_path, monkeypatch,
        lambda root: _merge_table(spark, root, variant),
        lambda root: _merge_call(spark, root, variant, mode),
    )[:2]
    kinds = _kinds(feed)
    if variant == "empty_legs":
        assert kinds == {"insert"}
    else:
        assert kinds == {"insert", "update_preimage", "update_postimage",
                         "delete"}
    assert len(state) == 60 + 20 - (
        0 if variant == "empty_legs" else 4 + 6
    )


def _other_call(spark, root, op, variant, mode):
    """The apply_changes / delete_where / update_where commit of the
    parity cases over :func:`_merge_table`'s 60-row table."""
    val = "amount" if variant == "mapping" else "val"
    if op == "cdc":
        changes = spark.range(40, 80).selectExpr(
            "id AS k", f"id + 1 AS {val}", "1L AS ts",
            "CASE WHEN id % 5 = 0 THEN 'D' ELSE 'U' END AS op",
        )
        if variant == "evolve":
            changes = changes.selectExpr(
                "*", "concat('n', CAST(k AS string)) AS note"
            )
        return V.apply_changes(
            spark, root, changes, "k", "ts", changefeed=True
        )
    if op == "delete":
        return V.commit_delete_where(
            spark, root, "k % 7 = 3", changefeed=True, mode=mode
        )
    sets = {val: f"{val} + 1"}
    if variant == "evolve":
        sets["note"] = "concat('n', CAST(k AS string))"
    return V.commit_update_where(
        spark, root, "k % 7 = 3", sets, changefeed=True, mode=mode,
        evolve_schema=variant == "evolve",
    )


_OTHER = [
    (op, mode, variant)
    for op, modes in (
        ("cdc", ["rewrite"]), ("delete", ["rewrite", "dv"]),
        ("update", ["rewrite", "dv"]),
    )
    for mode in modes
    for variant in ("check", "mapping", "evolve")
    if not (op == "delete" and variant == "evolve")
]


@pytest.mark.parametrize("op,mode,variant", _OTHER)
def test_fused_commit_matches_two_write_path(
    spark, tmp_path, monkeypatch, op, mode, variant
):
    """apply_changes (with deletes), delete_where and update_where
    commit the same snapshot, change rows and manifest totals through
    the fused write and the two-write path, under a CHECK constraint,
    column mapping and schema evolution."""
    state, feed = _both_paths(
        spark, tmp_path, monkeypatch,
        lambda root: _merge_table(spark, root, variant),
        lambda root: _other_call(spark, root, op, variant, mode),
    )[:2]
    hit = [k for k in range(60) if k % 7 == 3]
    if op == "cdc":
        # 20 matched keys (4 deleted), 20 new keys (4 deletes of
        # absent keys: no-ops)
        assert _kinds(feed) == {"insert", "update_preimage",
                                "update_postimage", "delete"}
        assert len(state) == 60 - 4 + 16
        assert len(feed) == 2 * 16 + 4 + 16
    elif op == "delete":
        assert _kinds(feed) == {"delete"}
        assert len(state) == 60 - len(hit) and len(feed) == len(hit)
    else:
        assert _kinds(feed) == {"update_preimage", "update_postimage"}
        assert len(state) == 60 and len(feed) == 2 * len(hit)


# ------------------------------------- reserved change-row column names

def _calls(spark):
    """One changefeed commit per entry point over a table with columns
    ``k``, ``val`` and one named like a change-row column."""
    def src(root):
        cols = V.read_version(spark, root).columns
        return spark.range(0, 5).selectExpr(
            "id AS k", *[f"'x' AS {c}" for c in cols if c != "k"]
        )

    return {
        "upsert": lambda r: V.commit_upsert(
            spark, r, src(r), "k", changefeed=True
        ),
        "apply_changes": lambda r: V.apply_changes(
            spark, r, src(r).selectExpr("*", "1L AS ts", "'U' AS op"),
            "k", "ts", changefeed=True,
        ),
        "delete_where": lambda r: V.commit_delete_where(
            spark, r, "k < 3", changefeed=True
        ),
        "update_where": lambda r: V.commit_update_where(
            spark, r, "k < 3", {"val": "'y'"}, changefeed=True
        ),
        "merge": lambda r: V.commit_merge(
            spark, r, src(r), "k",
            matched=[{"action": "update", "set": {"val": "s.val"}}],
            changefeed=True,
        ),
    }


@pytest.mark.parametrize("col", ["_change_type", "_commit_version"])
@pytest.mark.parametrize(
    "entry", ["upsert", "apply_changes", "delete_where", "update_where",
              "merge"],
)
def test_change_row_column_name_refused(spark, tmp_path, entry, col):
    """A table column named like a change-row column would collide with
    the tagged commit frame's own: every changefeed entry point raises a
    ValueError naming it before any data or change file is written."""
    root = str(tmp_path / "vt")
    V.commit_append(
        spark, root,
        spark.range(0, 10).selectExpr(
            "id AS k", "'v' AS val", f"'c' AS {col}"
        ).coalesce(2),
        ["k"],
    )

    def files():
        return sorted(
            os.path.relpath(os.path.join(d, f), root)
            for d, _, fs in os.walk(root) for f in fs
            if "_manifests" not in d
        )

    before = files()
    with pytest.raises(ValueError, match=col):
        _calls(spark)[entry](root)
    assert files() == before
    assert V.current_version(spark, root) == 0


def test_change_row_column_feed_read_refused(spark, tmp_path):
    """A plain append records no change files — its feed is read from
    the data files, tagged on read — so a table column named like a
    change-row column would be silently overwritten in the feed: both
    feed readers refuse instead."""
    root = str(tmp_path / "vt")
    V.commit_append(
        spark, root,
        spark.range(0, 3).selectExpr("id AS k", "'x' AS _change_type"),
        ["k"],
    )
    with pytest.raises(ValueError, match="_change_type"):
        V.table_changes(spark, root, 0, 0)
    with pytest.raises(ValueError, match="_change_type"):
        V.stream_table_changes(spark, root)


def test_change_row_column_physical_name_refused(spark, tmp_path):
    """Renaming the column away keeps its PHYSICAL name, which the
    change files are written under: still refused."""
    root = str(tmp_path / "vt")
    V.commit_append(
        spark, root,
        spark.range(0, 10).selectExpr("id AS k", "'c' AS _change_type"),
        ["k"],
    )
    V.rename_column(spark, root, "_change_type", "kind")
    with pytest.raises(ValueError, match="_change_type"):
        V.commit_delete_where(spark, root, "k < 3", changefeed=True)
    # without a changefeed the column is just data
    assert V.commit_delete_where(spark, root, "k < 3")[3] == 3


def test_staging_names_never_shadow_table_columns(spark, tmp_path):
    """The output stage stages helper columns (the predicate, SET
    values, key-hit flag, CHECK gate) by name: table columns named like
    them must change nothing — the same changefeed commits on a table
    whose extra columns have plain names give the same snapshot and
    feed."""
    extra = ["__p", "__d", "__v_val", "__chk"]
    out = {}
    for names in (extra, ["e1", "e2", "e3", "e4"]):
        root = str(tmp_path / names[0])
        V.commit_append(
            spark, root,
            spark.range(0, 10).selectExpr(
                "id AS k", "id AS val",
                *[f"'c{i}' AS {c}" for i, c in enumerate(names)],
            ).coalesce(2),
            ["k"],
        )
        V.set_check_constraint(spark, root, "nonneg", "val >= 0")

        def batch(lo, hi, *ops):
            return spark.range(lo, hi).selectExpr(
                "id AS k", "id + 100 AS val",
                *[f"'n{i}' AS {c}" for i, c in enumerate(names)], *ops,
            )

        V.commit_update_where(
            spark, root, "k < 3", {"val": "val + 1"}, changefeed=True
        )
        V.commit_delete_where(spark, root, "k = 9", changefeed=True)
        V.commit_upsert(spark, root, batch(7, 12), "k", changefeed=True)
        V.apply_changes(
            spark, root,
            batch(0, 2, "1L AS ts", "IF(id = 0, 'D', 'U') AS op"),
            "k", "ts", changefeed=True,
        )
        out[names[0]] = (
            _state(spark, root),
            sorted(map(str, V.table_changes(spark, root, 1).collect())),
        )
    for i, c in enumerate(extra):
        out["__p"] = tuple(
            [r.replace(f"{c}=", f"e{i + 1}=") for r in rows]
            for rows in out["__p"]
        )
    assert out["__p"] == out["e1"]
    # feed: update 3+3, delete 1, upsert 2+2 and 3 inserts, cdc 1+1+1
    assert len(out["e1"][0]) == 11 and len(out["e1"][1]) == 17


def test_commit_takes_data_and_change_rows_only_tagged(spark, tmp_path):
    """_commit's one way in for data and change rows is a tagged frame:
    a data frame with a separate change frame is refused."""
    root = str(tmp_path / "vt")
    df = spark.range(3).selectExpr("id AS k")
    V.commit_append(spark, root, df, ["k"])
    with pytest.raises(ValueError, match="tagged"):
        V._commit(
            spark, root, df, "upsert", ["k"],
            cdf=df.selectExpr("*", "'insert' AS _change_type"),
        )
