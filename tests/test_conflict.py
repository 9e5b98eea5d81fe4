"""Conflict CLASSIFICATION in the commit layer (Delta's conflict
checker, re-expressed for the manifest log): a loser whose footprint is
provably disjoint from every interposed winner re-publishes its
ALREADY-STAGED files at the bumped version — the Spark job never
re-runs; genuinely overlapping (or unclassifiable) losses still
recompute through commit_with_retry. Reference has no commit layer at
all — this is beyond-reference Delta parity (the stated model)."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from amadeus_spark.operators import versioned as V


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "vt")


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).selectExpr("id AS k", f"'{tag}' AS v")


def _arm_race(monkeypatch, winner_fn):
    """Patch the CAS publish so the NEXT publish loses: immediately
    before it runs, ``winner_fn()`` lands a real commit through the
    original publish path (the patch disarms itself, so the winner and
    every later publish go straight through)."""
    orig = V._write_manifest_atomic
    state = {"armed": True}

    def racy(sp, rt, version, manifest):
        if state["armed"]:
            state["armed"] = False
            winner_fn()
        return orig(sp, rt, version, manifest)

    monkeypatch.setattr(V, "_write_manifest_atomic", racy)
    return state


def _data_dirs(root):
    return sorted(os.listdir(os.path.join(root, V.DATA_DIR)))


# ---------------------------------------------------------------- appends


def test_append_race_rebases_without_restaging(spark, root, monkeypatch):
    """Two racing appends BOTH commit; the loser re-publishes its
    already-staged files at the bumped version. Pinned by file-path
    identity: the loser's add entries keep the PRE-RACE version stamp
    in their staging dir name (a recompute would have staged a fresh
    commit-v2-* dir), and no orphan staging dir is left behind."""
    V.commit_append(spark, root, _df(spark, 0, 100, "base"), ["k"])
    _arm_race(
        monkeypatch,
        lambda: V.commit_append(spark, root, _df(spark, 100, 110, "win")),
    )
    v = V.commit_append(spark, root, _df(spark, 200, 210, "lose"))
    assert v == 2  # lost v1, re-based to v2 without re-running
    man = V._read_manifest(spark, root, 2)
    assert man["add"] and all(
        e["dir"].startswith("commit-v1-") for e in man["add"]
    )
    # exactly three staging dirs: base, winner, loser — no re-stage
    assert len(_data_dirs(root)) == 3
    got = V.read_version(spark, root)
    assert got.count() == 120
    assert got.where("v = 'win'").count() == 10
    assert got.where("v = 'lose'").count() == 10
    # running totals re-derived against the winner's snapshot
    assert man["total_rows"] == 120 and man["total_files"] == len(
        V._live_entries(spark, root, 2)
    )
    # history reads the re-based files as fresh INGEST, not relinks
    # (the staging dir's pre-race stamp must not fool the metrics)
    h2 = V.history(spark, root)[2]
    assert h2["files_added"] == len(man["add"])
    assert h2["files_relinked"] == 0 and h2["rows_added"] == 10


def test_append_race_restamps_changefeed(spark, root, monkeypatch):
    """A re-based changefeed append must re-stamp ``_commit_version``
    IN the staged change rows (the streaming contract) and drop the
    stale CDF dir."""
    V.commit_append(spark, root, _df(spark, 0, 10, "base"), ["k"])
    _arm_race(
        monkeypatch,
        lambda: V.commit_append(spark, root, _df(spark, 10, 20, "win")),
    )
    v = V.commit_append(
        spark, root, _df(spark, 20, 30, "lose"), changefeed=True
    )
    assert v == 2
    cdf_dirs = os.listdir(os.path.join(root, V.CDF_DIR))
    assert len(cdf_dirs) == 1 and cdf_dirs[0].startswith("v2-")
    ch = V.table_changes(spark, root, starting_version=2)
    rows = ch.collect()
    assert {r["_commit_version"] for r in rows} == {2}
    assert {r["_change_type"] for r in rows} == {"insert"}
    assert sorted(r["k"] for r in rows) == list(range(20, 30))


def test_zero_row_changefeed_race_rebases(spark, root, monkeypatch):
    """A changefeed commit with no change rows stages a changefeed dir
    holding no data file; losing the CAS race must re-base it under the
    bumped version (nothing to re-stamp), not fail to infer its schema."""
    V.commit_append(spark, root, _df(spark, 0, 10, "base"), ["k"])
    _arm_race(
        monkeypatch,
        lambda: V.commit_append(spark, root, _df(spark, 10, 20, "win")),
    )
    v, _, _ = V.commit_upsert(
        spark, root, _df(spark, 20, 20, "lose"), "k", changefeed=True
    )
    assert v == 2
    cdf_dirs = os.listdir(os.path.join(root, V.CDF_DIR))
    assert len(cdf_dirs) == 1 and cdf_dirs[0].startswith("v2-")
    assert V.table_changes(spark, root, starting_version=2).count() == 0
    assert V.read_version(spark, root).count() == 20


def test_append_race_across_remove_all_rebases(spark, root, monkeypatch):
    """An append re-bases even over a full-rewrite OPTIMIZE: its rows
    were never part of the compacted snapshot, and the log fold replays
    the append AFTER the rewrite barrier."""
    for lo in (0, 50):
        V.commit_append(
            spark, root, _df(spark, lo, lo + 50, "base").coalesce(1), ["k"]
        )
    _arm_race(monkeypatch, lambda: V.optimize(spark, root, n_files=1))
    v = V.commit_append(spark, root, _df(spark, 100, 110, "lose"))
    assert v == 3  # optimize took v2
    man = V._read_manifest(spark, root, 3)
    assert all(e["dir"].startswith("commit-v2-") for e in man["add"])
    got = V.read_version(spark, root)
    assert got.count() == 110 and got.where("v = 'lose'").count() == 10


def test_append_race_constraint_change_recomputes(spark, root, monkeypatch):
    """An interposed CHECK-constraint change rejects the re-base — the
    loser's staged files were never enforced against it. The recompute
    (commit_with_retry) re-runs the append, which enforces the new
    constraint in its write pass."""
    V.commit_append(spark, root, _df(spark, 0, 10, "base"), ["k"])
    _arm_race(
        monkeypatch,
        lambda: V.set_check_constraint(spark, root, "k_cap", "k < 1000"),
    )
    calls = {"n": 0}

    def closure():
        calls["n"] += 1
        return V.commit_append(spark, root, _df(spark, 100, 110, "lose"))

    v = V.commit_with_retry(closure)
    assert calls["n"] == 2  # classification refused, recompute ran
    assert v == 2
    assert V.read_version(spark, root).count() == 20


# --------------------------------------------------- key-pruned writers


def _two_file_table(spark, root):
    """Two files with provably disjoint key ranges: [0,100) and
    [1000,1100)."""
    V.commit_append(
        spark, root, _df(spark, 0, 100, "base").coalesce(1), ["k"]
    )
    V.commit_append(
        spark, root, _df(spark, 1000, 1100, "base").coalesce(1)
    )


def test_upsert_race_disjoint_rebases(spark, root, monkeypatch):
    """Two upserts into provably disjoint key ranges: the loser
    re-bases (closure runs ONCE; staged files keep the pre-race dir
    stamp) and both updates land."""
    _two_file_table(spark, root)
    _arm_race(
        monkeypatch,
        lambda: V.commit_upsert(
            spark, root, _df(spark, 1000, 1010, "win"), "k"
        ),
    )
    calls = {"n": 0}

    def closure():
        calls["n"] += 1
        return V.commit_upsert(spark, root, _df(spark, 0, 10, "lose"), "k")

    v, rewritten, _ = V.commit_with_retry(closure)
    assert calls["n"] == 1  # re-based inside _commit, never recomputed
    assert v == 3 and rewritten == 1
    man = V._read_manifest(spark, root, 3)
    assert all(e["dir"].startswith("commit-v2-") for e in man["add"])
    got = {r["k"]: r["v"] for r in V.read_version(spark, root).collect()}
    assert all(got[k] == "lose" for k in range(0, 10))
    assert all(got[k] == "win" for k in range(1000, 1010))
    assert got[50] == "base" and got[1050] == "base"
    assert len(got) == 200


def test_upsert_race_overlapping_recomputes(spark, root, monkeypatch):
    """Overlapping key ranges: classification refuses (the winner
    rewrote a file the loser read), commit_with_retry recomputes, and
    the retried upsert applies ON TOP of the winner's rows."""
    _two_file_table(spark, root)
    _arm_race(
        monkeypatch,
        lambda: V.commit_upsert(spark, root, _df(spark, 0, 10, "win"), "k"),
    )
    calls = {"n": 0}

    def closure():
        calls["n"] += 1
        return V.commit_upsert(spark, root, _df(spark, 5, 15, "lose"), "k")

    v = V.commit_with_retry(closure)[0]
    assert calls["n"] == 2
    assert v == 3
    got = {r["k"]: r["v"] for r in V.read_version(spark, root).collect()}
    assert all(got[k] == "win" for k in range(0, 5))
    assert all(got[k] == "lose" for k in range(5, 15))
    assert got[20] == "base"


def test_merge_race_disjoint_rebases(spark, root, monkeypatch):
    """A MERGE whose key range and file set are disjoint from the
    winner's re-bases without recompute."""
    _two_file_table(spark, root)
    _arm_race(
        monkeypatch,
        lambda: V.commit_upsert(
            spark, root, _df(spark, 1000, 1005, "win"), "k"
        ),
    )
    calls = {"n": 0}

    def closure():
        calls["n"] += 1
        return V.commit_merge(
            spark,
            root,
            _df(spark, 0, 5, "merged").unionAll(
                _df(spark, 200, 205, "merged")
            ),
            "k",
            matched=[{"action": "update", "set": {"v": "s.v"}}],
            not_matched=[{"action": "insert"}],
        )

    v = V.commit_with_retry(closure)[0]
    assert calls["n"] == 1
    assert v == 3
    got = {r["k"]: r["v"] for r in V.read_version(spark, root).collect()}
    assert all(got[k] == "merged" for k in list(range(0, 5)) + list(range(200, 205)))
    assert all(got[k] == "win" for k in range(1000, 1005))
    assert len(got) == 205


def test_merge_race_overlapping_recomputes(spark, root, monkeypatch):
    """A winner INSERTING keys inside the loser's merge range rejects
    the re-base — the loser's insert anti-join never saw those rows
    (re-basing would duplicate them). The recompute merges correctly:
    no duplicate keys, winner rows updated."""
    _two_file_table(spark, root)
    _arm_race(
        monkeypatch,
        # winner APPENDS new rows inside the loser's key range
        lambda: V.commit_append(
            spark, root, _df(spark, 200, 203, "win").coalesce(1)
        ),
    )
    calls = {"n": 0}

    def closure():
        calls["n"] += 1
        return V.commit_merge(
            spark,
            root,
            _df(spark, 198, 208, "merged"),
            "k",
            matched=[{"action": "update", "set": {"v": "s.v"}}],
            not_matched=[{"action": "insert"}],
        )

    v = V.commit_with_retry(closure)[0]
    assert calls["n"] == 2
    assert v == 3
    got = V.read_version(spark, root)
    assert got.count() == got.select("k").distinct().count()  # no dups
    vals = {r["k"]: r["v"] for r in got.collect()}
    assert all(vals[k] == "merged" for k in range(198, 208))


def test_merge_race_by_source_clause_stays_strict(spark, root, monkeypatch):
    """A by-source clause reads under an arbitrary predicate — no
    stats proof possible, so ANY loss recomputes (conservative)."""
    _two_file_table(spark, root)
    _arm_race(
        monkeypatch,
        lambda: V.commit_upsert(
            spark, root, _df(spark, 1000, 1002, "win"), "k"
        ),
    )
    calls = {"n": 0}

    def closure():
        calls["n"] += 1
        return V.commit_merge(
            spark,
            root,
            _df(spark, 0, 3, "merged"),
            "k",
            matched=[{"action": "update", "set": {"v": "s.v"}}],
            not_matched_by_source=[
                {"action": "update", "set": {"v": "'expired'"},
                 "condition": "k >= 2000"}
            ],
        )

    V.commit_with_retry(closure)
    assert calls["n"] == 2


def test_cdc_race_disjoint_rebases_with_changefeed(spark, root, monkeypatch):
    """apply_changes re-bases like an upsert; its staged changefeed is
    re-stamped to the final version."""
    _two_file_table(spark, root)
    _arm_race(
        monkeypatch,
        lambda: V.commit_upsert(
            spark, root, _df(spark, 1050, 1060, "win"), "k"
        ),
    )
    changes = spark.createDataFrame(
        [(1, "cdc", 1, "U"), (2, "cdc", 1, "U")], "k long, v string, ts long, op string"
    )
    calls = {"n": 0}

    def closure():
        calls["n"] += 1
        return V.apply_changes(
            spark, root, changes, "k", "ts", changefeed=True
        )

    v, n_up, n_del = V.commit_with_retry(closure)
    assert calls["n"] == 1 and (n_up, n_del) == (2, 0)
    assert v == 3
    ch = V.table_changes(spark, root, starting_version=3)
    assert {r["_commit_version"] for r in ch.collect()} == {3}
    got = {r["k"]: r["v"] for r in V.read_version(spark, root).collect()}
    assert got[1] == "cdc" and got[2] == "cdc" and got[1055] == "win"


def test_pruned_race_across_remove_all_recomputes(spark, root, monkeypatch):
    """A full-rewrite OPTIMIZE invalidates every file a pruned writer
    read — classification refuses, recompute applies on the compacted
    snapshot."""
    _two_file_table(spark, root)
    _arm_race(monkeypatch, lambda: V.optimize(spark, root, n_files=1))
    calls = {"n": 0}

    def closure():
        calls["n"] += 1
        return V.commit_upsert(spark, root, _df(spark, 0, 5, "lose"), "k")

    v = V.commit_with_retry(closure)[0]
    assert calls["n"] == 2 and v == 3
    got = {r["k"]: r["v"] for r in V.read_version(spark, root).collect()}
    assert all(got[k] == "lose" for k in range(0, 5)) and got[50] == "base"


# ------------------------------------------------------- unit (no Spark)


def test_rebase_ok_classification_matrix():
    seg = lambda **kw: {  # noqa: E731
        "remove": kw.get("remove", []),
        "add": kw.get("add", []),
        "remove_all": kw.get("remove_all", False),
        "constraints": kw.get("constraints", {}),
    }
    add = lambda lo, hi, rows=5: {  # noqa: E731
        "dir": "d", "path": "p", "rows": rows, "stats": {"k": [lo, hi]}
    }
    app = {"kind": "append"}
    pruned = {"kind": "pruned", "read": [("a", "f1")], "key_col": "k",
              "lo": 0, "hi": 10}
    # appends pass everything except a constraint change
    assert V._rebase_ok([seg(remove_all=True)], app, {})
    assert V._rebase_ok([seg(add=[add(0, 10)])], app, {})
    assert not V._rebase_ok([seg(constraints={"c": "k > 0"})], app, {})
    assert V._rebase_ok(
        [seg(constraints={"c": "k > 0"})], app, {"c": "k > 0"}
    )
    # pruned: remove of a read file rejects
    assert not V._rebase_ok([seg(remove=[["a", "f1"]])], pruned, {})
    assert V._rebase_ok([seg(remove=[["a", "other"]])], pruned, {})
    # adds: disjoint stats pass, overlap/missing/unorderable reject
    assert V._rebase_ok([seg(add=[add(100, 200)])], pruned, {})
    assert not V._rebase_ok([seg(add=[add(5, 200)])], pruned, {})
    assert not V._rebase_ok(
        [seg(add=[{"dir": "d", "path": "p", "rows": 5, "stats": {}}])],
        pruned, {},
    )
    assert not V._rebase_ok([seg(add=[add("a", "b")])], pruned, {})
    # zero-row adds are irrelevant
    assert V._rebase_ok([seg(add=[add(5, 6, rows=0)])], pruned, {})
    # empty source key range: adds never matter
    empty = dict(pruned, lo=None, hi=None)
    assert V._rebase_ok([seg(add=[add(0, 10)])], empty, {})
    # remove_all rejects pruned
    assert not V._rebase_ok([seg(remove_all=True)], pruned, {})
    # unclassified kind rejects
    assert not V._rebase_ok([seg()], {"kind": "mystery"}, {})
    # compact: winner adds irrelevant; removing a compacted file rejects
    compact = {"kind": "compact", "read": [("a", "f1")]}
    assert V._rebase_ok([seg(add=[add(0, 10)])], compact, {})
    assert V._rebase_ok([seg(remove=[["a", "other"]])], compact, {})
    assert not V._rebase_ok([seg(remove=[["a", "f1"]])], compact, {})
    assert not V._rebase_ok([seg(remove_all=True)], compact, {})
    # stats_cols is guarded carried state like constraints/mapping
    assert not V._rebase_ok(
        [{"remove": [], "add": [], "remove_all": False,
          "constraints": {}, "stats_cols": ["k", "v"]}],
        app, {}, stats_cols=["k"],
    )
    assert V._rebase_ok(
        [{"remove": [], "add": [], "remove_all": False,
          "constraints": {}, "stats_cols": ["k"]}],
        app, {}, stats_cols=["k"],
    )


# ------------------------------------------- predicate DELETE/UPDATE


def test_delete_race_refuted_append_rebases(spark, root, monkeypatch):
    """The ingest-vs-takedown race: a DELETE WHERE k < 100 losing to an
    APPEND whose stats prove no new row matches re-bases — both land,
    no recompute."""
    _two_file_table(spark, root)
    _arm_race(
        monkeypatch,
        lambda: V.commit_append(
            spark, root, _df(spark, 5000, 5010, "win").coalesce(1)
        ),
    )
    calls = {"n": 0}

    def closure():
        calls["n"] += 1
        return V.commit_delete_where(spark, root, "k < 100")

    v, rewritten, _, n_deleted = V.commit_with_retry(closure)
    assert calls["n"] == 1
    assert v == 3 and rewritten == 1 and n_deleted == 100
    got = V.read_version(spark, root)
    assert got.count() == 110  # 200 - 100 deleted + 10 appended
    assert got.where("k < 100").count() == 0
    assert got.where("v = 'win'").count() == 10


def test_delete_race_matching_append_recomputes(spark, root, monkeypatch):
    """A winner-appended row INSIDE the delete predicate range must
    force a recompute — re-basing would leave it alive."""
    _two_file_table(spark, root)
    _arm_race(
        monkeypatch,
        lambda: V.commit_append(
            spark, root, _df(spark, 50, 60, "win").coalesce(1)
        ),
    )
    calls = {"n": 0}

    def closure():
        calls["n"] += 1
        return V.commit_delete_where(spark, root, "k < 100")

    v = V.commit_with_retry(closure)[0]
    assert calls["n"] == 2
    assert V.read_version(spark, root).where("k < 100").count() == 0


def test_dv_update_race_refuted_append_rebases(spark, root, monkeypatch):
    """The merge-on-read UPDATE leg classifies too: a refuted winner
    append re-bases the DV commit (same staged DV dir, bumped
    version)."""
    _two_file_table(spark, root)
    _arm_race(
        monkeypatch,
        lambda: V.commit_append(
            spark, root, _df(spark, 5000, 5005, "win").coalesce(1)
        ),
    )
    calls = {"n": 0}

    def closure():
        calls["n"] += 1
        return V.commit_update_where(
            spark, root, "k <= 10", {"v": "'upd'"}, mode="dv"
        )

    v = V.commit_with_retry(closure)[0]
    assert calls["n"] == 1
    assert v == 3
    got = {r["k"]: r["v"] for r in V.read_version(spark, root).collect()}
    assert all(got[k] == "upd" for k in range(0, 11))
    assert got[50] == "base" and got[5000] == "win"


def test_complex_predicate_stays_strict(spark, root, monkeypatch):
    """An unparseable (rich) predicate never classifies — any loss
    recomputes, even against a provably-disjoint append."""
    _two_file_table(spark, root)
    _arm_race(
        monkeypatch,
        lambda: V.commit_append(
            spark, root, _df(spark, 5000, 5005, "win").coalesce(1)
        ),
    )
    calls = {"n": 0}

    def closure():
        calls["n"] += 1
        return V.commit_delete_where(spark, root, "k < 100 AND k > 10")

    V.commit_with_retry(closure)
    assert calls["n"] == 2


def test_stats_refute_check_matrix():
    e = lambda lo, hi: {"stats": {"k": [lo, hi]}}  # noqa: E731
    R = V._stats_refute_check
    assert R(e(100, 200), "k < 100") and not R(e(99, 200), "k < 100")
    assert R(e(101, 200), "k <= 100") and not R(e(100, 200), "k <= 100")
    assert R(e(0, 100), "k > 100") and not R(e(0, 101), "k > 100")
    assert R(e(0, 99), "k >= 100") and not R(e(0, 100), "k >= 100")
    assert R(e(0, 6), "k = 7") and R(e(8, 9), "k = 7")
    assert not R(e(0, 7), "k = 7")
    assert R(e("b", "c"), "k < 'a'")       # no string in [b,c] is < 'a'
    assert not R(e("a", "c"), "k <= 'a'")  # 'a' itself matches
    # conservative failures: no stats, type mismatch, rich expression
    assert not R({"stats": {}}, "k < 100")
    assert not R(e("a", "b"), "k < 100")
    assert not R(e(0, 1), "k < 100 AND k > 10")


# ---------------------------------------------------- incremental compaction


def test_incremental_optimize_race_append_rebases(spark, root, monkeypatch):
    """Background compaction racing ingest: an incremental OPTIMIZE
    losing the CAS to an APPEND re-publishes its compacted output —
    the winner's files simply stay live, uncompacted until the next
    run. No recompute, nothing lost."""
    for lo in (0, 50, 100):
        V.commit_append(
            spark, root, _df(spark, lo, lo + 50, "base").coalesce(1), ["k"]
        )
    _arm_race(
        monkeypatch,
        lambda: V.commit_append(
            spark, root, _df(spark, 900, 910, "win").coalesce(1)
        ),
    )
    calls = {"n": 0}

    def closure():
        calls["n"] += 1
        # every base file is "small": all three compact into one
        return V.optimize(spark, root, small_file_mb=1024)

    v, before, after = V.commit_with_retry(closure)
    assert calls["n"] == 1  # re-based, never recomputed
    assert v == 4  # lost v3 to the append
    got = V.read_version(spark, root)
    assert got.count() == 160
    assert got.where("v = 'win'").count() == 10
    # the compacted snapshot: 1 compacted file + the winner's file
    assert V._read_manifest(spark, root, 4)["total_files"] == 2


def test_incremental_optimize_race_dv_on_compacted_file_recomputes(
    spark, root, monkeypatch
):
    """A winner DV-DELETING rows inside a file the compaction is
    rewriting invalidates the rewrite (it would resurrect them) —
    classification refuses, recompute re-reads through the DV."""
    for lo in (0, 50):
        V.commit_append(
            spark, root, _df(spark, lo, lo + 50, "base").coalesce(1), ["k"]
        )
    _arm_race(
        monkeypatch,
        lambda: V.commit_delete_where(spark, root, "k = 7", mode="dv"),
    )
    calls = {"n": 0}

    def closure():
        calls["n"] += 1
        return V.optimize(spark, root, small_file_mb=1024)

    V.commit_with_retry(closure)
    assert calls["n"] == 2
    got = V.read_version(spark, root)
    assert got.count() == 99 and got.where("k = 7").count() == 0


def test_full_rewrite_optimize_race_stays_strict(spark, root, monkeypatch):
    """A FULL rewrite (remove_all) must never re-base — its segment
    would drop the winner's rows at the log fold."""
    for lo in (0, 50):
        V.commit_append(
            spark, root, _df(spark, lo, lo + 50, "base").coalesce(1), ["k"]
        )
    _arm_race(
        monkeypatch,
        lambda: V.commit_append(
            spark, root, _df(spark, 900, 905, "win").coalesce(1)
        ),
    )
    calls = {"n": 0}

    def closure():
        calls["n"] += 1
        return V.optimize(spark, root, n_files=1)  # full rewrite

    V.commit_with_retry(closure)
    assert calls["n"] == 2  # recompute folded the winner's rows in
    got = V.read_version(spark, root)
    assert got.count() == 105 and got.where("v = 'win'").count() == 5


def test_rebase_is_observable_in_history(spark, root, monkeypatch):
    """Contention telemetry (r13 verdict item): a re-based commit's
    manifest records the version it originally pinned and how many
    winners it re-based over; history() surfaces both, and commits
    that never raced carry neither."""
    V.commit_append(spark, root, _df(spark, 0, 100, "base"), ["k"])
    _arm_race(
        monkeypatch,
        lambda: V.commit_append(spark, root, _df(spark, 100, 110, "win")),
    )
    v = V.commit_append(spark, root, _df(spark, 200, 210, "lose"))
    assert v == 2
    h = {r["version"]: r for r in V.history(spark, root)}
    assert h[2]["rebased_from"] == 1 and h[2]["rebases"] == 1
    assert "rebased_from" not in h[0] and "rebased_from" not in h[1]
    man = V._read_manifest(spark, root, 2)
    assert man["rebased_from"] == 1 and man["rebases"] == 1


def test_delete_keys_race_disjoint_append_rebases(spark, root, monkeypatch):
    """A keyed point-delete (r15) racing an append whose stats are
    provably OUTSIDE the delete's key range: the delete declares a
    pruned-kind footprint, so the loser re-bases instead of
    recomputing, and both effects land."""
    V.commit_append(
        spark, root, _df(spark, 0, 100, "base").coalesce(1), ["k"]
    )
    _arm_race(
        monkeypatch,
        lambda: V.commit_append(
            spark, root, _df(spark, 1000, 1010, "win").coalesce(1)
        ),
    )
    v, n_rw, _, n_del = V.commit_delete_keys(
        spark, root, [3, 7], "k", mode="dv"
    )
    assert (v, n_rw, n_del) == (2, 0, 2)  # re-based, zero rewrites
    m = V._read_manifest(spark, root, 2)
    assert m["rebased_from"] == 1 and m["rebases"] == 1
    got = V.read_version(spark, root)
    assert got.count() == 108  # 100 - 2 deleted + 10 appended
    assert got.where("k IN (3, 7)").count() == 0
    assert got.where("k >= 1000").count() == 10


def test_delete_keys_race_overlapping_append_recomputes(
    spark, root, monkeypatch
):
    """The same race with the winner's append INSIDE the delete's key
    range: classification refuses (the appended rows might hold a
    deleted key the loser's finding scan never saw) and the conflict
    surfaces for recompute — the retried delete then sees and deletes
    the winner's matching row too."""
    V.commit_append(
        spark, root, _df(spark, 0, 100, "base").coalesce(1), ["k"]
    )
    _arm_race(
        monkeypatch,
        lambda: V.commit_append(
            spark, root, _df(spark, 3, 5, "win").coalesce(1)
        ),
    )
    calls = {"n": 0}

    def closure():
        calls["n"] += 1
        return V.commit_delete_keys(spark, root, [3, 7], "k", mode="dv")

    v = V.commit_with_retry(closure)[0]
    assert calls["n"] == 2  # genuinely overlapping: recomputed
    got = V.read_version(spark, root)
    # both the base and the winner's k=3 rows are gone
    assert got.where("k IN (3, 7)").count() == 0
    assert got.count() == 98 + 2 - 1  # 100-2 deleted + winner's k=4


# --------------------------------------------- cleanup and rebase segment


def _listing(root, sub):
    d = os.path.join(root, sub)
    return sorted(os.listdir(d)) if os.path.exists(d) else []


def test_failed_dv_update_and_merge_stage_no_dv(spark, root):
    """A DV UPDATE or MERGE whose user expression cannot resolve fails
    before it stages a deletion vector: the version stays and
    ``_deletion_vectors/`` stays empty."""
    V.commit_append(
        spark, root,
        spark.range(0, 40, 1, 2).selectExpr("id AS k", "id AS val"), ["k"],
    )
    with pytest.raises(AnalysisException, match="no_such_col"):
        V.commit_update_where(
            spark, root, "k < 5", {"val": "no_such_col + 1"}, mode="dv"
        )
    with pytest.raises(AnalysisException, match="no_such_col"):
        V.commit_merge(
            spark, root,
            spark.range(30, 50).selectExpr("id AS k", "id AS val"), "k",
            matched=[{"action": "update", "set": {"val": "s.val"}}],
            not_matched=[{"action": "insert",
                          "values": {"k": "k", "val": "no_such_col"}}],
            mode="dv",
        )
    assert V.current_version(spark, root) == 0
    assert _listing(root, V.DV_DIR) == []


def test_lost_dv_delete_reclaims_every_staged_dir(spark, root, monkeypatch):
    """A DV delete with a changefeed and an unclassifiable predicate
    loses a strict race: its DV and changefeed dirs are reclaimed (it
    writes no data dir), only the winner's files remain."""
    _two_file_table(spark, root)
    data_before = _data_dirs(root)
    _arm_race(
        monkeypatch,
        lambda: V.commit_append(
            spark, root, _df(spark, 5000, 5005, "win").coalesce(1)
        ),
    )
    with pytest.raises(RuntimeError, match="concurrent commit"):
        V.commit_delete_where(
            spark, root, "k < 100 AND k > 10", changefeed=True, mode="dv"
        )
    assert V.current_version(spark, root) == 2  # the winner
    assert _listing(root, V.DV_DIR) == []
    assert _listing(root, V.CDF_DIR) == []
    new_dirs = sorted(set(_data_dirs(root)) - set(data_before))
    assert [d[:len("commit-v2-")] for d in new_dirs] == ["commit-v2-"]
    assert V.read_version(spark, root).count() == 205


def test_append_rebase_segment_derives_from_winner(spark, root, monkeypatch):
    """An append re-based over a winning DV delete publishes a segment
    derived from the winner's: the deletion-vectors feature and the txn
    map the winner carries, and totals = the winner's + its own."""
    _two_file_table(spark, root)
    V.apply_changes(
        spark, root,
        spark.createDataFrame(
            [(5, "cdc", 1, "U")], "k bigint, v string, ts bigint, op string"
        ),
        "k", "ts", extra_meta={"txn": {"app": 7}},
    )
    _arm_race(
        monkeypatch,
        lambda: V.commit_delete_where(spark, root, "k < 10", mode="dv"),
    )
    v = V.commit_append(spark, root, _df(spark, 200, 210, "lose").coalesce(1))
    assert v == 4
    win = V._read_manifest(spark, root, 3)
    seg = V._read_manifest(spark, root, 4)
    assert win["op"] == "delete" and "features" not in V._read_manifest(
        spark, root, 2
    )
    assert (seg["rebased_from"], seg["rebases"]) == (3, 1)
    assert "deletion-vectors" in seg["features"]
    assert seg["txn"] == win["txn"] == {"app": 7}
    assert seg["total_files"] == win["total_files"] + len(seg["add"])
    assert seg["total_rows"] == win["total_rows"] + 10
    assert win["total_dv_files"] >= 1 and win["total_dv_rows"] == 10
    assert (seg["total_dv_files"], seg["total_dv_rows"]) == (
        win["total_dv_files"], win["total_dv_rows"]
    )
    assert V.read_version(spark, root).count() == seg["total_rows"] == 200
