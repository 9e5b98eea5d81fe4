"""Versioned-table contract: snapshot isolation, time travel, file-level
stats-pruned copy-on-write, optimistic-commit conflicts."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from amadeus_spark.operators import versioned as V


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "vt")


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).selectExpr(
        "id AS k", f"'{tag}' AS v"
    )


def test_append_time_travel_and_isolation(spark, root):
    v0 = V.commit_append(spark, root, _df(spark, 0, 100, "a"), ["k"])
    snap0 = V.read_version(spark, root)  # pinned at v0
    v1 = V.commit_append(spark, root, _df(spark, 100, 150, "b"))
    assert (v0, v1) == (0, 1)
    # the pinned snapshot must NOT see the later commit
    assert snap0.count() == 100
    assert V.read_version(spark, root).count() == 150
    assert V.read_version(spark, root, 0).count() == 100
    hist = V.history(spark, root)
    assert [h["op"] for h in hist] == ["append", "append"]
    assert hist[1]["n_rows"] == 150


def test_upsert_prunes_by_file_stats(spark, root):
    # 4 disjoint key-range commits -> 4+ files with disjoint stats
    for lo in (0, 100, 200, 300):
        V.commit_append(
            spark, root,
            _df(spark, lo, lo + 100, "base").coalesce(1), ["k"],
        )
    before = {
        (e["dir"], e["path"])
        for e in V._live_entries(spark, root, 3)
    }
    updates = _df(spark, 250, 260, "new")
    v, rewritten, carried = V.commit_upsert(spark, root, updates, "k")
    # only the file covering [200,300) intersects the update range
    assert rewritten == 1 and carried == 3
    after = V._live_entries(spark, root, v)
    # carried files are the SAME physical files (by reference)
    assert sum((e["dir"], e["path"]) in before for e in after) == 3
    df = V.read_version(spark, root)
    assert df.count() == 400
    got = {r["k"]: r["v"] for r in df.filter("k >= 245 and k < 265").collect()}
    assert all(got[k] == "new" for k in range(250, 260))
    assert all(got[k] == "base" for k in list(range(245, 250)) + list(range(260, 265)))
    # time travel still serves the pre-merge content
    old = V.read_version(spark, root, 3)
    assert {r["v"] for r in old.filter("k = 255").collect()} == {"base"}


def test_concurrent_commit_conflicts(spark, root):
    V.commit_append(spark, root, _df(spark, 0, 10, "a"), ["k"])
    # simulate a racing writer landing v1 first
    man = V._read_manifest(spark, root, 0)
    man["version"] = 1
    V._write_manifest_atomic(spark, root, 1, man)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        V._write_manifest_atomic(spark, root, 1, man)


def test_upsert_requires_stats(spark, root):
    V.commit_append(spark, root, _df(spark, 0, 10, "a"), stats_cols=[])
    with pytest.raises(ValueError, match="no manifest stats"):
        V.commit_upsert(spark, root, _df(spark, 0, 1, "n"), "k")


def test_cdc_apply_latest_wins_and_prunes(spark, root):
    for lo in (0, 100, 200, 300):
        V.commit_append(
            spark, root,
            _df(spark, lo, lo + 100, "base").coalesce(1), ["k"],
        )
    # change batch confined to [200,300): two events for k=250 (the
    # later ts wins), deletes for k=260/275, an upsert for an ABSENT
    # key (k=450 — inside the [300,400) stats range? no: it exceeds it,
    # so it lands as a pure insert with no file rewrite needed beyond
    # the range intersection), and a delete for an absent key (no-op
    # row-wise, still counted as a delete event)
    changes = spark.createDataFrame(
        [
            (250, "stale", 1, "U"),
            (250, "fresh", 2, "U"),
            (260, None, 1, "D"),
            (299, "edge", 1, "U"),
            (275, None, 1, "D"),
            (450, "insert", 1, "U"),
            (999, None, 1, "D"),
        ],
        "k long, v string, ts long, op string",
    )
    v, n_up, n_del = V.apply_changes(spark, root, changes, "k", "ts")
    assert (n_up, n_del) == (3, 3)
    entries = V._live_entries(spark, root, v)
    # files outside [250,999] ([0,100) and [100,200)) carry by reference
    assert sum(
        not e["dir"].startswith(f"commit-v{v}-") for e in entries
    ) == 2
    df = V.read_version(spark, root)
    got = {
        r["k"]: r["v"]
        for r in df.filter("k in (250, 260, 275, 299, 450, 999)").collect()
    }
    assert got == {250: "fresh", 299: "edge", 450: "insert"}
    # 400 base - 2 real deletes (260, 275) + 1 insert (450)
    assert df.count() == 399
    # time travel: pre-CDC snapshot intact
    assert V.read_version(spark, root, v - 1).count() == 400


def test_optimize_compacts_into_new_version(spark, root):
    for lo in (0, 50, 100, 150):
        V.commit_append(
            spark, root, _df(spark, lo, lo + 50, "a").coalesce(1), ["k"]
        )
    v, before, after = V.optimize(spark, root, target_mb=256)
    assert before == 4 and after == 1
    df = V.read_version(spark, root)
    assert df.count() == 200
    # stats survive compaction (range-sorted rewrite) -> pruning works
    pruned = V.read_version(spark, root, key_range=(0, 10), key_col="k")
    assert len(pruned.inputFiles()) == 1
    # old version still time-travelable
    assert V.read_version(spark, root, v - 1).count() == 200


def test_optimize_zorder_prunes_on_every_dim(spark, root):
    """OPTIMIZE ZORDER BY on a versioned table: after a Morton rewrite
    across two DECORRELATED columns, manifest key_range pruning skips
    files on EITHER column — the property a single-column range sort
    cannot give (its second dim spans the full range in every file).
    The zorder columns also join stats_cols."""
    df = spark.range(0, 400).selectExpr(
        "id AS k", "(id * 7) % 400 AS y", "'x' AS v"
    )
    V.commit_append(spark, root, df.coalesce(1), ["k"])
    v, before, after = V.optimize(
        spark, root, zorder_cols=["k", "y"], n_files=4
    )
    assert after == 4
    man = V._read_manifest(spark, root, v)
    assert set(man["stats_cols"]) == {"k", "y"}
    total = len(V.read_version(spark, root).inputFiles())
    for col in ("k", "y"):
        hit = V.read_version(
            spark, root, key_range=(0, 40), key_col=col
        )
        assert len(hit.inputFiles()) < total, col
        assert hit.filter(f"{col} between 0 and 40").count() == 41


def test_vacuum_reclaims_unreferenced(spark, root):
    for lo in (0, 50):
        V.commit_append(
            spark, root, _df(spark, lo, lo + 50, "a").coalesce(1), ["k"]
        )
    V.optimize(spark, root)  # v2 references only its own files
    n_man, n_data = V.vacuum(spark, root, keep_last=1, min_staging_age_s=0.0)
    assert n_man == 2 and n_data == 2
    assert V.read_version(spark, root).count() == 100  # current fine
    assert [h["version"] for h in V.history(spark, root)] == [2]
    with pytest.raises((FileNotFoundError, OSError)):
        V.read_version(spark, root, 0)


def test_vacuum_keeps_referenced_carryovers(spark, root):
    # an upsert CARRIES files from older commit dirs by reference —
    # vacuum must not delete a carried file just because its commit
    # directory is older than the cutoff
    for lo in (0, 100):
        V.commit_append(
            spark, root, _df(spark, lo, lo + 100, "base").coalesce(1), ["k"]
        )
    V.commit_upsert(spark, root, _df(spark, 150, 160, "new"), "k")
    n_man, n_data = V.vacuum(spark, root, keep_last=1, min_staging_age_s=0.0)
    assert n_man == 2
    assert n_data == 1  # only the REWRITTEN [100,200) original dies
    df = V.read_version(spark, root)
    assert df.count() == 200
    assert df.filter("k < 100").count() == 100  # carried file intact


def test_stats_align_past_nested_columns(spark, root):
    """Manifest stats must come from the parquet LEAF column whose
    dotted path equals the stats column — indexing by arrow top-level
    position attributes a struct field's min/max to the key as soon as
    a nested column precedes it, and the resulting wrong [min,max]
    silently mis-prunes every merge (stale rows survive upserts)."""
    df = spark.range(0, 100).selectExpr(
        "named_struct('a', id + 1000, 'b', id + 5000) AS meta",
        "id AS k",
        "'x' AS v",
    )
    V.commit_append(spark, root, df.coalesce(1), ["k"])
    st = V._live_entries(spark, root, 0)[0]["stats"]
    assert st["k"] == [0, 99]  # NOT meta.b's [5000, 5099]
    # and the merge machinery prunes correctly over it
    V.commit_append(
        spark,
        root,
        spark.range(200, 300).selectExpr(
            "named_struct('a', id, 'b', id) AS meta", "id AS k", "'x' AS v"
        ).coalesce(1),
    )
    upd = spark.range(250, 252).selectExpr(
        "named_struct('a', id, 'b', id) AS meta", "id AS k", "'new' AS v"
    )
    v, rewritten, carried = V.commit_upsert(spark, root, upd, "k")
    assert (rewritten, carried) == (1, 1)
    got = V.read_version(spark, root)
    assert got.filter("v = 'new'").count() == 2
    assert got.count() == 200


def test_pruned_to_zero_keeps_table_schema(spark, root):
    V.commit_append(spark, root, _df(spark, 0, 100, "a").coalesce(1), ["k"])
    empty = V.read_version(spark, root, key_range=(500, 600), key_col="k")
    assert empty.columns == ["k", "v"]
    # the row-level filter the docstring prescribes must resolve
    assert empty.filter("k between 500 and 600").count() == 0


def test_date_stats_prune_and_survive_json(spark, root):
    """date/timestamp stats columns serialize as ISO strings in the
    manifest (raw datetime crashes json.dumps AFTER the data landed)
    and pruning bounds map into the same space."""
    import datetime

    df = spark.sql(
        "SELECT sequence(DATE'2024-01-01', DATE'2024-01-10')[CAST(id AS INT)]"
        " AS d, id AS k FROM range(0, 10)"
    )
    V.commit_append(spark, root, df.coalesce(1), ["d"])
    st = V._live_entries(spark, root, 0)[0]["stats"]
    assert st["d"] == ["2024-01-01", "2024-01-10"]
    hit = V.read_version(
        spark,
        root,
        key_range=(datetime.date(2024, 1, 2), datetime.date(2024, 1, 3)),
        key_col="d",
    )
    assert hit.count() == 10  # file-level: the one file intersects
    miss = V.read_version(
        spark,
        root,
        key_range=(datetime.date(2025, 1, 1), datetime.date(2025, 2, 1)),
        key_col="d",
    )
    assert len(miss.inputFiles()) == 0 or miss.count() == 0


def test_vacuum_twice_with_wider_window(spark, root):
    """A vacuum whose keep window reaches below a PREVIOUS vacuum's
    cutoff must skip the already-deleted manifests, not crash."""
    for lo in (0, 50, 100):
        V.commit_append(
            spark, root, _df(spark, lo, lo + 50, "a").coalesce(1), ["k"]
        )
    V.vacuum(spark, root, keep_last=1, min_staging_age_s=0.0)  # drops manifests v0, v1
    V.commit_append(spark, root, _df(spark, 150, 200, "a").coalesce(1))
    n_man, n_data = V.vacuum(spark, root, keep_last=3, min_staging_age_s=0.0)  # window spans v1+
    assert n_man == 0 and n_data == 0  # nothing left to reclaim
    assert V.read_version(spark, root).count() == 200


def test_vacuum_removes_whole_dereferenced_dirs(spark, root):
    import os

    for lo in (0, 50):
        V.commit_append(
            spark, root, _df(spark, lo, lo + 50, "a").coalesce(1), ["k"]
        )
    V.optimize(spark, root)
    V.vacuum(spark, root, keep_last=1, min_staging_age_s=0.0)
    # _SUCCESS markers must not keep dereferenced commit dirs alive
    dirs = sorted(os.listdir(f"{root}/data"))
    assert len(dirs) == 1 and dirs[0].startswith("commit-v2-")


def test_txn_marks_survive_maintenance_commits(spark, root):
    """The streaming replay guard's {app_id: epoch} high-water mark
    carries through optimize/append commits — otherwise maintenance
    between micro-batches silently re-opens the at-least-once window."""
    V.commit_append(spark, root, _df(spark, 0, 50, "a").coalesce(1), ["k"])
    ch = spark.createDataFrame(
        [(1, "w", 1, "U")], "k long, v string, ts long, op string"
    )
    V.apply_changes(spark, root, ch, "k", "ts", extra_meta={"txn": {"app": 7}})
    V.optimize(spark, root)
    V.commit_append(spark, root, _df(spark, 100, 110, "b"))
    cur = V.current_version(spark, root)
    assert V._read_manifest(spark, root, cur)["txn"] == {"app": 7}


def test_schema_evolution_add_column(spark, root):
    """Schema lives in the manifest (no footer merging): a later
    commit may ADD a column; old files read NULL for it through the
    manifest schema, each snapshot time-travels with the schema it was
    written under, and merges accept updates that carry the new
    column."""
    V.commit_append(spark, root, _df(spark, 0, 100, "a").coalesce(1), ["k"])
    widened = spark.range(100, 200).selectExpr(
        "id AS k", "'b' AS v", "id * 2 AS score"
    )
    V.commit_append(spark, root, widened.coalesce(1))
    cur = V.read_version(spark, root)
    assert cur.columns == ["k", "v", "score"]
    assert cur.filter("k < 100 AND score IS NULL").count() == 100
    assert cur.filter("k >= 100 AND score = k * 2").count() == 100
    # time travel: v0 still has its own 2-column shape
    assert V.read_version(spark, root, 0).columns == ["k", "v"]
    # CDC upsert touching an OLD file carries the new column as NULL
    ch = spark.createDataFrame(
        [(5, "new", 55, 1, "U")],
        "k long, v string, score long, ts long, op string",
    )
    V.apply_changes(spark, root, ch, "k", "ts")
    final = V.read_version(spark, root)
    assert final.count() == 200
    row = final.filter("k = 5").collect()[0]
    assert (row["v"], row["score"]) == ("new", 55)
    assert final.filter("k = 6 AND score IS NULL AND v = 'a'").count() == 1


def test_narrow_commit_never_drops_columns(spark, root):
    """Schema evolution is WIDEN-ONLY: an insert batch narrower than
    the table (touched=[] — brand-new key range) must not shrink the
    manifest schema and vanish a column table-wide for every reader."""
    wide = spark.range(0, 50).selectExpr(
        "id AS k", "'a' AS v", "id * 2 AS score"
    )
    V.commit_append(spark, root, wide.coalesce(1), ["k"])
    # append a narrower frame: existing columns survive, new rows NULL
    V.commit_append(
        spark, root,
        spark.range(1000, 1010).selectExpr("id AS k", "'b' AS v").coalesce(1),
    )
    cur = V.read_version(spark, root)
    assert cur.columns == ["k", "v", "score"]
    assert cur.filter("k >= 1000 AND score IS NULL").count() == 10
    assert cur.filter("k < 50 AND score = k * 2").count() == 50


def test_type_change_raises_before_data_lands(spark, root):
    import os

    V.commit_append(spark, root, _df(spark, 0, 10, "a").coalesce(1), ["k"])
    bad = spark.range(10, 20).selectExpr("id AS k", "CAST(id AS BIGINT) AS v")
    with pytest.raises(ValueError, match="type change for column 'v'"):
        V.commit_append(spark, root, bad)
    # validation fired BEFORE the write: no orphan commit dir, table intact
    dirs = sorted(os.listdir(f"{root}/data"))
    assert len(dirs) == 1 and dirs[0].startswith("commit-v0-")
    assert V.read_version(spark, root).count() == 10


def test_updates_omitting_columns_raise(spark, root):
    """Full-row-replace contract: an update batch missing an existing
    column must raise instead of silently NULLing it for every
    updated key (the malformed-feed failure allowMissingColumns would
    otherwise swallow)."""
    wide = spark.range(0, 50).selectExpr(
        "id AS k", "'a' AS v", "id * 2 AS score"
    )
    V.commit_append(spark, root, wide.coalesce(1), ["k"])
    with pytest.raises(ValueError, match="omits existing table columns"):
        V.commit_upsert(spark, root, _df(spark, 5, 6, "new"), "k")
    ch = spark.createDataFrame(
        [(5, "new", 1, "U")], "k long, v string, ts long, op string"
    )
    with pytest.raises(ValueError, match="omits existing table columns"):
        V.apply_changes(spark, root, ch, "k", "ts")


def test_pruned_to_zero_uses_manifest_schema(spark, root):
    V.commit_append(spark, root, _df(spark, 0, 100, "a").coalesce(1), ["k"])
    V.commit_append(
        spark,
        root,
        spark.range(100, 110).selectExpr(
            "id AS k", "'b' AS v", "id AS extra"
        ).coalesce(1),
    )
    empty = V.read_version(spark, root, key_range=(900, 999), key_col="k")
    assert empty.columns == ["k", "v", "extra"]
    assert empty.count() == 0


def test_read_side_stats_pruning(spark, root):
    for lo in (0, 100, 200, 300):
        V.commit_append(
            spark, root,
            _df(spark, lo, lo + 100, "base").coalesce(1), ["k"],
        )
    pruned = V.read_version(spark, root, key_range=(110, 120), key_col="k")
    # only the [100,200) file survives the manifest skip
    assert len(pruned.inputFiles()) == 1
    assert pruned.count() == 100
    rows = pruned.filter("k between 110 and 120").count()
    assert rows == 11
    with pytest.raises(ValueError, match="key_range needs key_col"):
        V.read_version(spark, root, key_range=(1, 2))


def test_commit_bytes_o_batch_not_o_table(spark, root):
    """The log is DELTA-structured: a 1-file append's segment stays the
    same few hundred bytes no matter how many files the table already
    holds — the whole-file-list-per-commit shape would grow every
    segment with the table."""
    V.commit_append(
        spark, root, _df(spark, 0, 6400, "base").repartition(64), ["k"]
    )
    sizes = []
    for i in range(3):
        lo = 10000 + i * 10
        V.commit_append(
            spark, root, _df(spark, lo, lo + 10, "a").coalesce(1)
        )
        v = V.current_version(spark, root)
        sizes.append(os.path.getsize(f"{root}/_manifests/v{v}.json"))
    base_size = os.path.getsize(f"{root}/_manifests/v0.json")
    # 1-file segments are flat as the table grows...
    assert max(sizes) - min(sizes) < 64
    # ...and an order of magnitude under the 64-file commit's segment
    assert max(sizes) < base_size / 8
    assert V.read_version(spark, root).count() == 6430


def test_checkpoint_bounds_segment_fold(spark, root, monkeypatch):
    """Every CHECKPOINT_EVERY commits the live index lands as one
    parquet checkpoint; resolution reads at most that many JSON
    segments on top of it, so reads stay O(interval) log reads even
    after 10^4 commits — and segments BELOW a checkpoint become
    droppable (vacuum) without breaking newer reads."""
    from amadeus_spark.operators import versioned as Vm

    monkeypatch.setattr(Vm, "CHECKPOINT_EVERY", 4)
    for i in range(9):
        V.commit_append(
            spark, root, _df(spark, i * 10, i * 10 + 10, "a").coalesce(1),
            ["k"],
        )
    assert V._ckpt_complete(spark, root, 4)
    assert V._ckpt_complete(spark, root, 8)
    # time travel between checkpoints: ckpt-4 + segments 5..6
    assert V.read_version(spark, root, 6).count() == 70
    # drop pre-checkpoint segments outright — newer reads are intact
    for v in range(0, 4):
        os.unlink(f"{root}/_manifests/v{v}.json")
    assert V.read_version(spark, root, 8).count() == 90
    assert V.read_version(spark, root, 5).count() == 60
    pruned = V.read_version(spark, root, key_range=(45, 47), key_col="k")
    assert len(pruned.inputFiles()) == 1


def test_pruning_is_index_filter_not_driver_loop(spark, root):
    """File skipping must work off the index DATAFRAME: with a 10^4-row
    checkpoint where all but one entry are fabricated (their data dirs
    don't even exist), a key_range read still plans — proof the driver
    only ever touches the SURVIVING entries, never the full file
    list."""
    from amadeus_spark.operators.versioned import (
        _INDEX_SCHEMA,
        _ckpt_path,
        _entry_row,
    )

    for lo in (0, 100, 200, 300):
        V.commit_append(
            spark, root,
            _df(spark, lo, lo + 100, "base").coalesce(1), ["k"],
        )
    real = V._live_entries(spark, root, 3)
    fakes = [
        {
            "dir": f"commit-vX-{i:06d}",
            "path": f"part-{i:06d}.parquet",
            "rows": 1000,
            "stats": {"k": [1_000_000 + i * 1000, 1_000_999 + i * 1000]},
        }
        for i in range(10_000)
    ]
    spark.createDataFrame(
        [_entry_row(e) for e in real + fakes], _INDEX_SCHEMA
    ).write.mode("overwrite").parquet(_ckpt_path(root, 3))
    hit = V.read_version(spark, root, 3, key_range=(150, 160), key_col="k")
    assert len(hit.inputFiles()) == 1
    assert hit.count() == 100


def test_pruned_read_pushes_residual_filter(spark, root):
    """Depth contract for the reader: manifest stats SKIP files, and
    the caller's row-level filter still reaches the parquet scan as a
    pushed filter (file skipping must not break scan-level pushdown)."""
    from amadeus_spark import plans

    for lo in (0, 100, 200, 300):
        V.commit_append(
            spark, root,
            _df(spark, lo, lo + 100, "base").coalesce(1), ["k"],
        )
    df = V.read_version(
        spark, root, key_range=(110, 120), key_col="k"
    ).filter("k between 110 and 120")
    assert len(df.inputFiles()) == 1  # manifest-level skip
    txt = plans.plan_text(df)
    assert "PushedFilters" in txt, txt
    import re

    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", txt).group(1)
    assert "k" in pushed, txt
    assert df.count() == 11


def test_orphan_staging_dir_never_wedges_commits(spark, root):
    """A crashed writer leaves an orphan data dir under a UNIQUE name:
    later commits never collide with it (the old commit-vN naming
    wedged every subsequent write with a path-exists error), and
    vacuum reclaims it."""
    V.commit_append(spark, root, _df(spark, 0, 10, "a").coalesce(1), ["k"])
    orphan = f"{root}/data/commit-v1-deadbeef"
    os.makedirs(orphan)
    with open(f"{orphan}/part-00000.parquet", "wb") as f:
        f.write(b"not a real parquet file")
    # version 1 commits fine despite the crashed v1 attempt's debris
    V.commit_append(spark, root, _df(spark, 10, 20, "b").coalesce(1))
    assert V.read_version(spark, root).count() == 20
    _, n_data = V.vacuum(spark, root, keep_last=1, min_staging_age_s=0.0)
    assert n_data == 1  # the orphan's file
    assert not os.path.exists(orphan)


def test_losing_commit_cleans_its_staging_dir(spark, root, monkeypatch):
    from amadeus_spark.operators import versioned as Vm

    V.commit_append(spark, root, _df(spark, 0, 10, "a").coalesce(1), ["k"])
    # a racing writer lands v1 AFTER the loser has resolved cur=0 —
    # freeze the loser's view of the log head to reproduce the race
    man = V._read_manifest(spark, root, 0)
    man["version"] = 1
    V._write_manifest_atomic(spark, root, 1, man)
    monkeypatch.setattr(Vm, "current_version", lambda s, r: 0)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        V.commit_append(spark, root, _df(spark, 10, 20, "b").coalesce(1))
    monkeypatch.undo()
    # the loser's staged data dir is gone — nothing to wedge or leak
    dirs = sorted(os.listdir(f"{root}/data"))
    assert len(dirs) == 1 and dirs[0].startswith("commit-v0-")


def test_tz_aware_timestamp_stats_stay_conservative(spark, root):
    """outputTimestampType=TIMESTAMP_MICROS makes pyarrow surface
    footer stats as TZ-AWARE datetimes, which sit in a different frame
    than the naive session-local bounds collect() feeds the pruner —
    comparing them misorders even equal instants and silently carries
    stale rows through merges. Contract: tz-aware stats are NOT
    recorded (conservative: the file is never pruned), and the merge
    stays correct."""
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    try:
        df = spark.range(0, 100).selectExpr(
            "timestamp'2024-06-01 12:00:00' + make_interval(0,0,0,0,0,0,id)"
            " AS ts",
            "id AS k",
            "'base' AS v",
        )
        V.commit_append(spark, root, df.coalesce(1), ["ts"])
        st = V._live_entries(spark, root, 0)[0]["stats"]
        assert "ts" not in st  # tz-aware min/max -> no stats recorded
        upd = spark.range(10, 20).selectExpr(
            "timestamp'2024-06-01 12:00:00' + make_interval(0,0,0,0,0,0,id)"
            " AS ts",
            "id AS k",
            "'new' AS v",
        )
        v, rewritten, _ = V.commit_upsert(spark, root, upd, "ts")
        assert rewritten == 1  # no stats -> file conservatively touched
        out = V.read_version(spark, root)
        assert out.count() == 100  # stale rows replaced, not duplicated
        assert out.filter("v = 'new'").count() == 10
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")


def test_incremental_optimize_carries_right_sized_files(spark, root):
    """small_file_mb makes OPTIMIZE incremental (the Delta posture):
    only sub-threshold files are read and rewritten; right-sized files
    carry by reference — at 100 TB a full-table rewrite per OPTIMIZE
    run would be the scale bug."""
    # one "big" file (10k rows) + four tiny ones
    V.commit_append(
        spark, root, _df(spark, 0, 10000, "big").coalesce(1), ["k"]
    )
    for lo in (20000, 20010, 20020, 20030):
        V.commit_append(
            spark, root, _df(spark, lo, lo + 10, "tiny").coalesce(1)
        )
    big_ref = {
        (e["dir"], e["path"])
        for e in V._live_entries(spark, root, 0)
    }
    # threshold far below the big file's size but above the tiny ones:
    # pick byte sizes from disk to stay robust across parquet versions
    import os as _os

    sizes = sorted(
        _os.path.getsize(_os.path.join(r, f))
        for r, _, fs in _os.walk(f"{root}/data")
        for f in fs
        if f.endswith(".parquet")
    )
    thresh_mb = (sizes[-1] - 1) / (1024 * 1024)  # everything but the max
    v, before, after = V.optimize(
        spark, root, n_files=1, small_file_mb=thresh_mb
    )
    assert before == 5 and after == 2  # 4 tiny -> 1, big carried
    entries = V._live_entries(spark, root, v)
    assert big_ref & {(e["dir"], e["path"]) for e in entries}  # by reference
    df = V.read_version(spark, root)
    assert df.count() == 10040
    assert df.filter("v = 'big'").count() == 10000
    # nothing to do when <=1 small file: same version returned
    v2, b2, a2 = V.optimize(spark, root, small_file_mb=0.000001)
    assert v2 == v and b2 == a2 == 2
    # time travel across the incremental compaction still works
    assert V.read_version(spark, root, v - 1).count() == 10040


# ------------------------------------------------------------- CDF


def _changes(rows):
    return rows  # readability marker for the expected-change asserts


def test_changefeed_append_and_cdc(spark, root):
    V.commit_append(
        spark, root, _df(spark, 0, 10, "base").coalesce(1), ["k"]
    )
    ch = spark.createDataFrame(
        [(5, "upd", 1, "U"), (20, "new", 1, "U"), (7, None, 1, "D"),
         (99, None, 1, "D")],
        "k bigint, v string, ts bigint, op string",
    )
    v, nu, nd = V.apply_changes(spark, root, ch, "k", "ts", changefeed=True)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in V.table_changes(spark, root).collect()
    )
    exp = sorted(
        [(0, "insert", k, "base") for k in range(10)]
        + _changes(
            [
                (1, "update_preimage", 5, "base"),
                (1, "update_postimage", 5, "upd"),
                (1, "insert", 20, "new"),
                (1, "delete", 7, "base"),
                # delete of absent key 99: NO change row
            ]
        )
    )
    assert got == exp
    # range-filtered read: only the merge commit
    only_v1 = V.table_changes(spark, root, starting_version=v)
    assert only_v1.count() == 4


def test_changefeed_upsert_splits_insert_vs_update(spark, root):
    V.commit_append(
        spark, root, _df(spark, 0, 10, "base").coalesce(1), ["k"]
    )
    upd = _df(spark, 8, 12, "new")  # 8,9 exist; 10,11 are inserts
    V.commit_upsert(spark, root, upd, "k", changefeed=True)
    got = sorted(
        (r["_change_type"], r["k"])
        for r in V.table_changes(spark, root, starting_version=1).collect()
    )
    assert got == sorted(
        [
            ("insert", 10), ("insert", 11),
            ("update_preimage", 8), ("update_preimage", 9),
            ("update_postimage", 8), ("update_postimage", 9),
        ]
    )


def test_changefeed_optimize_silent_merge_without_flag_raises(spark, root):
    for lo in (0, 100):
        V.commit_append(
            spark, root, _df(spark, lo, lo + 100, "a").coalesce(1), ["k"]
        )
    V.optimize(spark, root, n_files=1)  # v2: no logical change
    assert (
        V.table_changes(spark, root, starting_version=2).count() == 0
    )
    # a merge committed WITHOUT changefeed is unrecoverable: raise
    V.commit_upsert(spark, root, _df(spark, 0, 5, "x"), "k")
    with pytest.raises(ValueError, match="changefeed"):
        V.table_changes(spark, root, starting_version=3).count()
    # but the earlier range still reads fine
    assert V.table_changes(spark, root, 0, 2).count() == 200


def test_changefeed_spans_schema_evolution(spark, root):
    V.commit_append(
        spark, root, _df(spark, 0, 5, "a").coalesce(1), ["k"]
    )
    widened = spark.range(3, 7).selectExpr(
        "id AS k", "'b' AS v", "id * 10 AS extra"
    )
    V.commit_upsert(spark, root, widened, "k", changefeed=True)
    feed = V.table_changes(spark, root)
    # old insert rows surface NULL for the later-added column
    assert "extra" in feed.columns
    olds = feed.filter("_commit_version = 0").collect()
    assert all(r["extra"] is None for r in olds)
    news = {
        r["k"]: r["extra"]
        for r in feed.filter(
            "_change_type IN ('insert', 'update_postimage')"
            " AND _commit_version = 1"
        ).collect()
    }
    assert news == {3: 30, 4: 40, 5: 50, 6: 60}


def test_vacuum_reclaims_stale_change_data(spark, root):
    V.commit_append(spark, root, _df(spark, 0, 10, "a").coalesce(1), ["k"])
    for i in range(3):
        V.commit_upsert(
            spark, root, _df(spark, i, i + 2, f"u{i}"), "k",
            changefeed=True,
        )
    cdf_root = os.path.join(root, V.CDF_DIR)
    assert len(os.listdir(cdf_root)) == 3
    V.vacuum(spark, root, keep_last=1, min_staging_age_s=0.0)
    # only the newest version's change dir survives
    assert len(os.listdir(cdf_root)) == 1
    assert V.table_changes(
        spark, root, starting_version=3
    ).count() > 0


def test_stream_table_changes_exactly_once(spark, root, tmp_path):
    """The file-source changefeed stream: an availableNow drain sees
    exactly the committed change rows; a second drain over the SAME
    checkpoint after more commits sees ONLY the new ones (file-source
    exactly-once), and the union equals batch table_changes."""
    ckpt = str(tmp_path / "ckpt")

    def drain():
        rows: list = []

        def sink(batch_df, _bid):
            rows.extend(
                (r["_commit_version"], r["_change_type"], r["k"], r["v"])
                for r in batch_df.collect()
            )

        q = (
            V.stream_table_changes(spark, root)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(rows)

    V.commit_append(
        spark, root, _df(spark, 0, 5, "a").coalesce(1), ["k"],
        changefeed=True,
    )
    first = drain()
    assert first == sorted([(0, "insert", k, "a") for k in range(5)])
    # more commits: an upsert with CDF and a no-feed compaction
    V.commit_upsert(spark, root, _df(spark, 4, 7, "b"), "k", changefeed=True)
    V.optimize(spark, root, n_files=1)
    second = drain()
    assert all(r[0] == 1 for r in second)  # ONLY the new commit's rows
    assert ("insert", 5) in {(t, k) for _, t, k, _ in second}
    assert ("update_postimage", 4) in {(t, k) for _, t, k, _ in second}
    # stream union == batch feed (memory sink appends across drains)
    batch = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in V.table_changes(spark, root).collect()
    )
    assert sorted(first + second) == batch


def test_driver_prune_matches_index_prune(spark):
    """The no-checkpoint fast path (_entry_hit) must keep EXACTLY the
    entries the index-DataFrame filter (_prune) keeps — across typed
    stats (int/double/string), missing stats, bool stats, and
    type-mismatched bounds (conservative keep)."""
    from amadeus_spark.operators.versioned import (
        _INDEX_SCHEMA,
        _entry_hit,
        _entry_row,
        _prune,
    )

    entries = [
        {"dir": "d", "path": "a", "rows": 1, "stats": {"k": [0, 10]}},
        {"dir": "d", "path": "b", "rows": 1, "stats": {"k": [11, 20]}},
        {"dir": "d", "path": "c", "rows": 1, "stats": {"k": [5.5, 9.5]}},
        {"dir": "d", "path": "e", "rows": 1, "stats": {"k": [25.0, 30.0]}},
        {"dir": "d", "path": "f", "rows": 1, "stats": {}},
        {"dir": "d", "path": "g", "rows": 1, "stats": {"k": ["a", "m"]}},
        {"dir": "d", "path": "h", "rows": 1, "stats": {"k": [True, True]}},
        {"dir": "d", "path": "i", "rows": 1, "stats": {"j": [0, 100]}},
    ]
    idx = spark.createDataFrame(
        [_entry_row(e) for e in entries], _INDEX_SCHEMA
    )
    for lo, hi in [(3, 12), (21, 24), (0.0, 6.0), ("b", "c"), ("n", "z")]:
        df_kept = {
            r["path"] for r in _prune(idx, "k", lo, hi).collect()
        }
        drv_kept = {
            e["path"] for e in entries if _entry_hit(e, "k", lo, hi)
        }
        assert df_kept == drv_kept, (lo, hi, df_kept, drv_kept)


def test_commit_with_retry_wins_after_race(spark, root, monkeypatch):
    """A writer losing the publish race retries against the WINNER'S
    snapshot: the interposed commit's rows survive and the retried
    upsert applies on top — Delta's optimistic-concurrency semantics."""
    V.commit_append(spark, root, _df(spark, 0, 10, "a").coalesce(1), ["k"])

    calls = {"n": 0}
    real_write = V._write_manifest_atomic

    def racing_write(sp, rt, version, manifest):
        # first attempt: an interposed writer lands this version first
        if calls["n"] == 0:
            calls["n"] += 1
            interposed = dict(V._read_manifest(sp, rt, 0))
            interposed["version"] = version
            real_write(sp, rt, version, interposed)  # the winner
        return real_write(sp, rt, version, manifest)

    monkeypatch.setattr(V, "_write_manifest_atomic", racing_write)
    v = V.commit_with_retry(
        lambda: V.commit_upsert(spark, root, _df(spark, 5, 8, "new"), "k")
    )[0]
    assert v == 2  # lost v1 to the interposed writer, retried at v2
    got = {r["k"]: r["v"] for r in V.read_version(spark, root).collect()}
    assert all(got[k] == "new" for k in (5, 6, 7))
    assert all(got[k] == "a" for k in (0, 1, 2, 3, 4, 8, 9))


def test_commit_with_retry_exhausts(spark, root, monkeypatch):
    V.commit_append(spark, root, _df(spark, 0, 5, "a"), ["k"])

    def always_lose(*a, **k):
        raise RuntimeError("concurrent commit: simulated")

    monkeypatch.setattr(V, "_write_manifest_atomic", always_lose)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        V.commit_with_retry(
            lambda: V.commit_upsert(spark, root, _df(spark, 0, 1, "x"), "k"),
            attempts=2,
        )


def test_changefeed_spans_checkpoint_boundary(spark, root, monkeypatch):
    """table_changes reads SEGMENTS, not the checkpointed file index:
    a feed crossing a checkpoint boundary (and a compaction) must
    return every commit's changes."""
    monkeypatch.setattr(V, "CHECKPOINT_EVERY", 4)
    V.commit_append(
        spark, root, _df(spark, 0, 4, "a").coalesce(1), ["k"],
        changefeed=True,
    )
    for i in range(5):  # versions 1..5 cross the v4 checkpoint
        V.commit_upsert(
            spark, root, _df(spark, i, i + 2, f"u{i}"), "k",
            changefeed=True,
        )
    feed = V.table_changes(spark, root)
    per_v = {
        r["_commit_version"]: r["cnt"]
        for r in feed.groupBy("_commit_version")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert set(per_v) == set(range(6))
    assert per_v[0] == 4  # the streamable append's inserts
    # every upsert of 2 keys yields >= 2 change rows (post + pre/ins)
    assert all(per_v[v] >= 2 for v in range(1, 6))


def test_interposed_commit_surfaces_as_conflict(spark, root, monkeypatch):
    """The commit version is PINNED to the resolved snapshot: a commit
    that lands between a writer's snapshot resolution and its publish
    must COLLIDE on the version file ('concurrent commit'), never be
    silently absorbed by a publish-time re-read — absorption would
    resurrect the interposed commit's removed rows / drop its adds
    (the merge was planned against the older snapshot)."""
    V.commit_append(spark, root, _df(spark, 0, 10, "a").coalesce(1), ["k"])
    real = V._pruned_entries
    state = {"done": False}

    def hook(*a, **k):
        # fires after the outer upsert resolved its snapshot (v0) but
        # before it publishes — the ADVICE race window
        if not state["done"]:
            state["done"] = True
            V.commit_upsert(
                spark, root, _df(spark, 5, 8, "mid").coalesce(1), "k"
            )
        return real(*a, **k)

    monkeypatch.setattr(V, "_pruned_entries", hook)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        V.commit_upsert(spark, root, _df(spark, 0, 3, "new"), "k")
    # the interposed writer's commit is intact; the loser left nothing
    got = {r["k"]: r["v"] for r in V.read_version(spark, root).collect()}
    assert got[5] == got[6] == got[7] == "mid"
    assert got[0] == "a"  # loser's update never landed
    assert V.current_version(spark, root) == 1


def test_vacuum_aborts_when_checkpoint_fails(spark, root, monkeypatch):
    """checkpoint-before-log-truncation: a FAILED cutoff checkpoint
    (pyarrow surfaces transient I/O as OSError) must ABORT the vacuum
    before any deletion — truncating segments below an unwritten
    checkpoint would destroy the only recoverable base for every kept
    version."""
    for lo in (0, 50, 100):
        V.commit_append(
            spark, root, _df(spark, lo, lo + 50, "a").coalesce(1), ["k"]
        )

    def broken_ckpt(*a, **k):
        raise OSError("transient I/O failure")

    monkeypatch.setattr(V, "_write_checkpoint", broken_ckpt)
    with pytest.raises(RuntimeError, match="vacuum aborted"):
        V.vacuum(spark, root, keep_last=1, min_staging_age_s=0.0)
    # nothing was deleted: every version still resolves
    for v in range(3):
        assert V.read_version(spark, root, version=v).count() == (v + 1) * 50


def test_stream_attaches_before_first_changefeed_commit(spark, root, tmp_path):
    """A consumer may attach to the changefeed BEFORE any changefeed
    commit lands: the stream starts (empty _change_data/), and the
    first changefeed commit's rows arrive on the next drain — not a
    path-does-not-exist failure at stream start."""
    V.commit_append(spark, root, _df(spark, 0, 5, "a").coalesce(1), ["k"])
    ckpt = str(tmp_path / "ckpt")
    rows: list = []

    def drain():
        q = (
            V.stream_table_changes(spark, root)
            .writeStream.foreachBatch(
                lambda b, _id: rows.extend(
                    (r["_commit_version"], r["_change_type"], r["k"])
                    for r in b.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()  # attaches with zero changefeed commits
    assert rows == []
    V.commit_upsert(spark, root, _df(spark, 0, 2, "b"), "k", changefeed=True)
    drain()
    assert {(t, k) for _, t, k in rows} >= {("update_postimage", 0)}


def test_vacuum_undrained_changefeed_documented_loss(spark, root, tmp_path):
    """CDF retention contract (Delta's): vacuum reclaims change dirs
    outside the keep window WITHOUT consulting stream checkpoints. A
    change file the lagging consumer never discovered is LOST SILENTLY
    (the file source simply never lists it); the stream itself keeps
    running and sees later commits. Size keep_last to cover the
    slowest consumer's lag."""
    ckpt = str(tmp_path / "ckpt")
    rows: list = []

    def drain():
        q = (
            V.stream_table_changes(spark, root)
            .writeStream.foreachBatch(
                lambda b, _id: rows.extend(
                    (r["_commit_version"], r["_change_type"], r["k"])
                    for r in b.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    V.commit_append(
        spark, root, _df(spark, 0, 5, "a").coalesce(1), ["k"], changefeed=True
    )
    drain()
    assert len(rows) == 5  # v0 inserts drained
    rows.clear()
    # v1 lands while the consumer is detached ... and is vacuumed away
    V.commit_upsert(spark, root, _df(spark, 0, 2, "b"), "k", changefeed=True)
    V.commit_append(
        spark, root, _df(spark, 10, 12, "c").coalesce(1), changefeed=True
    )  # v2
    V.vacuum(spark, root, keep_last=1, min_staging_age_s=0.0)  # keep window = v2 only
    drain()
    versions = {v for v, _, _ in rows}
    assert 1 not in versions  # v1's undrained changes: silently lost
    assert 2 in versions  # the kept commit still arrives

def test_stream_changes_starting_version(spark, root, tmp_path):
    """starting_version (Delta's startingVersion): a consumer
    attaching at version N sees no rows below N — older change files
    are read once and row-filtered — and commits AFTER attach still
    arrive on later drains."""
    V.commit_append(
        spark, root, _df(spark, 0, 4, "a").coalesce(1), ["k"], changefeed=True
    )
    for i, tag in enumerate(("b", "c")):
        V.commit_upsert(
            spark, root, _df(spark, i, i + 2, tag), "k", changefeed=True
        )
    ckpt = str(tmp_path / "ckpt")
    rows: list = []

    def drain():
        q = (
            V.stream_table_changes(spark, root, starting_version=2)
            .writeStream.foreachBatch(
                lambda b, _id: rows.extend(
                    (r["_commit_version"], r["_change_type"], r["k"])
                    for r in b.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert rows and {v for v, _, _ in rows} == {2}
    rows.clear()
    V.commit_upsert(spark, root, _df(spark, 9, 11, "d"), "k", changefeed=True)
    drain()
    assert {v for v, _, _ in rows} == {3}


def test_vacuum_keep_since_wall_clock(spark, root, monkeypatch):
    """Time-based retention (Delta's deletedFileRetentionDuration
    analogue): keep_since keeps every commit at-or-after the instant
    PLUS the newest commit at-or-before it (the snapshot current
    then), combined PROTECTIVELY with keep_last. Commit timestamps
    come from the manifest's ts field, stamped at commit time."""
    import types

    clock = {"now": 1000.0}
    monkeypatch.setattr(
        V, "_time", types.SimpleNamespace(time=lambda: clock["now"])
    )
    for i, t in enumerate((1000.0, 2000.0, 3000.0, 4000.0, 5000.0)):
        clock["now"] = t
        V.commit_append(
            spark, root, _df(spark, i * 10, i * 10 + 10, f"t{i}").coalesce(1)
        )
    assert [h["ts"] for h in V.history(spark, root)] == [
        1000.0, 2000.0, 3000.0, 4000.0, 5000.0,
    ]
    # keep_last=1 alone would keep only v4; keep_since=3500 anchors the
    # as-of snapshot at v2 (ts 3000) — protective union keeps v2..v4
    n_man, _ = V.vacuum(spark, root, keep_last=1, keep_since=3500.0, min_staging_age_s=0.0)
    assert n_man == 2  # v0, v1 truncated
    assert V.read_version(spark, root, 2).count() == 30  # as-of works
    assert V.read_version(spark, root, 4).count() == 50
    with pytest.raises((FileNotFoundError, OSError)):
        V.read_version(spark, root, 1)
    # keep_since older than every commit → nothing further deleted
    n_man, n_data = V.vacuum(spark, root, keep_last=1, keep_since=500.0, min_staging_age_s=0.0)
    assert n_man == 0 and n_data == 0
    # datetime form accepted; future instant → anchor is the current
    # version, keep_last still protects the same window
    import datetime as dt

    n_man, _ = V.vacuum(
        spark,
        root,
        keep_last=2,
        keep_since=dt.datetime.fromtimestamp(9e9),
        min_staging_age_s=0.0,
    )
    assert n_man == 1  # v2 goes; v3 kept by keep_last=2
    assert V.read_version(spark, root, 3).count() == 40


def test_commit_ts_falls_back_to_manifest_mtime(spark, root):
    """Pre-ts logs (manifests written before the field existed):
    _commit_ts falls back to the manifest FILE's modification time, so
    keep_since still works on old tables."""
    import json as _json

    V.commit_append(spark, root, _df(spark, 0, 5, "a").coalesce(1))
    mpath = os.path.join(root, V.MANIFEST_DIR, "v0.json")
    m = _json.load(open(mpath))
    ts_field = m.pop("ts")
    _json.dump(m, open(mpath, "w"))
    got = V._commit_ts(spark, root, 0)
    assert got > 0 and abs(got - ts_field) < 3600  # mtime ≈ commit time


def test_read_version_as_of_timestamp(spark, root, monkeypatch):
    """Timestamp time travel (Delta timestampAsOf): as_of_ts resolves
    the snapshot current at that instant; between-commit instants pick
    the earlier commit; pre-history instants and vacuumed history
    raise."""
    import types

    clock = {"now": 0.0}
    monkeypatch.setattr(
        V, "_time", types.SimpleNamespace(time=lambda: clock["now"])
    )
    for i, t in enumerate((1000.0, 2000.0, 3000.0)):
        clock["now"] = t
        V.commit_append(
            spark, root, _df(spark, i * 10, i * 10 + 10, f"t{i}").coalesce(1)
        )
    assert V.version_as_of(spark, root, 2500.0) == 1
    assert V.read_version(spark, root, as_of_ts=2000.0).count() == 20
    assert V.read_version(spark, root, as_of_ts=9e9).count() == 30
    with pytest.raises(FileNotFoundError, match="newer than"):
        V.version_as_of(spark, root, 500.0)
    with pytest.raises(ValueError, match="not both"):
        V.read_version(spark, root, version=0, as_of_ts=1000.0)
    V.vacuum(spark, root, keep_last=1, min_staging_age_s=0.0)
    with pytest.raises(FileNotFoundError, match="truncated"):
        V.version_as_of(spark, root, 1500.0)


def test_delete_where_rewrites_only_touched_files(spark, root):
    """Predicate DELETE: only files holding matching rows are
    rewritten; others carry by reference; NULL predicates KEEP rows
    (SQL DELETE semantics); non-matching predicate is a no-op."""
    for lo in (0, 100):
        V.commit_append(
            spark, root, _df(spark, lo, lo + 100, "a").coalesce(1), ["k"]
        )
    # NULL-predicate row: v = NULL for k = 5
    V.commit_upsert(
        spark,
        root,
        spark.createDataFrame([(5, None)], "k long, v string"),
        "k",
    )
    # delete WHERE v = 'a' AND k % 2 = 0 — NULL v (k=5) must survive
    ver, n_rw, n_carried, n_del = V.commit_delete_where(
        spark, root, "v = 'a' AND k % 2 = 0"
    )
    df = V.read_version(spark, root)
    assert n_del == 100  # 200 rows, k=5 now NULL-v (odd anyway): 100 evens gone
    assert df.count() == 100
    assert df.filter("k % 2 = 0").count() == 0
    assert df.filter("k = 5").count() == 1  # NULL predicate kept
    # no-op path: nothing matches → same version, no commit
    ver2, n_rw2, _, n_del2 = V.commit_delete_where(spark, root, "k < 0")
    assert (ver2, n_rw2, n_del2) == (ver, 0, 0)
    assert V.current_version(spark, root) == ver
    # time travel still sees the pre-delete snapshot
    assert V.read_version(spark, root, ver - 1).count() == 200


def test_delete_where_all_rows_of_touched_file(spark, root):
    """A file whose every row matches is removed outright (the rewrite
    is empty for it) — totals and reads stay consistent."""
    V.commit_append(spark, root, _df(spark, 0, 50, "a").coalesce(1), ["k"])
    V.commit_append(spark, root, _df(spark, 50, 90, "b").coalesce(1))
    ver, n_rw, n_carried, n_del = V.commit_delete_where(
        spark, root, "v = 'b'"
    )
    assert (n_rw, n_carried, n_del) == (1, 1, 40)
    df = V.read_version(spark, root)
    assert df.count() == 50 and df.filter("v = 'b'").count() == 0


def test_update_where_simultaneous_sets_and_cdf(spark, root, tmp_path):
    """Predicate UPDATE: every SET expression sees the PRE-update row
    (k and v swap correctly in one statement), results cast to the
    column's type, carried files untouched; changefeed captures
    preimage/postimage pairs and DELETE captures deleted rows —
    drained exactly-once through the streaming feed."""
    V.commit_append(
        spark,
        root,
        spark.range(0, 20).selectExpr(
            "id AS k", "CAST(id * 10 AS BIGINT) AS val"
        ).coalesce(1),
        ["k"],
    )
    ver, n_rw, n_carried = V.commit_update_where(
        spark,
        root,
        "k >= 15",
        {"k": "k + 100", "val": "k"},  # val must see PRE-update k
        changefeed=True,
    )
    df = V.read_version(spark, root)
    assert df.count() == 20
    got = {r["k"]: r["val"] for r in df.collect()}
    for k in range(15):
        assert got[k] == k * 10
    for k in range(15, 20):
        assert got[k + 100] == k  # simultaneous semantics
    # updates never evolve schema
    with pytest.raises(ValueError, match="not in the table schema"):
        V.commit_update_where(spark, root, "k = 0", {"nope": "1"})
    dver, _, _, n_del = V.commit_delete_where(
        spark, root, "k >= 115", changefeed=True
    )
    assert n_del == 5
    ch = V.table_changes(spark, root, ver, dver)
    by_type = (
        ch.groupBy("_change_type").count().collect()
    )
    counts = {r["_change_type"]: r["count"] for r in by_type}
    assert counts == {
        "update_preimage": 5,
        "update_postimage": 5,
        "delete": 5,
    }
    # streaming feed sees the same rows exactly once
    rows: list = []
    q = (
        V.stream_table_changes(spark, root, starting_version=ver)
        .writeStream.foreachBatch(
            lambda b, _id: rows.extend(
                (r["_commit_version"], r["_change_type"], r["k"])
                for r in b.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(rows) == 15
    assert {t for _, t, _ in rows} == {
        "update_preimage", "update_postimage", "delete"
    }


# ------------------------------------------------------------- MERGE


def _merge_base(spark, root):
    """10 keys in 3 range-partitioned files, stats on k."""
    base = spark.createDataFrame(
        [(i, i * 10, "b") for i in range(10)],
        "k bigint, val bigint, tag string",
    ).repartitionByRange(3, "k")
    V.commit_append(spark, root, base, ["k"])


def test_merge_full_clause_surface(spark, root):
    """Every MERGE clause kind in one commit: conditional matched
    delete + unconditional matched update, two ordered not-matched
    insert clauses (first-true wins; explicit values fill unlisted
    columns with NULL-then-cast), and not-matched-by-source delete +
    conditional update. NULL source keys never match (SQL equality)
    and fall through to the insert clauses."""
    _merge_base(spark, root)
    src = spark.createDataFrame(
        [(2, 99, "s"), (3, 100, "s"), (12, 7, "s"), (13, 3, "s"),
         (None, 1, "s")],
        "k bigint, val bigint, tag string",
    )
    v, rewritten, carried = V.commit_merge(
        spark, root, src, "k",
        matched=[
            {"action": "delete", "condition": "s.val >= 100"},
            {"action": "update",
             "set": {"val": "t.val + s.val", "tag": "'upd'"}},
        ],
        not_matched=[
            {"action": "insert", "condition": "val > 5", "values": None},
            {"action": "insert",
             "values": {"k": "k", "val": "val * 2", "tag": "'ins2'"}},
        ],
        not_matched_by_source=[
            {"action": "delete", "condition": "k = 9"},
            {"action": "update", "condition": "k = 8",
             "set": {"tag": "'stale'"}},
        ],
    )
    assert v == 1 and rewritten == 3 and carried == 0
    got = {tuple(r) for r in V.read_version(spark, root).collect()}
    assert got == {
        (0, 0, "b"), (1, 10, "b"), (2, 119, "upd"), (4, 40, "b"),
        (5, 50, "b"), (6, 60, "b"), (7, 70, "b"), (8, 80, "stale"),
        (12, 7, "s"), (13, 6, "ins2"), (None, 2, "ins2"),
    }


def test_merge_changefeed_rows(spark, root):
    _merge_base(spark, root)
    src = spark.createDataFrame(
        [(2, 99, "s"), (3, 100, "s"), (12, 7, "s")],
        "k bigint, val bigint, tag string",
    )
    v, _, _ = V.commit_merge(
        spark, root, src, "k",
        matched=[
            {"action": "delete", "condition": "s.val >= 100"},
            {"action": "update", "set": {"val": "s.val"}},
        ],
        not_matched=[{"action": "insert", "values": None}],
        not_matched_by_source=[
            {"action": "delete", "condition": "k = 9"}],
        changefeed=True,
    )
    ch = V.table_changes(spark, root, v, v).collect()
    got = sorted((r["k"], r["_change_type"], r["val"]) for r in ch)
    assert got == [
        (2, "update_postimage", 99), (2, "update_preimage", 20),
        (3, "delete", 30), (9, "delete", 90), (12, "insert", 7),
    ]


def test_merge_cardinality_and_insert_only(spark, root):
    """>1 source row matching one target row with a matched clause is
    Delta's cardinality error; the same duplication is two legitimate
    inserts for an insert-only merge — which must rewrite (and REMOVE)
    no files at all, and must not resurrect or duplicate an existing
    key."""
    _merge_base(spark, root)
    dup = spark.createDataFrame(
        [(2, 1, "x"), (2, 2, "y")], "k bigint, val bigint, tag string")
    with pytest.raises(ValueError, match="cardinality"):
        V.commit_merge(spark, root, dup, "k",
                       matched=[{"action": "delete"}])
    src = spark.createDataFrame(
        [(50, 1, "x"), (50, 2, "y"), (2, 5, "z")],
        "k bigint, val bigint, tag string",
    )
    before = {(e["dir"], e["path"])
              for e in V._live_entries(spark, root, 0)}
    v, rewritten, carried = V.commit_merge(
        spark, root, src, "k",
        not_matched=[{"action": "insert", "values": None}],
    )
    assert rewritten == 0 and carried == 3
    after = V._live_entries(spark, root, v)
    assert before <= {(e["dir"], e["path"]) for e in after}
    df = V.read_version(spark, root)
    assert df.where("k = 50").count() == 2
    assert df.where("k = 2").count() == 1
    assert df.count() == 12


def test_merge_prunes_by_file_stats(spark, root):
    """Only files whose key stats intersect the source range rewrite;
    the rest carry by reference (the upsert pruning discipline)."""
    for lo in (0, 100, 200, 300):
        V.commit_append(
            spark, root,
            spark.range(lo, lo + 100).selectExpr(
                "id AS k", "id * 2 AS val").coalesce(1),
            ["k"],
        )
    src = spark.range(250, 253).selectExpr("id AS k", "id AS val")
    v, rewritten, carried = V.commit_merge(
        spark, root, src, "k",
        matched=[{"action": "update", "set": {"val": "s.val"}}],
    )
    assert rewritten == 1 and carried == 3
    got = {r["k"]: r["val"]
           for r in V.read_version(spark, root)
           .where("k >= 248 and k < 255").collect()}
    assert got == {248: 496, 249: 498, 250: 250, 251: 251,
                   252: 252, 253: 506, 254: 508}


def test_merge_nmbs_touches_only_condition_files(spark, root):
    """A conditional not-matched-by-source clause expands the rewrite
    set via ONE predicate-pushed scan — only files holding matching
    rows rewrite, not the whole table."""
    for lo in (0, 100, 200, 300):
        V.commit_append(
            spark, root,
            spark.range(lo, lo + 100).selectExpr(
                "id AS k", "id * 2 AS val").coalesce(1),
            ["k"],
        )
    src = spark.createDataFrame([(5, 1)], "k bigint, val bigint")
    v, rewritten, carried = V.commit_merge(
        spark, root, src, "k",
        matched=[{"action": "update", "set": {"val": "s.val"}}],
        not_matched_by_source=[
            {"action": "delete", "condition": "k = 350"}],
    )
    # file [0,100) via key range + file [300,400) via the nmbs scan
    assert rewritten == 2 and carried == 2
    df = V.read_version(spark, root)
    assert df.where("k = 350").count() == 0
    assert df.where("k = 5").head()["val"] == 1
    assert df.count() == 399


def test_merge_null_condition_never_fires(spark, root):
    """A clause condition evaluating to NULL is NOT TRUE — the row
    falls through to the next clause / passes unchanged (iron rule 9,
    SQL CASE semantics)."""
    V.commit_append(
        spark, root,
        spark.createDataFrame(
            [(1, None), (2, 5)], "k bigint, val bigint"),
        ["k"],
    )
    src = spark.createDataFrame([(1, 7), (2, 7)], "k bigint, val bigint")
    V.commit_merge(
        spark, root, src, "k",
        matched=[
            {"action": "delete", "condition": "t.val > 3"},  # NULL on k=1
            {"action": "update", "set": {"val": "s.val"}},
        ],
    )
    got = {r["k"]: r["val"] for r in V.read_version(spark, root).collect()}
    assert got == {1: 7}  # k=2 deleted; k=1 fell through to update


def test_merge_schema_validation(spark, root):
    _merge_base(spark, root)
    src = spark.createDataFrame([(1, 2)], "k bigint, val bigint")
    with pytest.raises(ValueError, match="not in the table schema"):
        V.commit_merge(spark, root, src, "k",
                       matched=[{"action": "update",
                                 "set": {"bogus": "1"}}])
    with pytest.raises(ValueError, match="omits existing table columns"):
        V.commit_merge(spark, root, src, "k",
                       not_matched=[{"action": "insert", "values": None}])
    with pytest.raises(ValueError, match="at least one WHEN"):
        V.commit_merge(spark, root, src, "k")


# ----------------------------------------------------------- RESTORE


def test_restore_by_reference(spark, root):
    """RESTORE relinks the target snapshot's files without touching
    data: the restored live set IS the target's (same (dir, path)
    identities), totals and schema roll back, and history keeps both
    the rolled-back commits and the restore itself."""
    V.commit_append(spark, root, _df(spark, 0, 100, "a"), ["k"])
    V.commit_append(spark, root, _df(spark, 100, 150, "b"))
    V.commit_upsert(spark, root, _df(spark, 10, 20, "upd"), "k")
    v1_entries = {(e["dir"], e["path"])
                  for e in V._live_entries(spark, root, 1)}
    rv, relinked, removed = V.restore_version(spark, root, version=1)
    assert rv == 3 and removed > 0
    after = {(e["dir"], e["path"]) for e in V._live_entries(spark, root, rv)}
    assert after == v1_entries
    df = V.read_version(spark, root)
    assert df.count() == 150
    assert df.where("v = 'upd'").count() == 0
    hist = V.history(spark, root)
    assert [h["op"] for h in hist] == [
        "append", "append", "upsert", "restore"]
    assert hist[-1]["n_rows"] == 150
    # the restore is itself restorable (history is preserved)
    V.restore_version(spark, root, version=2)
    assert V.read_version(spark, root).where("v = 'upd'").count() == 10


def test_restore_changefeed_logical_diff(spark, root):
    V.commit_append(spark, root, _df(spark, 0, 5, "a"), ["k"])
    V.commit_upsert(spark, root, _df(spark, 3, 7, "new"), "k")
    rv, _, _ = V.restore_version(spark, root, version=0, changefeed=True)
    ch = V.table_changes(spark, root, rv, rv).collect()
    got = sorted((r["k"], r["v"], r["_change_type"]) for r in ch)
    assert got == [
        (3, "a", "insert"), (3, "new", "delete"),
        (4, "a", "insert"), (4, "new", "delete"),
        (5, "new", "delete"), (6, "new", "delete"),
    ]


def test_restore_guards(spark, root):
    V.commit_append(spark, root, _df(spark, 0, 5, "a"), ["k"])
    cur = V.current_version(spark, root)
    assert V.restore_version(spark, root, version=cur) == (cur, 0, 0)
    with pytest.raises(ValueError, match="version or as_of_ts"):
        V.restore_version(spark, root)
    # schema evolution between target and current: changefeed diff is
    # undefined and must raise rather than guess
    V.commit_upsert(
        spark, root,
        spark.range(0, 5).selectExpr(
            "id AS k", "'z' AS v", "id AS extra"),
        "k",
    )
    with pytest.raises(ValueError, match="schema evolution"):
        V.restore_version(spark, root, version=0, changefeed=True)
    # without changefeed the rollback (incl. schema) is fine
    rv, _, _ = V.restore_version(spark, root, version=0)
    assert V.read_version(spark, root).columns == ["k", "v"]


def test_restore_vacuumed_version_raises(spark, root):
    for i in range(4):
        V.commit_append(spark, root, _df(spark, i * 10, i * 10 + 10, "a"),
                        ["k"])
    V.vacuum(spark, root, keep_last=2, min_staging_age_s=0.0)
    with pytest.raises((FileNotFoundError, OSError)):
        V.restore_version(spark, root, version=0)
    rv, _, _ = V.restore_version(spark, root, version=2)
    assert V.read_version(spark, root).count() == 30


def test_merge_interposed_commit_conflicts(spark, root, monkeypatch):
    """A commit landing between a merge's snapshot resolution and its
    publish collides ('concurrent commit') — the pinned-version
    contract covers commit_merge too."""
    V.commit_append(spark, root, _df(spark, 0, 10, "a").coalesce(1), ["k"])
    real = V._pruned_entries
    state = {"done": False}

    def hook(*a, **k):
        if not state["done"]:
            state["done"] = True
            V.commit_upsert(
                spark, root, _df(spark, 5, 8, "mid").coalesce(1), "k"
            )
        return real(*a, **k)

    monkeypatch.setattr(V, "_pruned_entries", hook)
    src = spark.createDataFrame([(1, "z")], "k bigint, v string")
    with pytest.raises(RuntimeError, match="concurrent commit"):
        V.commit_merge(
            spark, root, src, "k",
            matched=[{"action": "update", "set": {"v": "s.v"}}],
        )
    got = {r["k"]: r["v"] for r in V.read_version(spark, root).collect()}
    assert got[5] == "mid" and got[1] == "a"
    assert V.current_version(spark, root) == 1


def test_merge_partitioning_invariance(spark, root):
    """The merged state is independent of the SOURCE's physical
    partitioning (the §5 local/dist parity discipline)."""
    results = []
    for i, part in enumerate((1, 7)):
        r = str(root) + f"-{i}"
        V.commit_append(
            spark, r,
            spark.range(0, 50).selectExpr("id AS k", "id AS val")
            .repartitionByRange(3, "k"),
            ["k"],
        )
        src = spark.range(30, 70).selectExpr(
            "id AS k", "id * 3 AS val").repartition(part)
        V.commit_merge(
            spark, r, src, "k",
            matched=[
                {"action": "delete", "condition": "s.val % 9 = 0"},
                {"action": "update", "set": {"val": "s.val"}},
            ],
            not_matched=[{"action": "insert", "values": None}],
            not_matched_by_source=[
                {"action": "delete", "condition": "k % 13 = 1"}],
        )
        results.append(sorted(
            tuple(row) for row in V.read_version(spark, r).collect()
        ))
    assert results[0] == results[1]


# ---------------------------------------------------- DELETION VECTORS


def _dv_base(spark, root):
    """400 rows, 4 single-file range commits with k stats."""
    for lo in (0, 100, 200, 300):
        V.commit_append(
            spark, root,
            spark.range(lo, lo + 100).selectExpr(
                "id AS k", "id * 2 AS val").coalesce(1),
            ["k"],
        )


def test_dv_delete_rewrites_nothing(spark, root):
    """A DV delete re-points the touched entries at a deletion vector
    — the SAME physical files stay live (by identity), reads exclude
    exactly the matched rows, totals debit, and time travel to the
    pre-delete snapshot still sees everything."""
    _dv_base(spark, root)
    before = {(e["dir"], e["path"])
              for e in V._live_entries(spark, root, 3)}
    v, rewritten, carried, n_del = V.commit_delete_where(
        spark, root, "k % 100 < 3 AND k < 200", mode="dv")
    assert rewritten == 0 and carried == 4 and n_del == 6
    after = V._live_entries(spark, root, v)
    assert {(e["dir"], e["path"]) for e in after} == before
    dvd = [e for e in after if e.get("dv")]
    assert len(dvd) == 2 and all(e["dv"]["rows"] == 3 for e in dvd)
    assert sum(e["rows"] for e in after) == 394
    df = V.read_version(spark, root)
    assert df.count() == 394
    assert df.where("k in (0, 1, 2, 100, 101, 102)").count() == 0
    assert df.where("k = 3").head()["val"] == 6
    # the pre-delete snapshot is untouched (merge-on-read, not rewrite)
    assert V.read_version(spark, root, 3).count() == 400
    hist = V.history(spark, root)
    assert hist[-1]["op"] == "delete" and hist[-1]["n_rows"] == 394


def test_dv_second_delete_unions_and_noop_skips_deleted(spark, root):
    """A second DV delete on the same file unions into a fresh DV
    (one DV ref per entry); a predicate matching ONLY already-deleted
    rows is a no-op (the finding scan reads live rows)."""
    _dv_base(spark, root)
    V.commit_delete_where(spark, root, "k = 5", mode="dv")
    v2 = V.commit_delete_where(spark, root, "k = 7", mode="dv")[0]
    e = [x for x in V._live_entries(spark, root, v2) if x.get("dv")]
    assert len(e) == 1 and e[0]["dv"]["rows"] == 2
    df = V.read_version(spark, root)
    assert df.count() == 398 and df.where("k in (5, 7)").count() == 0
    # no-op: every matching row is already deleted
    cur = V.current_version(spark, root)
    v3, rw, car, n = V.commit_delete_where(spark, root, "k = 5", mode="dv")
    assert v3 == cur and n == 0
    # rewrite-mode delete on the same rows is also a no-op
    v4 = V.commit_delete_where(spark, root, "k = 7")
    assert v4[0] == cur and v4[3] == 0


def test_dv_update_appends_postimages(spark, root):
    """DV update: matched rows DV-delete in place, post-images append
    as a new file; every SET sees the pre-update row."""
    _dv_base(spark, root)
    v, rewritten, carried = V.commit_update_where(
        spark, root, "k % 100 = 50", {"val": "val + k"}, mode="dv")
    assert rewritten == 0 and carried == 4
    df = V.read_version(spark, root)
    assert df.count() == 400
    got = {r["k"]: r["val"] for r in df.where("k % 100 = 50").collect()}
    assert got == {50: 150, 150: 450, 250: 750, 350: 1050}
    ent = V._live_entries(spark, root, v)
    # 4 carried (dv'd) + the post-image file(s); new-file count follows
    # the post plan's partitioning, their ROWS are pinned
    dvd = [e for e in ent if e.get("dv")]
    assert len(dvd) == 4
    assert sum(e["rows"] for e in ent if not e.get("dv")) == 4


def test_dv_rewrite_paths_never_resurrect(spark, root):
    """Every rewrite consumer (upsert / predicate update / merge)
    reads through the DV anti-join — a rewritten file must not
    resurrect its deleted rows, and a source key equal to a deleted
    key re-INSERTS (the key is gone)."""
    _dv_base(spark, root)
    V.commit_delete_where(spark, root, "k in (10, 210)", mode="dv")
    # upsert rewrites the [0,100) file: k=10 must stay gone
    V.commit_upsert(
        spark, root,
        spark.createDataFrame([(20, -1)], "k bigint, val bigint"), "k")
    df = V.read_version(spark, root)
    assert df.where("k = 10").count() == 0
    assert df.where("k = 20").head()["val"] == -1
    # the rewritten file dropped its dv ref; [200,300) still carries it
    ent = V._live_entries(spark, root, V.current_version(spark, root))
    assert sum(1 for e in ent if e.get("dv")) == 1
    # merge insert-only: a deleted key is NOT matched -> insert lands
    v, rw, _ = V.commit_merge(
        spark, root,
        spark.createDataFrame([(210, 999)], "k bigint, val bigint"),
        "k", not_matched=[{"action": "insert", "values": None}])
    assert rw == 0
    assert V.read_version(spark, root).where("k = 210").head()["val"] == 999


def test_dv_optimize_purges(spark, root):
    """Incremental OPTIMIZE always rewrites DV'd files (REORG APPLY
    PURGE): the compacted snapshot has no DV refs, same live rows; a
    subsequent vacuum reclaims the now-unreferenced DV dirs."""
    import os as _os

    _dv_base(spark, root)
    V.commit_delete_where(spark, root, "k % 2 = 1", mode="dv")
    assert V.read_version(spark, root).count() == 200
    v, nb, na = V.optimize(spark, root, small_file_mb=0.0001)
    ent = V._live_entries(spark, root, v)
    assert not any(e.get("dv") for e in ent)
    df = V.read_version(spark, root)
    assert df.count() == 200 and df.where("k % 2 = 1").count() == 0
    V.vacuum(spark, root, keep_last=1, min_staging_age_s=0.0)
    dv_root = _os.path.join(str(root), V.DV_DIR)
    assert not _os.path.exists(dv_root) or not _os.listdir(dv_root)
    assert V.read_version(spark, root).count() == 200


def test_dv_changefeed_and_time_travel_restore(spark, root):
    """DV delete/update capture CDF rows like the rewrite modes;
    restore relinks DV'd entries (dv ref included) by reference."""
    _dv_base(spark, root)
    vd = V.commit_delete_where(
        spark, root, "k = 42", mode="dv", changefeed=True)[0]
    vu = V.commit_update_where(
        spark, root, "k = 43", {"val": "0"}, mode="dv", changefeed=True)[0]
    ch = V.table_changes(spark, root, vd, vu).collect()
    got = sorted((r["k"], r["_change_type"], r["val"]) for r in ch)
    assert got == [
        (42, "delete", 84),
        (43, "update_postimage", 0), (43, "update_preimage", 86),
    ]
    pre = V.current_version(spark, root)
    # live k<50 rows: 0..49 minus deleted 42, minus 43's dv'd preimage,
    # plus 43's appended post-image = 49
    V.commit_delete_where(spark, root, "k < 50", mode="dv")
    assert V.read_version(spark, root).count() == 350
    rv, _, _ = V.restore_version(spark, root, version=pre)
    df = V.read_version(spark, root)
    assert df.count() == 399  # k=42 still deleted, k<50 back
    assert df.where("k = 42").count() == 0
    assert df.where("k = 43").head()["val"] == 0


def test_dv_survives_checkpoint(spark, root):
    """DV refs round-trip through the parquet checkpoint index (the
    10^6-file resolution path), and pruned reads stay DV-correct."""
    _dv_base(spark, root)
    v = V.commit_delete_where(spark, root, "k = 250", mode="dv")[0]
    V._write_checkpoint(spark, root, v)
    res = V._resolve(spark, root, v)
    assert res["ckpt"] == v
    ent = V._pruned_entries(spark, root, res)
    assert sum(1 for e in ent if e.get("dv")) == 1
    df = V.read_version(spark, root, v, key_range=(240, 260), key_col="k")
    assert df.count() == 99 and df.where("k = 250").count() == 0


def test_dv_read_plan_broadcasts_the_vector(spark, root):
    """The DV anti-join must plan as a BROADCAST join (the vector is
    the deleted-row set — small by construction) with no cartesian /
    nested-loop fallback, and the data scan must stay a parquet
    FileScan (pushdown-capable)."""
    _dv_base(spark, root)
    V.commit_delete_where(spark, root, "k % 97 = 1", mode="dv")
    plan = V.read_version(spark, root)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_merge_nmbs_only_neither_rewrites_keys_nor_duplicates(spark, root):
    """An nmbs-only merge (no matched clause): duplicate source keys
    must NOT fan pass-through matched rows into duplicates (the join
    side collapses to distinct keys), and key-range files hit by no
    nmbs condition must NOT rewrite."""
    for lo in (0, 100, 200, 300):
        V.commit_append(
            spark, root,
            spark.range(lo, lo + 100).selectExpr(
                "id AS k", "id AS val").coalesce(1),
            ["k"],
        )
    src = spark.createDataFrame(
        [(5, 1), (5, 2), (350, 0)], "k bigint, val bigint")
    v, rewritten, carried = V.commit_merge(
        spark, root, src, "k",
        not_matched_by_source=[
            {"action": "delete", "condition": "k = 210"}],
    )
    # only the file holding k=210 rewrites — key-range files ([0,100)
    # and [300,400)) carry untouched
    assert rewritten == 1 and carried == 3
    df = V.read_version(spark, root)
    assert df.count() == 399
    assert df.where("k = 5").count() == 1  # no fan-out duplicate
    assert df.where("k = 210").count() == 0


def test_merge_insert_values_validated(spark, root):
    """A typo'd not_matched values column must raise, never silently
    insert NULL into the intended column."""
    _merge_base(spark, root)
    src = spark.createDataFrame([(99, 1)], "k bigint, val bigint")
    with pytest.raises(ValueError, match="values columns not in"):
        V.commit_merge(
            spark, root, src, "k",
            not_matched=[{"action": "insert",
                          "values": {"k": "k", "vall": "val"}}],
        )


def test_merge_dv_mode_equivalent_and_minimal(spark, root):
    """mode='dv' MERGE must produce the IDENTICAL final state and
    change feed as rewrite mode, while moving only the changed rows:
    files keep their physical identity (DV attached on changed files
    only) and update post-images/inserts append as new files."""
    def build(r, mode):
        for lo in (0, 100, 200, 300):
            V.commit_append(
                spark, r,
                spark.range(lo, lo + 100).selectExpr(
                    "id AS k", "id AS val", "'b' AS tag").coalesce(1),
                ["k"],
            )
        src = spark.createDataFrame(
            [(5, 500, "s"), (210, 999, "s"), (450, 7, "s")],
            "k bigint, val bigint, tag string",
        )
        v, rw, car = V.commit_merge(
            spark, r, src, "k",
            matched=[
                {"action": "delete", "condition": "s.val >= 900"},
                {"action": "update", "set": {"val": "t.val + s.val"}},
            ],
            not_matched=[{"action": "insert", "values": None}],
            not_matched_by_source=[
                {"action": "delete", "condition": "k = 399"},
                {"action": "update", "condition": "k = 398",
                 "set": {"tag": "'stale'"}},
            ],
            changefeed=True,
            mode=mode,
        )
        state = sorted(tuple(x) for x in V.read_version(spark, r).collect())
        ch = sorted(
            tuple(x)
            for x in V.table_changes(spark, r, v, v)
            .drop("_commit_version").collect()
        )
        return v, rw, state, ch

    v_rw, rw_rw, state_rw, ch_rw = build(str(root) + "-rw", "rewrite")
    v_dv, rw_dv, state_dv, ch_dv = build(str(root) + "-dv", "dv")
    assert state_rw == state_dv
    assert ch_rw == ch_dv
    assert rw_dv == 0 and rw_rw > 0
    ent = V._live_entries(spark, str(root) + "-dv", v_dv)
    before = {(e["dir"], e["path"])
              for e in V._live_entries(spark, str(root) + "-dv", 3)}
    kept = [e for e in ent if (e["dir"], e["path"]) in before]
    # all 4 original files still live; DVs only on files with changes:
    # [0,100) k=5 upd, [200,300) k=210 del, [300,400) k=398/399 — the
    # [100,200) file is untouched, no DV
    assert len(kept) == 4
    dvd = {e["dir"]: e["dv"]["rows"] for e in kept if e.get("dv")}
    assert len(dvd) == 3
    # new files hold exactly: post-images (k=5 upd, k=398 upd) + insert
    new_rows = sum(e["rows"] for e in ent
                   if (e["dir"], e["path"]) not in before)
    assert new_rows == 3


def test_merge_dv_insert_only_and_noop(spark, root):
    """dv-mode insert-only merges append without touching files; a
    dv-mode merge whose clauses change nothing is a NO-OP."""
    _merge_base(spark, root)
    src = spark.createDataFrame([(50, 1, "x")], "k bigint, val bigint, tag string")
    v, rw, car = V.commit_merge(
        spark, root, src, "k",
        not_matched=[{"action": "insert", "values": None}], mode="dv")
    assert rw == 0 and V.read_version(spark, root).count() == 11
    cur = V.current_version(spark, root)
    v2, _, _ = V.commit_merge(
        spark, root,
        spark.createDataFrame([(999, 1, "x")], "k bigint, val bigint, tag string"),
        "k",
        matched=[{"action": "delete"}], mode="dv")
    assert v2 == cur  # source key matches nothing -> no commit


# ------------------------------------------- SCHEMA EVOLUTION (r12)


def test_merge_evolve_schema_widens_from_source(spark, root):
    """evolve_schema=True (Delta autoMerge parity): a source column
    absent from the table widens the schema widen-only; matched SET
    and insert values may target it; carried files NULL-backfill
    through the manifest schema; pass-through rows in rewritten files
    carry explicit NULLs. Without the flag the same merge raises."""
    _merge_base(spark, root)  # k bigint, val bigint, tag string
    src = spark.createDataFrame(
        [(2, 5, "x2"), (3, 6, "x3")],
        "k bigint, sval bigint, note string",
    )
    clauses = dict(
        matched=[{"action": "update",
                  "set": {"val": "t.val + s.sval", "note": "s.note"}}],
    )
    with pytest.raises(ValueError, match="evolve_schema=True"):
        V.commit_merge(spark, root, src, "k", **clauses)
    v, rewritten, carried = V.commit_merge(
        spark, root, src, "k", **clauses, evolve_schema=True,
    )
    # keys 2,3 live in ONE range file: the others carry by reference
    assert rewritten == 1 and carried == 2
    df = V.read_version(spark, root)
    assert df.columns == ["k", "val", "tag", "note"]
    got = {r["k"]: (r["val"], r["note"]) for r in df.collect()}
    assert got[2] == (25, "x2") and got[3] == (36, "x3")
    # pass-through row in the rewritten file AND carried-file rows
    # both read NULL for the evolved column
    assert got[0] == (0, None) and got[9] == (90, None)
    assert len(got) == 10
    # time travel: the pre-evolution snapshot keeps the OLD schema
    assert V.read_version(spark, root, v - 1).columns == [
        "k", "val", "tag"]
    # a second merge INSERTS through the evolved schema (insert-only:
    # rewrites nothing) — the new column is now a first-class citizen
    V.commit_merge(
        spark, root,
        spark.createDataFrame([(20, 7, "x20")],
                              "k bigint, sval bigint, note string"),
        "k",
        not_matched=[{"action": "insert",
                      "values": {"k": "k", "val": "sval",
                                 "note": "note"}}],
    )
    got2 = {r["k"]: (r["val"], r["note"])
            for r in V.read_version(spark, root).collect()}
    assert got2[20] == (7, "x20") and len(got2) == 11


def test_merge_evolve_schema_type_change_still_raises(spark, root):
    """Evolution is widen-only: a REFERENCED source column whose type
    CONFLICTS with an existing table column raises before any data
    lands; an UNREFERENCED payload column never evolves (or raises) —
    Delta's autoMerge scoping."""
    _merge_base(spark, root)
    src = spark.createDataFrame(
        [(1, "oops", "t")], "k bigint, val string, tag string")
    with pytest.raises(ValueError, match="type change"):
        V.commit_merge(
            spark, root, src, "k",
            not_matched=[{"action": "insert", "values": None}],
            evolve_schema=True,
        )
    # delete-only: val is never referenced -> no evolution, no raise
    v, _, _ = V.commit_merge(
        spark, root, src, "k",
        matched=[{"action": "delete"}], evolve_schema=True,
    )
    df = V.read_version(spark, root)
    assert df.columns == ["k", "val", "tag"]
    assert df.where("k = 1").count() == 0


def test_merge_evolve_schema_dv_mode_and_cdf(spark, root):
    """dv-mode evolution: post-images/inserts carry the new column,
    old files stay untouched (NULL through the manifest), and the
    change feed spans the evolution (pre-images NULL, post-images
    populated)."""
    _merge_base(spark, root)
    src = spark.createDataFrame(
        [(3, 100, "n3"), (30, 200, "n30")],
        "k bigint, sval bigint, note string",
    )
    v, rw, _ = V.commit_merge(
        spark, root, src, "k",
        matched=[{"action": "update",
                  "set": {"val": "t.val + s.sval", "note": "s.note"}}],
        not_matched=[{"action": "insert",
                      "values": {"k": "k", "val": "sval", "note": "note"}}],
        mode="dv", evolve_schema=True, changefeed=True,
    )
    assert rw == 0
    df = V.read_version(spark, root)
    got = {r["k"]: (r["val"], r["note"]) for r in df.collect()}
    assert got[3] == (130, "n3") and got[30] == (200, "n30")
    assert got[5] == (50, None)
    ch = V.table_changes(spark, root, v, v)
    by_type = {
        (r["_change_type"], r["k"]): r["note"] for r in ch.collect()
    }
    assert by_type[("update_preimage", 3)] is None
    assert by_type[("update_postimage", 3)] == "n3"
    assert by_type[("insert", 30)] == "n30"


def test_merge_evolve_insert_star_carries_new_column(spark, root):
    """INSERT * under evolution: the source must carry every EVOLVED
    column (it does, by construction) and inserts land with it."""
    _merge_base(spark, root)
    src = spark.createDataFrame(
        [(40, 4, "t4", 99)], "k bigint, val bigint, tag string, extra bigint",
    )
    V.commit_merge(
        spark, root, src, "k",
        not_matched=[{"action": "insert", "values": None}],
        evolve_schema=True,
    )
    df = V.read_version(spark, root)
    got = {r["k"]: r["extra"] for r in df.where("k in (0, 40)").collect()}
    assert got == {0: None, 40: 99}


def test_update_where_evolve_schema(spark, root):
    """UPDATE ... SET new_col under evolve_schema=True: the new
    column's type is inferred from its expression, matched rows get
    the value, everything else reads NULL — in BOTH modes, with the
    change feed lining up across the evolution."""
    _dv_base(spark, root)  # k bigint, val bigint
    with pytest.raises(ValueError, match="evolve_schema=True"):
        V.commit_update_where(spark, root, "k < 2", {"flag": "k * 10"})
    V.commit_update_where(
        spark, root, "k < 2", {"flag": "k * 10"}, evolve_schema=True,
    )
    df = V.read_version(spark, root)
    assert df.columns == ["k", "val", "flag"]
    # inferred from the expression's type over the table schema
    assert df.schema["flag"].dataType.simpleString() == "bigint"
    got = {r["k"]: r["flag"] for r in df.where("k < 4").collect()}
    assert got == {0: 0, 1: 10, 2: None, 3: None}
    # dv leg with changefeed: widen(pre) must line up with post
    v2, rw2, _ = V.commit_update_where(
        spark, root, "k = 5", {"mark": "CAST(1 AS BIGINT)"},
        mode="dv", evolve_schema=True, changefeed=True,
    )
    assert rw2 == 0
    df2 = V.read_version(spark, root)
    got2 = {r["k"]: r["mark"] for r in df2.where("k in (0, 5)").collect()}
    assert got2 == {0: None, 5: 1}
    ch = V.table_changes(spark, root, v2, v2)
    marks = {r["_change_type"]: r["mark"] for r in ch.collect()}
    assert marks == {"update_preimage": None, "update_postimage": 1}


# --------------------------------------------- DV DEBT / GUARDS (r12)


def test_history_dv_debt_totals_and_purge_gate(spark, root):
    """history() carries running DV-debt totals (dv_files/dv_rows)
    without materializing a file list; optimize's purge_dv_over gates
    the REORG purge on per-file debt ratio."""
    _dv_base(spark, root)
    V.commit_delete_where(
        spark, root, "k % 100 < 3 AND k < 200", mode="dv")
    h = V.history(spark, root)[-1]
    assert (h["dv_files"], h["dv_rows"]) == (2, 6)
    # a plain append leaves the debt untouched
    V.commit_append(
        spark, root,
        spark.range(400, 410).selectExpr(
            "id AS k", "id * 2 AS val").coalesce(1))
    h = V.history(spark, root)[-1]
    assert (h["dv_files"], h["dv_rows"]) == (2, 6)
    # debt ratio is 3/100 per touched file: a 50% gate rewrites
    # NOTHING (no-op, same version)...
    cur = V.current_version(spark, root)
    v, _, _ = V.optimize(
        spark, root, small_file_mb=1e-9, purge_dv_over=0.5)
    assert v == cur
    # ...a 1% gate purges both, zeroing the debt
    v2, _, _ = V.optimize(
        spark, root, small_file_mb=1e-9, purge_dv_over=0.01)
    assert v2 == cur + 1
    h = V.history(spark, root)[-1]
    assert (h["dv_files"], h["dv_rows"]) == (0, 0)
    assert V.read_version(spark, root).count() == 404


def test_dv_file_no_duplicate_rows_across_repeated_deletes(spark, root):
    """Repeated DV deletes whose touched files point at DIFFERENT old
    dv dirs must not write duplicate (dir,path,row_index) rows into
    the fresh DV (the (dir,path) semi-join pulls a file's rows from
    every old dir holding them)."""
    _dv_base(spark, root)
    # files A=[0,100) and B=[100,200): A,B -> dv1; A -> dv2; A,B -> dv3
    V.commit_delete_where(spark, root, "k IN (0, 101)", mode="dv")
    V.commit_delete_where(spark, root, "k = 1", mode="dv")
    v = V.commit_delete_where(spark, root, "k IN (2, 102)", mode="dv")[0]
    ent = [e for e in V._live_entries(spark, root, v) if e.get("dv")]
    dv_dirs = {e["dv"]["dir"] for e in ent}
    assert len(dv_dirs) == 1  # both re-point at the fresh commit's DV
    dvf = spark.read.parquet(
        *[f"{root}/{V.DV_DIR}/{d}" for d in dv_dirs])
    assert dvf.count() == dvf.dropDuplicates(
        ["dir", "path", "row_index"]).count() == 5
    # per-entry metadata equals the DISTINCT row count per file
    per = {
        (r["dir"], r["path"]): r["n"]
        for r in dvf.groupBy("dir", "path")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for e in ent:
        assert per[(e["dir"], e["path"])] == e["dv"]["rows"]
    assert V.read_version(spark, root).count() == 395


def test_reserved_staging_names_raise(spark, root):
    """A user column colliding with the internal staging names must
    raise loudly, not silently corrupt DV identity / merge clauses."""
    V.commit_append(
        spark, root,
        spark.range(5).selectExpr("id AS k", "id AS __dv_ri").coalesce(1),
        ["k"],
    )
    with pytest.raises(ValueError, match="reserved"):
        V.commit_delete_where(spark, root, "k = 1", mode="dv")
    with pytest.raises(ValueError, match="reserved"):
        V.commit_merge(
            spark, root,
            spark.createDataFrame([(1,)], "k bigint"), "k",
            matched=[{"action": "delete"}],
        )
    root2 = root + "2"
    _merge_base(spark, root2)
    src = spark.createDataFrame([(1, 2)], "k bigint, __del bigint")
    with pytest.raises(ValueError, match="reserved"):
        V.commit_merge(spark, root2, src, "k",
                       matched=[{"action": "delete"}])


def test_query_string_root_refused_loudly(spark, root):
    """Batch surfaces that build Spark/Hadoop data paths refuse a
    query-string root with a clear ValueError at entry — never a
    Hadoop glob error deep inside (stream_table_changes already did;
    this pins the batch twin)."""
    V.commit_append(spark, root, _df(spark, 0, 5, "a"), ["k"])
    q = root + "?endpoint_override=127.0.0.1:9&scheme=http"
    with pytest.raises(ValueError, match="plain"):
        V.commit_append(spark, q, _df(spark, 0, 1, "b"))
    with pytest.raises(ValueError, match="plain"):
        V.read_version(spark, q)
    with pytest.raises(ValueError, match="plain"):
        V.table_changes(spark, q)
    with pytest.raises(ValueError, match="plain"):
        V.vacuum(spark, q, min_staging_age_s=0.0)
    with pytest.raises(ValueError, match="plain"):
        V.stream_table_changes(spark, q)


def test_restore_across_checkpoint_uses_slim_diff(spark, root, monkeypatch):
    """RESTORE in the checkpoint regime: the diff runs on slim index
    reads and only add-side entries fetch full stats — behavior pinned
    by the result (same relink semantics, stats still prunable after
    the restore)."""
    monkeypatch.setattr(V, "CHECKPOINT_EVERY", 2)
    _dv_base(spark, root)  # 4 commits -> checkpoints at v2 (and v...)
    target = V.current_version(spark, root)
    V.commit_delete_where(spark, root, "k < 150")
    v, relinked, removed = V.restore_version(spark, root, target)
    assert relinked >= 1 and removed >= 1
    assert V.read_version(spark, root).count() == 400
    # restored entries carry their stats: key-range pruning still works
    pruned = V.read_version(
        spark, root, key_range=(250, 260), key_col="k")
    assert pruned.count() <= 200 and pruned.where(
        "k = 255").count() == 1


def test_history_operation_metrics(spark, root):
    """history() per-commit operation metrics (Delta operationMetrics
    shape): files_added counts NEW PHYSICAL files only — DV/restore
    by-reference re-adds report as files_relinked, a remove_all
    rewrite's implicit removes report the previous snapshot's count."""
    V.commit_append(spark, root, _df(spark, 0, 100, "a").coalesce(1), ["k"])
    V.commit_append(spark, root, _df(spark, 100, 150, "b").coalesce(1))
    V.commit_upsert(spark, root, _df(spark, 120, 130, "c"), "k")
    h = V.history(spark, root)
    assert [x["files_added"] for x in h[:2]] == [1, 1]
    assert [x["rows_added"] for x in h[:2]] == [100, 50]
    # the upsert removed the one touched file and re-added its rewrite
    assert h[2]["files_removed"] == 1 and h[2]["rows_added"] == 50
    # a DV delete re-adds its touched file BY REFERENCE: no ingest
    V.commit_delete_where(spark, root, "k = 5", mode="dv")
    h3 = V.history(spark, root)[3]
    assert h3["files_added"] == 0 and h3["rows_added"] == 0
    assert h3["files_relinked"] == 1 and h3["files_removed"] == 1
    # a full OPTIMIZE (remove_all) reports the implicit removes
    V.optimize(spark, root, n_files=1)
    h4 = V.history(spark, root)[4]
    assert h4["files_removed"] == h[2]["n_files"]
    assert h4["files_added"] == 1 and h4["files_relinked"] == 0


def test_merge_composite_key(spark, root):
    """Composite-key MERGE: equality on (k, sub), stats pruning on the
    FIRST key column, cardinality check over the tuple, NULL in any
    key column never matches (falls through to insert)."""
    base = spark.createDataFrame(
        [(i, i % 2, i * 10, "b") for i in range(10)],
        "k bigint, sub bigint, val bigint, tag string",
    ).repartitionByRange(3, "k")
    V.commit_append(spark, root, base, ["k"])
    src = spark.createDataFrame(
        [(2, 0, 5), (3, 0, 7), (20, 1, 9), (None, 1, 11)],
        "k bigint, sub bigint, sval bigint",
    )
    # (2,0) matches; (3,0) does NOT (target has (3,1)) so it INSERTS;
    # (20,1) and the NULL-key row insert
    v, rewritten, carried = V.commit_merge(
        spark, root, src, ["k", "sub"],
        matched=[{"action": "update", "set": {"val": "t.val + s.sval"}}],
        not_matched=[{"action": "insert",
                      "values": {"k": "k", "sub": "sub", "val": "sval"}}],
    )
    df = V.read_version(spark, root)
    got = {(r["k"], r["sub"]): r["val"] for r in df.collect()}
    assert got[(2, 0)] == 25          # matched update
    assert got[(3, 1)] == 30          # tuple mismatch -> untouched
    assert got[(3, 0)] == 7           # tuple-unmatched -> insert
    assert got[(20, 1)] == 9          # insert
    assert got[(None, 1)] == 11       # NULL key never matches -> insert
    assert len(got) == 13
    # duplicate source TUPLE hitting a target row -> cardinality error
    dup = spark.createDataFrame(
        [(2, 0, 1), (2, 0, 2)], "k bigint, sub bigint, sval bigint")
    with pytest.raises(ValueError, match="cardinality"):
        V.commit_merge(spark, root, dup, ["k", "sub"],
                       matched=[{"action": "delete"}])
    # same two rows WITHOUT a matched clause: two legitimate... no —
    # they match an existing key, so they are NOT inserts; a duplicate
    # UNMATCHED tuple inserts twice (Delta semantics)
    dup_new = spark.createDataFrame(
        [(50, 0, 1), (50, 0, 2)], "k bigint, sub bigint, sval bigint")
    V.commit_merge(spark, root, dup_new, ["k", "sub"],
                   not_matched=[{"action": "insert",
                                 "values": {"k": "k", "sub": "sub",
                                            "val": "sval"}}])
    assert V.read_version(spark, root).where("k = 50").count() == 2
    # a key column missing from the table schema raises clearly
    with pytest.raises(ValueError, match="key columns not in"):
        V.commit_merge(spark, root, src, ["k", "nope"],
                       matched=[{"action": "delete"}])


def test_table_changes_spans_schema_evolution(spark, root):
    """A change-feed read SPANNING a schema evolution unions the
    pre-evolution change files (fewer columns) with the post-evolution
    ones — older rows surface NULL for columns born later."""
    _merge_base(spark, root)
    V.commit_update_where(
        spark, root, "k = 1", {"val": "val + 1"}, changefeed=True)
    V.commit_update_where(
        spark, root, "k = 2", {"note": "'n2'"},
        changefeed=True, evolve_schema=True)
    ch = V.table_changes(spark, root, 1, 2)
    rows = {(r["_commit_version"], r["_change_type"], r["k"]): r
            for r in ch.collect()}
    assert rows[(1, "update_postimage", 1)]["note"] is None
    assert rows[(2, "update_postimage", 2)]["note"] == "n2"
    assert rows[(2, "update_preimage", 2)]["note"] is None


def test_upsert_composite_key(spark, root):
    """Composite-key upsert: whole-row replacement keyed on the tuple,
    pruning on the first key column, CDF splits keyed on the tuple."""
    base = spark.createDataFrame(
        [(i, i % 2, i * 10) for i in range(8)],
        "k bigint, sub bigint, val bigint",
    ).coalesce(1)
    V.commit_append(spark, root, base, ["k"])
    ups = spark.createDataFrame(
        [(2, 0, 999), (3, 0, 888)], "k bigint, sub bigint, val bigint")
    v, rewritten, carried = V.commit_upsert(
        spark, root, ups, ["k", "sub"], changefeed=True)
    got = {(r["k"], r["sub"]): r["val"]
           for r in V.read_version(spark, root).collect()}
    assert got[(2, 0)] == 999          # tuple matched -> replaced
    assert got[(3, 1)] == 30           # tuple mismatch -> untouched
    assert got[(3, 0)] == 888          # tuple-unmatched -> inserted
    assert len(got) == 9
    ch = V.table_changes(spark, root, v, v)
    types = {(r["k"], r["sub"], r["_change_type"]) for r in ch.collect()}
    assert (2, 0, "update_preimage") in types
    assert (2, 0, "update_postimage") in types
    assert (3, 0, "insert") in types


def test_vacuum_dry_run(spark, root):
    """vacuum(dry_run=True) reports the same counts as a real vacuum
    while deleting NOTHING — every version stays time-travelable and
    the subsequent real vacuum deletes exactly what was reported."""
    for lo in (0, 100, 200):
        V.commit_append(spark, root, _df(spark, lo, lo + 100, "a")
                        .coalesce(1), ["k"])
    V.commit_upsert(spark, root, _df(spark, 50, 60, "u"), "k")
    dry = V.vacuum(spark, root, keep_last=1, dry_run=True, min_staging_age_s=0.0)
    # nothing deleted: the oldest snapshot still reads
    assert V.read_version(spark, root, 0).count() == 100
    assert V.read_version(spark, root).count() == 300
    real = V.vacuum(spark, root, keep_last=1, min_staging_age_s=0.0)
    assert real == dry and real[0] >= 1 and real[1] >= 1
    with pytest.raises((FileNotFoundError, OSError)):
        V.read_version(spark, root, 0)
    assert V.read_version(spark, root).count() == 300


def test_describe_detail_and_index_carried_sizes(spark, root, tmp_path, monkeypatch):
    """File sizes ride the manifest/index: describe_detail's byte sum
    is ONE index aggregation matching the filesystem truth, incremental
    OPTIMIZE selects small files without per-file driver fs calls, and
    the size survives checkpoints and DV re-adds."""
    import os as _os

    monkeypatch.setattr(V, "CHECKPOINT_EVERY", 2)
    for lo in (0, 100, 200):
        V.commit_append(spark, root, _df(spark, lo, lo + 100, "x")
                        .coalesce(1), ["k"])
    d = V.describe_detail(spark, root)
    assert d["size_files_unknown"] == 0 and d["n_files"] == 3
    disk = 0
    for dirpath, _, files in _os.walk(_os.path.join(root, V.DATA_DIR)):
        disk += sum(_os.path.getsize(_os.path.join(dirpath, f))
                    for f in files if f.endswith(".parquet"))
    assert d["size_bytes"] == disk
    # DV re-add keeps the file's recorded size (same physical file)
    V.commit_delete_where(spark, root, "k = 5", mode="dv")
    d2 = V.describe_detail(spark, root)
    assert d2["size_bytes"] == disk and d2["size_files_unknown"] == 0
    assert d2["dv_rows"] == 1 and d2["n_rows"] == 299
    # schema rides along; older snapshot still describable
    assert [f.name for f in d2["schema"].fields] == ["k", "v"]
    assert V.describe_detail(spark, root, 0)["n_files"] == 1


def test_check_constraints_lifecycle(spark, root):
    """Delta CHECK constraints: ADD validates existing data with one
    scan, every subsequent commit kind enforces IN the write pass (a
    violating row aborts before any manifest publishes — the table is
    untouched), NULL passes (SQL CHECK), DROP restores permissiveness,
    and the constraint survives unrelated commits + checkpoints."""
    V.commit_append(spark, root,
                    spark.range(10).selectExpr("id AS k", "id * 2 AS val")
                    .coalesce(1), ["k"])
    # existing-data validation: a violated add must fail
    with pytest.raises(ValueError, match="existing rows violate"):
        V.set_check_constraint(spark, root, "big", "val >= 10")
    v = V.set_check_constraint(spark, root, "nonneg", "val >= 0")
    assert V.history(spark, root)[-1]["op"] == "set_constraint"
    assert V.describe_detail(spark, root)["constraints"] == {
        "nonneg": "val >= 0"}
    # violating append: write aborts, NO commit lands
    cur = V.current_version(spark, root)
    with pytest.raises(Exception, match="CHECK constraint 'nonneg'"):
        V.commit_append(
            spark, root,
            spark.createDataFrame([(99, -1)], "k bigint, val bigint"))
    assert V.current_version(spark, root) == cur
    assert V.read_version(spark, root).count() == 10
    # valid append passes; NULL passes (SQL CHECK semantics)
    V.commit_append(
        spark, root,
        spark.createDataFrame([(90, 5), (91, None)],
                              "k bigint, val bigint"))
    assert V.read_version(spark, root).count() == 12
    # merge post-images are enforced too
    src = spark.createDataFrame([(3, 100)], "k bigint, sval bigint")
    with pytest.raises(Exception, match="CHECK constraint 'nonneg'"):
        V.commit_merge(
            spark, root, src, "k",
            matched=[{"action": "update",
                      "set": {"val": "t.val - s.sval - 100"}}])
    # drop: violating rows are writable again; typo'd drop raises
    with pytest.raises(ValueError, match="no CHECK constraint"):
        V.drop_check_constraint(spark, root, "typo")
    V.drop_check_constraint(spark, root, "nonneg")
    V.commit_append(
        spark, root,
        spark.createDataFrame([(99, -1)], "k bigint, val bigint"))
    assert V.read_version(spark, root).where("val < 0").count() == 1


def test_check_constraint_restore_and_optimize_interplay(spark, root):
    """A restore to a snapshot violating the ACTIVE constraints is
    refused (relinking unchecked rows would brick later rewrites); an
    optimize under constraints skips re-enforcement (carried rows were
    validated at their original write) and still succeeds; a duplicate
    constraint name raises instead of silently weakening."""
    V.commit_append(
        spark, root,
        spark.createDataFrame([(1, -5), (2, 3)], "k bigint, val bigint")
        .coalesce(1), ["k"])
    V.commit_delete_where(spark, root, "val < 0")
    V.set_check_constraint(spark, root, "nonneg", "val >= 0")
    with pytest.raises(ValueError, match="already exists"):
        V.set_check_constraint(spark, root, "nonneg", "val >= -100")
    # v0 holds val=-5: restoring it under 'nonneg' must refuse
    with pytest.raises(ValueError, match="violate the active CHECK"):
        V.restore_version(spark, root, 0)
    # restore to the post-delete snapshot is fine (rows all pass)
    V.restore_version(spark, root, 1)
    # optimize under constraints: full rewrite succeeds (no
    # re-enforcement of already-validated rows)
    v, _, after = V.optimize(spark, root, n_files=1)
    assert V.read_version(spark, root).count() == 1
    assert V.describe_detail(spark, root)["constraints"] == {
        "nonneg": "val >= 0"}


def test_checkpoint_failure_warns_and_commit_survives(
    spark, root, monkeypatch
):
    """A failing checkpoint write must never fail the durable commit —
    but it must WARN (a persistently failing checkpoint silently
    degrades every reader to an ever-growing segment fold), and
    describe_detail must surface the staleness."""
    import warnings as _w

    for i in range(V.CHECKPOINT_EVERY):
        V.commit_append(spark, root, _df(spark, i, i + 1, "a"), ["k"])

    def boom(*a, **k):
        raise OSError("disk quota exceeded")

    real_ckpt = V._write_checkpoint
    monkeypatch.setattr(V, "_write_checkpoint", boom)
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        v = V.commit_append(
            spark, root, _df(spark, 100, 101, "a")
        )  # crosses the checkpoint boundary
    assert v == V.CHECKPOINT_EVERY
    msgs = [str(w.message) for w in caught]
    assert any("checkpoint write failed" in m for m in msgs)
    d = V.describe_detail(spark, root)
    assert d["last_checkpoint_version"] is None
    assert d["checkpoint_lag"] == v + 1
    monkeypatch.setattr(V, "_write_checkpoint", real_ckpt)  # disarm
    # next boundary checkpoints fine and the lag resets
    for i in range(V.CHECKPOINT_EVERY):
        V.commit_append(spark, root, _df(spark, 200 + i, 201 + i, "a"))
    d = V.describe_detail(spark, root)
    assert d["last_checkpoint_version"] == 2 * V.CHECKPOINT_EVERY
    assert d["checkpoint_lag"] == 0


def test_restore_constraint_validation_stats_pruned(
    spark, root, monkeypatch
):
    """RESTORE under a simple range CHECK on a stats column must skip
    scanning files whose manifest [min,max] PROVE the constraint —
    pinned by intercepting the snapshot read: zero scans when every
    file is provably clean, one scan when the constraint shape is
    unprovable."""
    V.commit_append(
        spark, root,
        spark.createDataFrame([(1, 5), (2, 7)], "k bigint, val bigint")
        .coalesce(1), ["k", "val"])
    V.commit_append(
        spark, root,
        spark.createDataFrame([(3, 0), (4, 9)], "k bigint, val bigint")
        .coalesce(1))
    V.set_check_constraint(spark, root, "nonneg", "val >= 0")
    V.commit_upsert(
        spark, root,
        spark.createDataFrame([(1, 6)], "k bigint, val bigint"), "k")

    calls = {"n": 0}
    real = V._snapshot_read

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(V, "_snapshot_read", counting)
    v, relinked, removed = V.restore_version(spark, root, 1)
    assert calls["n"] == 0  # every target file proven by stats
    assert relinked >= 1
    got = {r["k"]: r["val"] for r in V.read_version(spark, root).collect()}
    assert got == {1: 5, 2: 7, 3: 0, 4: 9}
    monkeypatch.setattr(V, "_snapshot_read", real)  # disarm
    # an unprovable constraint shape still scans (and passes)
    V.set_check_constraint(spark, root, "pos_expr", "val + 0 >= 0")
    calls["n"] = 0
    monkeypatch.setattr(V, "_snapshot_read", counting)
    V.restore_version(spark, root, 1)
    assert calls["n"] == 1


def test_restore_constraint_on_post_evolution_column_clean_error(spark, root):
    """Restoring to a snapshot that PREDATES the column an active CHECK
    references must raise the clean 'cannot restore' ValueError, not an
    opaque AnalysisException from the probe."""
    V.commit_append(
        spark, root,
        spark.createDataFrame([(1,)], "k bigint").coalesce(1), ["k"])
    V.commit_append(
        spark, root,
        spark.createDataFrame([(2, 5)], "k bigint, val bigint"))
    V.set_check_constraint(spark, root, "nonneg", "val >= 0")
    with pytest.raises(ValueError, match="cannot restore to v0"):
        V.restore_version(spark, root, 0)


def test_stats_prove_check_matrix():
    e = lambda lo, hi: {"stats": {"val": [lo, hi]}}  # noqa: E731
    P = V._stats_prove_check
    assert P(e(0, 10), "val >= 0") and not P(e(-1, 10), "val >= 0")
    assert P(e(1, 10), "val > 0") and not P(e(0, 10), "val > 0")
    assert P(e(0, 99), "val < 100") and not P(e(0, 100), "val < 100")
    assert P(e(0, 100), "val <= 100") and not P(e(0, 101), "val <= 100")
    assert P(e(7, 7), "val = 7") and not P(e(6, 7), "val = 7")
    assert P(e("a", "b"), "val >= 'a'") and not P(e("A", "b"), "val >= 'a'")
    # type mismatch / missing stats / rich expression -> not proved
    assert not P(e("a", "b"), "val >= 0")
    assert not P(e(0, 1), "val >= 'a'")
    assert not P({"stats": {}}, "val >= 0")
    assert not P(e(0, 1), "val >= 0 AND val < 10")
    assert not P(e(0, 1), "abs(val) >= 0")


# ------------------------------------------------- vacuum vs in-flight
# writers: the grace window (r13 verdict finding). A writer stages its
# data/CDF/DV dirs BEFORE the manifest CAS; an unreferenced dir younger
# than min_staging_age_s is indistinguishable from a live commit in
# progress and must survive vacuum, or the writer's CAS publishes a
# manifest referencing deleted files.


def _age_dir(path, hours=5.0):
    import time as _t

    old = _t.time() - hours * 3600
    os.utime(path, (old, old))


def test_vacuum_grace_spares_inflight_staging(spark, root, monkeypatch):
    """Vacuum forced INTO the publish window (after staging, before the
    CAS) with the DEFAULT grace: the in-flight commit completes and
    every file it published — data AND its pre-staged changefeed — is
    readable afterwards."""
    V.commit_append(spark, root, _df(spark, 0, 50, "base").coalesce(1), ["k"])
    orig = V._write_manifest_atomic
    state = {"armed": True, "ran": False}

    def racy(sp, rt, version, manifest):
        if state["armed"]:
            state["armed"] = False
            V.vacuum(sp, rt, keep_last=1)  # default grace window
            state["ran"] = True
        return orig(sp, rt, version, manifest)

    monkeypatch.setattr(V, "_write_manifest_atomic", racy)
    V.commit_append(
        spark, root, _df(spark, 50, 100, "live").coalesce(1), ["k"],
        changefeed=True,
    )
    assert state["ran"]
    assert V.read_version(spark, root).count() == 100
    ch = V.table_changes(spark, root, 1, 1)
    assert ch.where("_change_type = 'insert'").count() == 50


def test_vacuum_without_grace_is_the_hazard(spark, root, monkeypatch):
    """The counterfactual pinning that the grace window is load-bearing:
    the same mid-flight vacuum with min_staging_age_s=0 deletes the
    live writer's staged files, the CAS then SUCCEEDS, and the
    published snapshot is unreadable — exactly the silent-loss shape
    the default exists to prevent."""
    V.commit_append(spark, root, _df(spark, 0, 50, "base").coalesce(1), ["k"])
    orig = V._write_manifest_atomic
    state = {"armed": True}

    def racy(sp, rt, version, manifest):
        if state["armed"]:
            state["armed"] = False
            V.vacuum(sp, rt, keep_last=1, min_staging_age_s=0.0)
        return orig(sp, rt, version, manifest)

    monkeypatch.setattr(V, "_write_manifest_atomic", racy)
    v = V.commit_append(
        spark, root, _df(spark, 50, 100, "live").coalesce(1), ["k"]
    )
    assert v == 1  # the CAS went through — that is the bug's shape
    with pytest.raises(Exception):
        V.read_version(spark, root).count()


def test_vacuum_grace_reclaims_old_crashed_staging(spark, root):
    """An hours-old orphan staging dir (crashed writer) IS reclaimed
    under the default window; a fresh orphan is left for later."""
    V.commit_append(spark, root, _df(spark, 0, 50, "a").coalesce(1), ["k"])
    young = os.path.join(root, V.DATA_DIR, "commit-v1-deadbeef")
    os.makedirs(young)
    with open(os.path.join(young, "junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    n_man, n_data = V.vacuum(spark, root)
    assert n_data == 0 and os.path.exists(young)
    _age_dir(young)
    n_man, n_data = V.vacuum(spark, root)
    assert n_data == 1 and not os.path.exists(young)


def test_vacuum_grace_covers_cdf_and_dv_orphans(spark, root):
    """Unreferenced change-data and deletion-vector dirs get the same
    grace: young orphans survive, aged ones are reclaimed."""
    V.commit_append(spark, root, _df(spark, 0, 50, "a").coalesce(1), ["k"])
    orphans = []
    for sub in (V.CDF_DIR, V.DV_DIR):
        d = os.path.join(root, sub, "v9-orphan")
        os.makedirs(d)
        with open(os.path.join(d, "x.parquet"), "wb") as f:
            f.write(b"x")
        orphans.append(d)
    V.vacuum(spark, root)
    assert all(os.path.exists(d) for d in orphans)
    for d in orphans:
        _age_dir(d)
    V.vacuum(spark, root)
    assert not any(os.path.exists(d) for d in orphans)
    assert V.read_version(spark, root).count() == 50


def test_check_enforcement_only_on_changed_legs(spark, root, monkeypatch):
    """Rewrite commits validate ONLY their changed legs (r12 advice /
    r13 verdict nit): pass-through rows passed the CHECK chain at
    their original write, so upsert/update/merge/cdc enforce the
    updated/inserted rows (update and merge gate their one output frame
    on __chk) and DELETE enforces nothing; _commit runs no CHECK of its
    own (a plain append enforces its whole frame itself). Pinned by
    counting _enforce_constraints invocations per op — one extra call
    means the full merged frame went back through the chain."""
    calls = []
    orig = V._enforce_constraints

    def counting(df, constraints, gate=None):
        calls.append(gate)
        return orig(df, constraints, gate)

    monkeypatch.setattr(V, "_enforce_constraints", counting)
    V.commit_append(
        spark, root,
        spark.range(20).selectExpr("id AS k", "id * 2 AS val").coalesce(1),
        ["k"],
    )
    V.set_check_constraint(spark, root, "nonneg", "val >= 0")
    calls.clear()
    # append: the whole frame IS the changed leg -> 1 ungated call
    V.commit_append(
        spark, root,
        spark.createDataFrame([(100, 1)], "k bigint, val bigint"))
    assert calls == [None]
    calls.clear()
    # upsert: updates leg only
    V.commit_upsert(
        spark, root,
        spark.createDataFrame([(3, 7)], "k bigint, val bigint"), "k")
    assert calls == [None]
    calls.clear()
    # update rewrite: ONE call, gated on the updated rows of the one
    # output frame (kept rows bypass it)
    V.commit_update_where(spark, root, "k = 5", {"val": "val + 1"})
    assert calls == ["__chk"]
    calls.clear()
    # delete rewrite: pure pass-through, NOTHING re-validates
    V.commit_delete_where(spark, root, "k = 7")
    assert calls == []
    calls.clear()
    # merge rewrite: ONE call, gated on the changed/inserted data rows
    # of the single output frame (pass-through rows bypass it)
    src = spark.createDataFrame([(2, 5), (500, 9)], "k bigint, v bigint")
    V.commit_merge(
        spark, root, src, "k",
        matched=[{"action": "update", "set": {"val": "s.v"}}],
        not_matched=[{"action": "insert",
                      "values": {"k": "k", "val": "v"}}],
    )
    assert calls == ["__chk"]
    calls.clear()
    # cdc: upserts leg only
    V.apply_changes(
        spark, root,
        spark.createDataFrame([(4, 8, 1, "u")],
                              "k bigint, val bigint, ts bigint, op string"),
        key_col="k", ts_col="ts", op_col="op", delete_op="d",
    )
    assert calls == [None]
    # every leg still lands correctly
    got = {r["k"]: r["val"] for r in V.read_version(spark, root).collect()}
    assert got[3] == 7 and got[5] == 11 and 7 not in got
    assert got[2] == 5 and got[500] == 9 and got[4] == 8


def test_check_gate_skips_passthrough_rows(spark):
    """The merge gate is load-bearing: a frame holding a VIOLATING
    pass-through row (gate false) writes fine — CASE laziness never
    evaluates the constraint for it — while the same row with the
    gate set aborts."""
    df = spark.createDataFrame(
        [(1, -5, False), (2, 3, True)], "k bigint, val bigint, ch boolean"
    )
    ok = V._enforce_constraints(df, {"nonneg": "val >= 0"}, gate="ch")
    # collect (not count - count would let Catalyst prune the chained
    # column away entirely): the violating row's gate is false, so the
    # CASE never evaluates its constraint
    assert len(ok.collect()) == 2
    bad = df.selectExpr("k", "val", "true AS ch")
    chained = V._enforce_constraints(bad, {"nonneg": "val >= 0"}, gate="ch")
    with pytest.raises(Exception, match="CHECK constraint 'nonneg'"):
        chained.collect()


def test_check_enforcement_dv_merge_chains_postimages_only(
    spark, root, monkeypatch
):
    """DV-mode merge: ONE chain, gated so that only the post-images
    (the data rows it writes) are checked — no second chain is built
    for a frame dv mode discards (review finding r14)."""
    calls = []
    orig = V._enforce_constraints

    def counting(df, constraints, gate=None):
        calls.append(gate)
        return orig(df, constraints, gate)

    monkeypatch.setattr(V, "_enforce_constraints", counting)
    V.commit_append(
        spark, root,
        spark.range(20).selectExpr("id AS k", "id * 2 AS val").coalesce(1),
        ["k"],
    )
    V.set_check_constraint(spark, root, "nonneg", "val >= 0")
    calls.clear()
    src = spark.createDataFrame([(2, 5)], "k bigint, v bigint")
    V.commit_merge(
        spark, root, src, "k", mode="dv",
        matched=[{"action": "update", "set": {"val": "s.v"}}],
    )
    assert calls == ["__chk"]
    assert V.read_version(spark, root).where("k = 2").collect()[0][
        "val"] == 5
    # and the constraint still bites on a violating dv-mode post-image
    bad = spark.createDataFrame([(3, -9)], "k bigint, v bigint")
    with pytest.raises(Exception, match="CHECK constraint 'nonneg'"):
        V.commit_merge(
            spark, root, bad, "k", mode="dv",
            matched=[{"action": "update", "set": {"val": "s.v"}}],
        )
