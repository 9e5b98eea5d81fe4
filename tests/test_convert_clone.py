"""CONVERT TO DELTA + CLONE: adopt an existing parquet directory as a
versioned table, and branch a snapshot into an independent table — both
zero data movement on a local filesystem (hard links; content never
rewritten), the lakehouse adopt/branch shapes a 100 TB lake needs."""

from __future__ import annotations

import os

import pytest

from amadeus_spark.operators import versioned as V


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "vt")


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).selectExpr("id AS k", f"'{tag}' AS v")


def _inodes(d):
    out = {}
    for cur, _, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(cur, f)
                out[p] = os.stat(p).st_ino
    return out


def test_convert_adopts_without_copying(spark, root, tmp_path):
    src = str(tmp_path / "lake")
    _df(spark, 0, 100, "a").repartitionByRange(4, "k").write.parquet(src)
    src_inodes = _inodes(src)
    v, n_files, n_rows = V.convert_to_versioned(spark, root, src, ["k"])
    assert (v, n_rows) == (0, 100) and n_files >= 4
    # ZERO data movement: every adopted file is a hard link of a
    # source file (same inode), never a copy
    tbl_inodes = _inodes(os.path.join(root, V.DATA_DIR))
    assert set(tbl_inodes.values()) == set(src_inodes.values())
    assert all(os.stat(p).st_nlink == 2 for p in src_inodes)
    got = V.read_version(spark, root)
    assert got.count() == 100 and got.columns == ["k", "v"]
    # harvested stats prune immediately: an upsert touches ONE file
    upd = spark.createDataFrame([(5, "new")], "k bigint, v string")
    _, rewritten, carried = V.commit_upsert(spark, root, upd, "k")
    assert rewritten == 1 and carried == n_files - 1
    vals = {r["k"]: r["v"] for r in V.read_version(spark, root).collect()}
    assert vals[5] == "new" and vals[50] == "a"
    # the whole table lifecycle works on the adopted files
    assert V.read_version(spark, root, 0).count() == 100  # time travel
    assert V.history(spark, root)[0]["op"] == "convert"


def test_convert_guards(spark, root, tmp_path):
    src = str(tmp_path / "lake")
    with pytest.raises(FileNotFoundError):
        V.convert_to_versioned(spark, root, str(tmp_path / "empty"))
    _df(spark, 0, 5, "a").coalesce(1).write.parquet(src)
    V.convert_to_versioned(spark, root, src)
    with pytest.raises(ValueError, match="already a versioned table"):
        V.convert_to_versioned(spark, root, src)


def test_clone_pins_snapshot_and_diverges(spark, root, tmp_path):
    dst = str(tmp_path / "branch")
    V.commit_append(spark, root, _df(spark, 0, 50, "a").coalesce(1), ["k"])
    V.commit_append(spark, root, _df(spark, 50, 100, "b").coalesce(1))
    v, n_files, n_rows = V.clone_table(spark, root, dst, version=0)
    assert (v, n_files, n_rows) == (0, 1, 50)  # pinned at v0
    assert V.read_version(spark, dst).count() == 50
    # zero copy: shared inodes
    src_ino = set(_inodes(os.path.join(root, V.DATA_DIR)).values())
    dst_ino = set(_inodes(os.path.join(dst, V.DATA_DIR)).values())
    assert dst_ino <= src_ino and len(dst_ino) == 1
    # full independence: writes on either side never leak
    V.commit_append(spark, dst, _df(spark, 900, 910, "clone").coalesce(1))
    V.commit_upsert(
        spark, root,
        spark.createDataFrame([(3, "SRC")], "k bigint, v string"), "k")
    assert V.read_version(spark, dst).count() == 60
    assert V.read_version(spark, dst).where("v = 'SRC'").count() == 0
    assert V.read_version(spark, root).where("v = 'clone'").count() == 0
    assert V.history(spark, dst)[0]["op"] == "clone"
    assert V._read_manifest(spark, dst, 0)["cloned_from"]["version"] == 0


def test_clone_carries_dv_constraints_and_mapping(spark, root, tmp_path):
    dst = str(tmp_path / "branch")
    V.commit_append(
        spark, root,
        spark.range(0, 100).selectExpr("id AS k", "id * 2 AS val")
        .coalesce(1), ["k"])
    V.rename_column(spark, root, "val", "score")
    V.set_check_constraint(spark, root, "nonneg", "score >= 0")
    V.commit_delete_where(spark, root, "k % 10 = 3", mode="dv")
    V.clone_table(spark, root, dst)
    got = V.read_version(spark, dst)
    # the DV rides along: deleted rows stay deleted in the clone
    assert got.count() == 90 and got.where("k % 10 = 3").count() == 0
    assert got.columns == ["k", "score"]  # mapping carried
    d = V.describe_detail(spark, dst)
    assert d["constraints"] == {"nonneg": "score >= 0"}
    assert d["column_mapping"] == {"score": "val"}
    # constraints ENFORCE on the clone
    with pytest.raises(Exception, match="CHECK constraint 'nonneg'"):
        V.commit_append(
            spark, dst,
            spark.createDataFrame([(500, -1)], "k bigint, score bigint"))
    # vacuuming the SOURCE never breaks the clone (links hold content)
    V.optimize(spark, root, n_files=1)
    V.vacuum(spark, root, keep_last=1, min_staging_age_s=0.0)
    assert V.read_version(spark, dst).count() == 90


def test_clone_guards(spark, root, tmp_path):
    dst = str(tmp_path / "branch")
    with pytest.raises(FileNotFoundError):
        V.clone_table(spark, root, dst)
    V.commit_append(spark, root, _df(spark, 0, 5, "a").coalesce(1), ["k"])
    V.clone_table(spark, root, dst)
    with pytest.raises(ValueError, match="already a versioned table"):
        V.clone_table(spark, root, dst)


def test_convert_merges_evolved_footers(spark, root, tmp_path):
    """A schema-evolved lake (older files missing a later-added column)
    converts with the UNION schema — the late column must not be lost
    to whichever single footer Spark samples."""
    src = str(tmp_path / "lake")
    _df(spark, 0, 5, "a").coalesce(1).write.parquet(src)
    spark.range(10, 15).selectExpr(
        "id AS k", "'b' AS v", "id * 2 AS w"
    ).coalesce(1).write.mode("append").parquet(src)
    V.convert_to_versioned(spark, root, src, ["k"])
    got = V.read_version(spark, root)
    assert set(got.columns) == {"k", "v", "w"}
    vals = {r["k"]: r["w"] for r in got.collect()}
    assert vals[0] is None and vals[10] == 20


def test_convert_refuses_nested_and_query_string(spark, root, tmp_path):
    src = str(tmp_path / "lake")
    _df(spark, 0, 5, "a").write.partitionBy("v").parquet(src)
    with pytest.raises(ValueError, match="partition_cols"):
        V.convert_to_versioned(spark, root, src)
    with pytest.raises(ValueError, match="plain"):
        V.convert_to_versioned(spark, root, src + "?region=x")


def test_convert_race_collides_and_cleans_up(spark, root, tmp_path,
                                             monkeypatch):
    """A table created between convert's fresh-root check and its
    publish must COLLIDE (version pinned to 0), never be silently
    buried under the adopted files — and the loser's adopted staging
    dir is reclaimed."""
    src = str(tmp_path / "lake")
    _df(spark, 0, 5, "a").coalesce(1).write.parquet(src)
    orig = V._write_manifest_atomic
    state = {"armed": True}

    def racy(sp, rt, version, manifest):
        if state["armed"]:
            state["armed"] = False
            V.commit_append(spark, root, _df(spark, 50, 55, "win"), ["k"])
        return orig(sp, rt, version, manifest)

    monkeypatch.setattr(V, "_write_manifest_atomic", racy)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        V.convert_to_versioned(spark, root, src, ["k"])
    # the winner's table is intact and the loser left no orphan dirs
    assert V.read_version(spark, root).count() == 5
    assert V.read_version(spark, root).where("v = 'win'").count() == 5
    dirs = os.listdir(os.path.join(root, V.DATA_DIR))
    assert len(dirs) == 1  # only the winner's staging dir


def test_convert_ambiguous_publish_error_keeps_adopted_dir(
    spark, root, tmp_path, monkeypatch
):
    """A publish error that is not a CAS loss may have landed the
    manifest: the adopted dir stays (deleting it could leave a
    published v0 pointing at nothing)."""
    src = str(tmp_path / "lake")
    _df(spark, 0, 5, "a").coalesce(1).write.parquet(src)

    def broken(sp, rt, version, manifest):
        raise OSError("connection reset while publishing")

    monkeypatch.setattr(V, "_write_manifest_atomic", broken)
    with pytest.raises(OSError, match="connection reset"):
        V.convert_to_versioned(spark, root, src, ["k"])
    (adopted,) = os.listdir(os.path.join(root, V.DATA_DIR))
    assert any(
        f.endswith(".parquet")
        for f in os.listdir(os.path.join(root, V.DATA_DIR, adopted))
    )


def test_deep_clone_race_reclaims_mirrored_dirs(spark, root, tmp_path,
                                                 monkeypatch):
    """A deep clone losing the CAS on its destination leaves none of
    its mirrored data or DV dirs there; the winner's table is intact."""
    V.commit_append(spark, root, _df(spark, 0, 50, "a").coalesce(1), ["k"])
    V.commit_delete_where(spark, root, "k < 5", mode="dv")
    dst = str(tmp_path / "branch")
    orig = V._write_manifest_atomic
    state = {"armed": True}

    def racy(sp, rt, version, manifest):
        if state["armed"] and rt == dst:
            state["armed"] = False
            V.commit_append(spark, dst, _df(spark, 90, 95, "win"), ["k"])
        return orig(sp, rt, version, manifest)

    monkeypatch.setattr(V, "_write_manifest_atomic", racy)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        V.clone_table(spark, root, dst)
    assert not state["armed"]
    src_dirs = {e["dir"] for e in V._live_entries(spark, root, 1)}
    assert src_dirs and not src_dirs & set(
        os.listdir(os.path.join(dst, V.DATA_DIR))
    )
    dv = os.path.join(dst, V.DV_DIR)
    assert not os.path.exists(dv) or os.listdir(dv) == []
    assert V.read_version(spark, dst).count() == 5


def test_changefeed_spans_convert_and_clone(spark, root, tmp_path):
    """CDF parity with Delta: neither CONVERT nor CLONE serves change
    rows — a feed spanning version 0 skips them instead of raising."""
    src = str(tmp_path / "lake")
    _df(spark, 0, 5, "a").coalesce(1).write.parquet(src)
    V.convert_to_versioned(spark, root, src, ["k"])
    V.commit_append(spark, root, _df(spark, 10, 12, "b"))
    ch = V.table_changes(spark, root, 0)
    assert sorted(r["k"] for r in ch.collect()) == [10, 11]
    dst = str(tmp_path / "branch")
    V.clone_table(spark, root, dst)
    V.commit_append(spark, dst, _df(spark, 20, 21, "c"))
    ch2 = V.table_changes(spark, dst, 0)
    assert sorted(r["k"] for r in ch2.collect()) == [20]


def test_clone_history_reads_as_relink(spark, root, tmp_path):
    """A clone of a source whose data landed at the SOURCE's v0 (dirs
    named commit-v0-*) must still read as files_relinked, never as
    ingest — by-reference semantics, not the dir-name heuristic."""
    dst = str(tmp_path / "branch")
    V.commit_append(spark, root, _df(spark, 0, 5, "a").coalesce(1), ["k"])
    V.clone_table(spark, root, dst)
    h0 = V.history(spark, dst)[0]
    assert h0["op"] == "clone"
    assert h0["files_added"] == 0 and h0["rows_added"] == 0
    assert h0["files_relinked"] == 1


# -------------------------------------------------- hive-partitioned
# CONVERT (r13 verdict item #3): Delta's CONVERT TO DELTA ...
# PARTITIONED BY — partition values parse out of directory names as
# per-file min==max stats (pruning falls out of the ordinary stats
# machinery) and reads materialize the columns natively via basePath.


def _hive_lake(spark, tmp_path):
    src = str(tmp_path / "hlake")
    (
        spark.range(90)
        .selectExpr(
            "id AS k",
            "id * 2 AS val",
            "CASE WHEN id % 2 = 0 THEN 'EU' ELSE 'US' END AS region",
            "date_add(date'2024-01-01', CAST(id % 3 AS INT)) AS dt",
        )
        .write.partitionBy("region", "dt")
        .parquet(src)
    )
    return src


def test_convert_hive_partitioned_lake(spark, root, tmp_path):
    src = _hive_lake(spark, tmp_path)
    src_inodes = _inodes(src)
    v, n_files, n_rows = V.convert_to_versioned(
        spark, root, src, stats_cols=["k"],
        partition_cols=["region", "dt"],
    )
    assert (v, n_rows) == (0, 90)
    # still zero data movement: adopted hive leaves are hard links
    tbl_inodes = _inodes(os.path.join(root, V.DATA_DIR))
    assert set(tbl_inodes.values()) == set(src_inodes.values())
    got = V.read_version(spark, root)
    # partition columns materialize TYPED from the directory names
    types = dict(got.dtypes)
    assert types["region"] == "string" and types["dt"] == "date"
    assert got.count() == 90
    assert got.where("region = 'EU'").count() == 45
    assert {r["dt"].isoformat() for r in got.select("dt").distinct()
            .collect()} == {"2024-01-01", "2024-01-02", "2024-01-03"}
    # partition PRUNING from the parsed min==max stats: a key-range
    # read plans only the matching partition's files
    pruned = V.read_version(
        spark, root, key_range=("EU", "EU"), key_col="region"
    )
    assert 0 < len(pruned.inputFiles()) < n_files
    assert pruned.where("region = 'EU'").count() == 45
    import datetime

    d1 = datetime.date(2024, 1, 2)
    p2 = V.read_version(spark, root, key_range=(d1, d1), key_col="dt")
    assert 0 < len(p2.inputFiles()) < n_files
    assert p2.where("dt = date'2024-01-02'").count() == 30
    # partition cols joined stats_cols: later commits keep pruning
    assert set(V.describe_detail(spark, root)["stats_cols"]) == {
        "k", "region", "dt"}


def test_convert_hive_layout_validation(spark, root, tmp_path):
    src = _hive_lake(spark, tmp_path)
    # wrong declared order
    with pytest.raises(ValueError, match="order"):
        V.convert_to_versioned(
            spark, root, src, partition_cols=["dt", "region"])
    # wrong depth (declares one level, lake has two)
    with pytest.raises(ValueError, match="partition depth"):
        V.convert_to_versioned(
            spark, root, src, partition_cols=["region"])
    # NULL partition value refused
    src2 = str(tmp_path / "nlake")
    spark.createDataFrame(
        [(1, None), (2, "x")], "k bigint, region string"
    ).write.partitionBy("region").parquet(src2)
    with pytest.raises(ValueError, match="NULL partition"):
        V.convert_to_versioned(
            spark, root, src2, partition_cols=["region"])


def test_convert_hive_dml_lifecycle(spark, root, tmp_path):
    """The adopted hive table is a FULL citizen: DV deletes map row
    identity through the partition subpaths, rewrites/upserts write
    flat files carrying the partition columns as data, optimize
    compacts across layouts, vacuum walks the nested dirs."""
    src = _hive_lake(spark, tmp_path)
    V.convert_to_versioned(
        spark, root, src, stats_cols=["k"],
        partition_cols=["region", "dt"],
    )
    V.commit_delete_where(spark, root, "k = 4", mode="dv")
    got = V.read_version(spark, root)
    assert got.count() == 89 and got.where("k = 4").count() == 0
    V.commit_update_where(spark, root, "k = 5", {"val": "999"})
    assert V.read_version(spark, root).where("k = 5").collect()[0][
        "val"] == 999
    import datetime

    ups = spark.createDataFrame(
        [(7, 777, "US", datetime.date(2024, 1, 2))],
        "k bigint, val bigint, region string, dt date",
    )
    V.commit_upsert(spark, root, ups, "k")
    assert V.read_version(spark, root).where("k = 7").collect()[0][
        "val"] == 777
    # changes survive compaction (hive + flat files union cleanly)
    V.optimize(spark, root, n_files=2)
    after = V.read_version(spark, root)
    assert after.count() == 89
    assert after.where("region = 'EU'").count() == 44  # k=4 (EU) deleted
    nm, nd = V.vacuum(spark, root, keep_last=1, min_staging_age_s=0.0)
    assert nd > 0  # the superseded hive files reclaimed recursively
    assert V.read_version(spark, root).count() == 89


def test_convert_hive_clone_both_modes(spark, root, tmp_path):
    """Deep clone mirrors the partition subpaths; shallow clone reads
    the hive files by reference."""
    src = _hive_lake(spark, tmp_path)
    V.convert_to_versioned(
        spark, root, src, stats_cols=["k"],
        partition_cols=["region", "dt"],
    )
    deep = str(tmp_path / "deep")
    V.clone_table(spark, root, deep)
    assert V.read_version(spark, deep).count() == 90
    assert V.read_version(spark, deep).where("region='US'").count() == 45
    sh = str(tmp_path / "sh")
    V.clone_table(spark, root, sh, shallow=True)
    assert V.read_version(spark, sh).where("region='US'").count() == 45
    assert V.describe_detail(spark, sh)["foreign_files"] > 0


# ---------------------------------------------------- SHALLOW CLONE
# (r13 verdict item #4): by reference on ANY store — entries carry
# absolute source URIs, zero data objects move.


def test_shallow_clone_zero_copy_and_isolation(spark, root, tmp_path):
    import glob

    cl = str(tmp_path / "sh")
    V.commit_append(spark, root, _df(spark, 0, 100, "a").coalesce(2), ["k"])
    V.commit_delete_where(spark, root, "k = 3", mode="dv")
    v, nf, nr = V.clone_table(spark, root, cl, shallow=True)
    assert (v, nf, nr) == (0, 2, 99)
    # ZERO objects staged — not even links
    assert not glob.glob(cl + "/data/**/*.parquet", recursive=True)
    assert not os.path.isdir(os.path.join(cl, V.DV_DIR))
    got = V.read_version(spark, cl)
    # reads resolve the foreign refs, source DV included
    assert got.count() == 99 and got.where("k = 3").count() == 0
    assert V.describe_detail(spark, cl)["foreign_files"] == 2
    assert V._read_manifest(spark, cl, 0)["cloned_from"]["shallow"]
    # writes are isolated both ways
    V.commit_append(spark, cl, _df(spark, 900, 910, "cl").coalesce(1))
    assert V.read_version(spark, cl).count() == 109
    assert V.read_version(spark, root).count() == 99
    # vacuum on the clone NEVER touches source objects
    src_files = set(glob.glob(root + "/data/**/*.parquet", recursive=True))
    V.vacuum(spark, cl, keep_last=1, min_staging_age_s=0.0)
    assert src_files == set(
        glob.glob(root + "/data/**/*.parquet", recursive=True))
    assert V.read_version(spark, cl).count() == 109


def test_shallow_clone_dml_and_localize(spark, root, tmp_path):
    """DML through foreign entries: DV deletes map row identity via the
    derived (basename, path) key; rewrites copy-on-write into LOCAL
    files; optimize localizes everything (foreign_files -> 0); a deep
    clone OF a shallow clone localizes too."""
    cl = str(tmp_path / "sh")
    V.commit_append(spark, root, _df(spark, 0, 100, "a").coalesce(2), ["k"])
    V.clone_table(spark, root, cl, shallow=True)
    V.commit_delete_where(spark, cl, "k = 5", mode="dv")
    assert V.read_version(spark, cl).where("k = 5").count() == 0
    assert V.read_version(spark, root).where("k = 5").count() == 1
    V.commit_upsert(
        spark, cl,
        spark.createDataFrame([(7, "CL")], "k bigint, v string"), "k")
    assert V.read_version(spark, cl).where("v = 'CL'").count() == 1
    assert V.read_version(spark, root).where("v = 'CL'").count() == 0
    V.optimize(spark, cl, n_files=1)
    assert V.describe_detail(spark, cl)["foreign_files"] == 0
    assert V.read_version(spark, cl).count() == 99
    # deep clone of a (fresh) shallow clone copies the data in
    sh2, deep = str(tmp_path / "sh2"), str(tmp_path / "deep")
    V.clone_table(spark, root, sh2, shallow=True)
    V.clone_table(spark, sh2, deep)
    assert V.describe_detail(spark, deep)["foreign_files"] == 0
    assert V.read_version(spark, deep).count() == 100


def test_convert_hive_escaped_and_int_partitions(spark, root, tmp_path):
    """Hive dir values URL-escape special chars (%XX) — convert must
    UNQUOTE them for stats so pruning bounds compare in value space;
    int-typed partition values prune as ints."""
    src = str(tmp_path / "elake")
    spark.createDataFrame(
        [(1, "a b", 10), (2, "c=d", 20), (3, "a b", 10)],
        "k bigint, tag string, bucket int",
    ).repartition(1).write.partitionBy("tag", "bucket").parquet(src)
    V.convert_to_versioned(
        spark, root, src, stats_cols=["k"],
        partition_cols=["tag", "bucket"],
    )
    got = V.read_version(spark, root)
    assert {r["tag"] for r in got.select("tag").distinct().collect()} == {
        "a b", "c=d"}
    # string pruning on the unquoted value
    p = V.read_version(spark, root, key_range=("a b", "a b"),
                       key_col="tag")
    assert p.count() == 2 and len(p.inputFiles()) == 1
    # int pruning on the int-typed partition value
    p2 = V.read_version(spark, root, key_range=(15, 25), key_col="bucket")
    assert p2.count() == 1 and len(p2.inputFiles()) == 1
    # DV identity survives URI encoding (_metadata.file_path surfaces
    # the space as %20; the derived identity must decode back into
    # entry-path space or the delete misses its entry)
    V.commit_delete_where(spark, root, "k = 1", mode="dv")
    got2 = V.read_version(spark, root)
    assert got2.count() == 2 and got2.where("k = 1").count() == 0


def test_shallow_clone_pins_version_and_restores(spark, root, tmp_path):
    """A shallow clone pins a historical snapshot like a deep one; a
    restore on the clone rolls its own divergence back to the all-
    foreign v0 state without touching the source."""
    cl = str(tmp_path / "sh")
    V.commit_append(spark, root, _df(spark, 0, 50, "a").coalesce(1), ["k"])
    V.commit_append(spark, root, _df(spark, 50, 100, "b").coalesce(1))
    V.clone_table(spark, root, cl, version=0, shallow=True)
    assert V.read_version(spark, cl).count() == 50  # pinned at v0
    V.commit_delete_where(spark, cl, "k < 10", mode="dv")
    assert V.read_version(spark, cl).count() == 40
    V.restore_version(spark, cl, 0)
    assert V.read_version(spark, cl).count() == 50
    assert V.describe_detail(spark, cl)["foreign_files"] == 1
    assert V.read_version(spark, root).count() == 100  # source untouched


def test_convert_hive_nonpadded_date_dirs_stay_consistent(
    spark, root, tmp_path
):
    """A non-Spark writer's dt=2024-1-2 directory: Spark's partition
    inference types the column STRING (its date parse is strict
    padded), so the materialized values, the harvested stats and any
    pruning bound all live in the same raw-string space — reads and
    string pruning stay exact, nothing silently mis-prunes. (The
    _pval_stat date branch additionally NORMALIZES to padded ISO as
    defense for any inference that does yield DateType for loose
    input — pinned directly below.)"""
    import datetime
    import os as _os

    from pyspark.sql import types as T

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "dlake")
    for d, ks in [("2024-1-2", [1, 2]), ("2024-11-20", [3])]:
        leaf = _os.path.join(src, f"dt={d}")
        _os.makedirs(leaf)
        pq.write_table(
            pa.table({"k": pa.array(ks, pa.int64())}),
            _os.path.join(leaf, "part-0.parquet"),
        )
    V.convert_to_versioned(
        spark, root, src, stats_cols=["k"], partition_cols=["dt"])
    got = V.read_version(spark, root)
    assert dict(got.dtypes)["dt"] == "string"
    assert got.where("dt = '2024-1-2'").count() == 2
    p = V.read_version(
        spark, root, key_range=("2024-1-2", "2024-1-2"), key_col="dt")
    assert p.count() == 2 and len(p.inputFiles()) == 1
    # the defensive normalization: a DateType partition value parses
    # non-padded input into _stat_jsonable's padded ISO form
    assert V._pval_stat(T.DateType(), "2024-1-2") == "2024-01-02"
    assert V._pval_stat(T.DateType(), "garbage") is None
