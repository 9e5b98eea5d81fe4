"""Physical-layout tests: bucketed joins plan without Exchange; salted
joins return exactly the plain-join result while spreading hot keys."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from amadeus_spark import plans
from amadeus_spark.operators import storage
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def warehouse(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS bucketing_test")
    spark.catalog.setCurrentDatabase("bucketing_test")
    yield
    spark.sql("DROP DATABASE IF EXISTS bucketing_test CASCADE")
    spark.catalog.setCurrentDatabase("default")


def test_bucketed_join_is_shuffle_free(spark, warehouse):
    orders = spark.read.parquet(os.path.join(SF_SMOKE, "orders.parquet"))
    lineitem = spark.read.parquet(os.path.join(SF_SMOKE, "lineitem.parquet"))
    storage.write_bucketed(
        orders.withColumnRenamed("o_orderkey", "okey"), "orders_b", ["okey"], 8
    )
    storage.write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "okey"), "lineitem_b", ["okey"], 8
    )
    j = storage.bucketed_join(spark, "lineitem_b", "orders_b", on="okey")
    agg = j.groupBy("okey").agg(F.count(F.lit(1)).alias("n"))
    # disable auto-broadcast so the join itself is SMJ/shuffle-hash shaped
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        n_shuffles_join = plans.shuffle_count(j)
        assert n_shuffles_join == 0, plans.plan_text(j)
        # the groupBy on the bucket key also reuses the bucketing
        assert plans.shuffle_count(agg) == 0, plans.plan_text(agg)
        assert j.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_salted_join_equals_plain_join(spark):
    left = spark.range(0, 20000).select(
        # pathological skew: 50% of rows share key 0
        F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.createDataFrame(
        [(i, f"r{i}") for i in range(100)], "k int, tag string"
    )
    plain = left.join(right, "k").groupBy("tag").count()
    salted = storage.salted_join(left, right, "k", n_salts=8).groupBy("tag").count()
    assert sorted((r.tag, r["count"]) for r in plain.collect()) == sorted(
        (r.tag, r["count"]) for r in salted.collect()
    )


def test_salted_left_join_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (99, "zz")], "k int, v string")
    right = spark.createDataFrame([(1, "r1"), (2, "r2")], "k int, tag string")
    out = storage.salted_join(left, right, "k", n_salts=4, how="left").collect()
    by_key = {r.k: r.tag for r in out}
    assert by_key == {1: "r1", 2: "r2", 99: None}
    assert len(out) == 3  # no row duplication from salting


def test_zorder_write_improves_two_dim_skipping(spark, tmp_path):
    """Z-ordered layout must give BOTH clustering columns tight per-file
    ranges: for a mid-range point predicate on each dimension, fewer
    files' [min,max] intersect it than under a hash layout — that
    intersection count is exactly what parquet row-group pruning reads."""
    import pyarrow.parquet as pq
    import os as _os

    from amadeus_spark.operators import storage

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    zdir = str(tmp_path / "zorder")
    hdir = str(tmp_path / "hash")
    storage.zorder_write(li, zdir, ["l_partkey", "l_suppkey"], n_files=16)
    li.repartition(16).write.mode("overwrite").parquet(hdir)

    def files_hit(d, col, lo, hi):
        hit = total = 0
        for f in _os.listdir(d):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(_os.path.join(d, f)).metadata
            # per-file min/max across row groups
            mins, maxs = [], []
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                for j in range(rg.num_columns):
                    c = rg.column(j)
                    if c.path_in_schema == col and c.statistics is not None:
                        mins.append(c.statistics.min)
                        maxs.append(c.statistics.max)
            total += 1
            if mins and not (hi < min(mins) or lo > max(maxs)):
                hit += 1
        return hit, total

    for col in ("l_partkey", "l_suppkey"):
        lo_d, hi_d = li.agg(F.min(col), F.max(col)).first()
        mid = lo_d + (hi_d - lo_d) * 2 // 5
        span = max(1, (hi_d - lo_d) // 50)
        zhit, ztot = files_hit(zdir, col, mid, mid + span)
        hhit, htot = files_hit(hdir, col, mid, mid + span)
        assert ztot >= 8 and htot >= 8
        # hash layout: every file spans the whole domain -> all hit;
        # z-order: the predicate touches a strict subset
        assert zhit < hhit, (col, zhit, hhit)
    # correctness: layout rewrite loses no rows
    assert spark.read.parquet(zdir).count() == li.count()


def test_training_shards_ordered_and_pruned(spark, tmp_path):
    """write_training_shards: every shard directory holds exactly its
    epoch_shuffle rows SORTED by pos (file order == epoch order), a
    shard read plans a partition-pruned single-directory scan, and the
    layout is reproducible (same epoch -> byte-identical assignment)."""
    import os

    from amadeus_spark.operators import sampling, storage

    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet")).select(
        "doc_id", "lang"
    )
    d = str(tmp_path / "shards")
    storage.write_training_shards(docs, d, "doc_id", n_shards=8, epoch=3)

    want = {
        (r["shard"], r["pos"]): r["doc_id"]
        for r in sampling.epoch_shuffle(docs, "doc_id", 8, 3).collect()
    }
    total = 0
    for shard in range(8):
        got = storage.read_training_shard(spark, d, shard).collect()
        total += len(got)
        # epoch order within the shard, and exactly the assigned rows
        assert [r["pos"] for r in got] == list(range(1, len(got) + 1))
        for r in got:
            assert want[(shard, r["pos"])] == r["doc_id"]
        # file order == epoch order without the orderBy (parquet
        # preserves row order; the write sorted within partitions)
        raw = spark.read.parquet(os.path.join(d, f"shard={shard}")).collect()
        assert [r["pos"] for r in raw] == [r["pos"] for r in got]
    assert total == len(want)
    # partition pruning: a single shard read scans one directory
    from amadeus_spark import plans

    txt = plans.plan_text(storage.read_training_shard(spark, d, 5))
    assert "PartitionFilters: [isnotnull(shard" in txt or "shard=5" in txt, txt[:1500]
