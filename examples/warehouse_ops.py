"""Warehouse-operations tour — the table-maintenance layer, end-to-end:

  1. land a partitioned fact table, Z-ordered for 2-D data skipping
  2. validate it with a declarative expectation suite
  3. adopt it as a versioned table (no data rewrite) and apply a
     CDC-style upsert (only files whose key range it hits rewrite)
  4. compact the fragments the upsert left behind, as a new version
  5. build an SCD2 dimension from the events change log and join facts
     to the version current at their timestamp (temporal join)

    python examples/warehouse_ops.py [sf_dir] [work_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


from pyspark.sql import functions as F

from amadeus_spark import get_spark
from amadeus_spark.functions import quality
from amadeus_spark.operators import storage, versioned
from amadeus_spark.operators.joins import temporal_join
from amadeus_spark.operators.scd import scd2_from_changelog
from amadeus_spark.tables import load_events


def main(sf_dir: str, work: str) -> None:
    spark = get_spark("warehouse_ops_example")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

    # 1. Z-ordered landing: both custkey and orderkey predicates will
    # skip most files (footer min/max stay tight on each).
    fact = os.path.join(work, "orders_fact")
    storage.zorder_write(
        orders.withColumn("part", F.col("o_orderstatus")),
        fact + "_flat",
        ["o_custkey", "o_orderkey"],
        n_files=8,
    )
    spark.read.parquet(fact + "_flat").write.partitionBy(
        "o_orderstatus"
    ).parquet(fact)

    # 2. expectation gate before publishing
    report = quality.expectation_report(
        spark.read.parquet(fact),
        predicates={
            "price_positive": F.col("o_totalprice") > 0,
            "priority_in_domain": F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
            ),
        },
        unique_keys={"orderkey_unique": ["o_orderkey"]},
    )
    print("expectations:")
    for r in report.collect():
        print("  ", r.check, r.violations)

    # 3. adopt the landed files as version 0 of a versioned table (hard
    # links, footer stats harvested), then upsert: bump two orders; only
    # the files whose o_orderkey range holds them rewrite
    table = os.path.join(work, "orders_table")
    versioned.convert_to_versioned(
        spark, table, fact,
        stats_cols=["o_orderkey"], partition_cols=["o_orderstatus"],
    )
    updates = (
        versioned.read_version(spark, table)
        .orderBy("o_orderkey")
        .limit(2)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    )
    _, rewritten, carried = versioned.commit_upsert(
        spark, table, updates, "o_orderkey"
    )
    print(f"upsert: {rewritten} files rewritten, {carried} carried")

    # 4. compact the small files into a new version (the old one stays
    # readable by time travel)
    _, before, after = versioned.optimize(spark, table, target_mb=64)
    print(f"compaction: {before} files -> {after}")

    # 5. SCD2 dimension from events + temporal join
    ev = load_events(spark, sf_dir)
    versions_src = ev.select(
        "user_id", "ts", "event_id", "event_type"
    )
    episodes = scd2_from_changelog(
        versions_src, ["user_id"], "ts", ["event_type"], "event_id"
    )
    print("scd2 episodes:", episodes.count())
    facts = ev.select("user_id", F.col("ts").alias("t"), "value").limit(1000)
    versions = versions_src.withColumnRenamed("ts", "start").select(
        "user_id", "start", F.col("event_type").alias("state")
    )
    joined = temporal_join(facts, versions, ["user_id"], "t", "start")
    print("temporal join sample:")
    for r in joined.limit(3).collect():
        print("  ", r.asDict())


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    wk = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="whops_")
    main(sf, wk)
