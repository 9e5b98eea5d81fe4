"""Physical-layout operators: bucketing and skew salting — the two
techniques that keep 100 TB joins off the shuffle.

- **Bucketing**: writing both join sides bucketed by the join key (same
  bucket count) lets Spark plan a SortMergeJoin with NO Exchange on
  either side — the co-location was paid once at write time. This is the
  managed-table analog of the reference's implicit co-partitioning (its
  broadcast-only joins never shuffle because the right side ships whole,
  join.rs:71-125 — bucketing gives the same no-shuffle property without
  the fits-in-memory constraint).
- **Salting**: a skewed key (one customer with 10% of all rows) turns
  one reducer into the straggler. Salting splits each hot left-side key
  into ``n_salts`` synthetic keys and replicates the right side per
  salt — the shuffle spreads the hot key over n reducers. AQE's
  skew-join handles moderate skew automatically; explicit salting is
  for the pathological tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (+optionally sorted) managed table. Both
    sides of a recurring join should use the SAME bucket count on the
    join key; subsequent joins skip the Exchange entirely."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, on) -> DataFrame:
    """Join two same-bucketed tables — plans shuffle-free when bucket
    specs line up (verify with plans.shuffle_count == 0)."""
    return spark.table(left_table).join(spark.table(right_table), on=on)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: left rows get a random salt in
    [0, n_salts), the right side is replicated once per salt, and the
    join key becomes (key, salt). Row multiplicity is unchanged (each
    left row matches exactly the one replica with its salt), so results
    equal the plain join — only the shuffle distribution differs.

    Cost: right side inflated ×n_salts — use for joins where the right
    side is modest but too big to broadcast and the left is skewed.

    Only inner/left/left_semi preserve multiplicity under salting: a
    right/full outer join would emit each unmatched right row once per
    replica, so those types are rejected."""
    if how not in ("inner", "left", "left_outer", "left_semi"):
        raise ValueError(
            f"salted_join supports inner/left/left_semi, not {how!r}: outer "
            "joins would duplicate unmatched right rows per salt replica"
        )
    salted_left = left.withColumn("__salt", (F.rand(seed=42) * n_salts).cast("int"))
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("__salt")
    salted_right = right.select("*", salts)
    out = salted_left.join(salted_right, on=[key, "__salt"], how=how)
    return out.drop("__salt")


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    n_files: int = 16,
    bits_per_dim: int = 8,
) -> DataFrame:
    """Z-order (Morton-curve) data layout for multi-dimensional data
    skipping — the lakehouse OPTIMIZE ZORDER BY technique, hand-rolled
    on open Spark: map each clustering column to its quantile bucket
    (cut points from approxQuantile — a bounded driver-side array, no
    global sort), interleave the bucket bits into one Morton key, then
    repartitionByRange + sortWithinPartitions on that key. Returns the
    laid-out frame; the caller writes it (plain dir via zorder_write,
    versioned snapshot via versioned.optimize).

    Why it matters at 100 TB: parquet row-group pruning uses per-file
    min/max. Range-partitioning by ONE column makes only that column's
    ranges tight; Z-ordering makes EVERY clustering column's per-file
    range narrow simultaneously, so predicates on any of them skip most
    files. The curve math is pure Catalyst bit arithmetic — shiftleft /
    bitwise OR over the bucketized dims — no UDF, no extra shuffle
    beyond the one range-partition the rewrite needs anyway."""
    buckets = (1 << bits_per_dim) - 1
    z = F.lit(0).cast("long")
    qs = [i / buckets for i in range(1, buckets + 1)]
    # list form = ONE collect job computing every clustering column's
    # sketch in a single pass (per-column calls would re-scan C times)
    all_cuts = df.approxQuantile(cols, qs, 0.001)
    for d, c in enumerate(cols):
        cuts = all_cuts[d]
        # bucket = count of cut points <= value (monotone, 0..buckets)
        arr = "array({})".format(
            ",".join(f"CAST({v!r} AS DOUBLE)" for v in cuts)
        )
        bucket = F.expr(
            f"size(filter({arr}, x -> x <= CAST({c} AS DOUBLE)))"
        ).cast("long")
        # spread dim d's bits to positions d, d+ndims, d+2*ndims, ...
        for b in range(bits_per_dim):
            bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + d))
    return (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits_per_dim: int = 8,
) -> None:
    """:func:`zorder_layout` + overwrite-write to a plain parquet dir."""
    zorder_layout(df, cols, n_files, bits_per_dim).write.mode(
        "overwrite"
    ).parquet(path)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path-class) for ``path`` via the Hadoop FS API —
    resolves file://, hdfs://, s3a:// alike from the session's Hadoop
    conf. Seam for failure-injection tests (a py4j object can't be
    monkeypatched)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def write_training_shards(
    df: DataFrame, path: str, key: str, n_shards: int, epoch: int
) -> None:
    """Materialize the training corpus as ORDERED shards — the last
    step of a data pipeline: every example gets its deterministic
    (shard, pos) from sampling.epoch_shuffle, rows land in one
    directory per shard SORTED by pos, and any trainer worker can open
    exactly its shard and stream examples in the epoch order with no
    further shuffle (the reproducible-ordering contract published data
    recipes rely on).

    Plan: one repartition keyed by shard (so a shard's rows co-locate),
    sortWithinPartitions((shard, pos)) — a task holding several shards
    (hash collisions) still writes each shard's file internally
    ordered, because partitionBy splits the task's output per shard
    AFTER the sort. Parquet preserves row order within a file."""
    from pyspark.sql import functions as F

    from amadeus_spark.operators.sampling import epoch_shuffle

    shuffled = epoch_shuffle(df, key, n_shards, epoch)
    (
        shuffled.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(path)
    )


def read_training_shard(spark: SparkSession, path: str, shard: int) -> DataFrame:
    """A worker's view: one shard, in epoch order. Partition pruning
    makes this a single-directory read."""
    return (
        spark.read.parquet(path)
        .filter(F.col("shard") == shard)
        .orderBy("pos")
    )
