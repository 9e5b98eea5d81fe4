"""Structured Streaming operators over event streams.

The reference's "streaming" is one-pass/online algorithms
(amadeus-streaming/src/lib.rs:10-19), not unbounded event-time
processing — SURVEY §2.6 records event-time semantics as absent there.
This module supplies the event-time model Spark-natively and re-expresses
the reference's mergeable sketches as streaming aggregations:

- tumbling/sliding/session windows with watermarks (late data dropped
  deterministically by the watermark bound);
- ``approx_count_distinct`` inside windowed aggs = the HLL sketch
  (distinct.rs) running incrementally, state = sketch per window — the
  exact architecture the reference's UnionAssign merge implies;
- per-key top-k via ``applyInPandasWithState`` = Top<K,usize>
  (top.rs:18-35) as explicit streaming state.

At scale: state store is keyed by (window, key); watermark bounds state
size; ``spark.sql.shuffle.partitions`` governs state-store parallelism
and must be set before the first micro-batch (it's sticky per query).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream (parquet dir); each new file is a
    micro-batch input — the deterministic way to test streaming logic."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling (or sliding) window event counts + value sums per
    event_type with watermarked late-data handling."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def windowed_distinct_users(
    events: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes", rsd: float = 0.02
) -> DataFrame:
    """Streaming most_distinct building block: HLL sketch per window —
    reference HyperLogLog (distinct.rs:138-166) as incremental state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.approx_count_distinct("user_id", rsd=rsd).alias("approx_users"))
        .select(F.col("win.start").alias("win_start"), "event_type", "approx_users")
    )


def session_windows(
    events: DataFrame, gap: str = "5 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session windows per user (gap-based) — beyond the reference."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "user_id",
            "n_events",
        )
    )


_TOPK_STATE_SCHEMA = "counts map<string,bigint>"
_TOPK_OUT_SCHEMA = "event_type string, freq bigint"


def streaming_topk_types(events: DataFrame, k: int = 5) -> DataFrame:
    """Per-group running top-k with explicit state — the reference's
    Top<Item,usize> sketch (amadeus-streaming/src/top.rs:18-35) as
    applyInPandasWithState. State per group = exact counts map (the
    reference bounds memory with a CMS for the tail; at one state row
    per distinct event_type the exact map is the right trade here —
    swap in a CMS dict for unbounded key domains).

    Grouping key: a constant bucket per event_type shard so state is
    partitioned; emits current top-k each micro-batch."""

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        counts: dict[str, int] = dict(state.get[0]) if state.exists else {}
        for pdf in pdfs:
            for et, n in pdf.groupby("event_type").size().items():
                counts[et] = counts.get(et, 0) + int(n)
        state.update((counts,))
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        yield pd.DataFrame(top, columns=["event_type", "freq"])

    return (
        events.withColumn("bucket", F.lit(0))
        .groupBy("bucket")
        .applyInPandasWithState(
            update,
            outputStructType=_TOPK_OUT_SCHEMA,
            stateStructType=_TOPK_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_top_distinct(events: DataFrame, k: int = 5, rsd: float = 0.02) -> DataFrame:
    """The reference's signature composed sketch ``Top<A, HLL<B>>``
    (par_sink/sample.rs:159-200 via most_distinct, par_stream.rs:351-372):
    top-k keys A ranked by *approximate distinct count* of B — here
    event_types by distinct users — wired end-to-end as a stream.

    Spark-first shape: ``approx_count_distinct`` IS the HLL++ sketch held
    as incremental streaming state (one sketch per event_type, mergeable
    across micro-batches exactly like the reference's UnionAssign), and
    the post-aggregation sort+limit is legal in **complete** output mode,
    which is the right mode for a running top-k. Run with
    ``run_to_memory_sink(..., output_mode="complete")``.

    State: one HLL (fixed size, ~1.5 KB at rsd=0.02) per distinct A —
    bounded by |A|, not by the stream length."""
    return (
        events.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=rsd).alias("distinct_users"))
        .orderBy(F.desc("distinct_users"), F.asc("event_type"))
        .limit(k)
    )


_GSAMPLE_STATE_SCHEMA = "hs array<string>, vs array<bigint>"


def streaming_group_sample(
    events: DataFrame,
    group_col: str = "event_type",
    id_col: str = "event_id",
    k: int = 5,
    salt: str = "rs",
) -> DataFrame:
    """Streaming twin of ``group_sink.sample_k`` — a running exact-k
    deterministic sample PER GROUP over an unbounded stream (the
    reference's group_by(sample sink) on a DistributedStream,
    par_sink/group_by.rs + sample.rs:125-185).

    State per group is the current k smallest (md5(salt||id), id)
    pairs — k rows, FIXED, regardless of how many events the group has
    seen (the same merge-of-extrema argument that makes the batch
    operator partitioning-invariant makes this state mergeable across
    micro-batches). Deterministic: replaying the stream, in any batch
    segmentation, yields byte-identical samples, which is what makes
    the batch operator the oracle for this stream (parity-tested)."""

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        import hashlib

        pairs: list[tuple[str, int]] = (
            list(zip(state.get[0], state.get[1])) if state.exists else []
        )
        for pdf in pdfs:
            for v in pdf[id_col]:
                h = hashlib.md5((salt + str(int(v))).encode()).hexdigest()
                pairs.append((h, int(v)))
        pairs = sorted(set(pairs))[:k]
        state.update(([h for h, _ in pairs], [v for _, v in pairs]))
        yield pd.DataFrame(
            [{group_col: key[0], "sample_ids": [v for _, v in pairs]}]
        )

    return events.groupBy(group_col).applyInPandasWithState(
        update,
        outputStructType=f"{group_col} string, sample_ids array<bigint>",
        stateStructType=_GSAMPLE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(
    events: DataFrame, keys: list[str], watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming exact dedup — the streaming twin of
    dedup.exact_dedup_stats: drop duplicate keys arriving within the
    watermark horizon (state per key is bounded by the watermark; an
    unbounded dropDuplicates would grow state forever on an infinite
    stream)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


_SKETCH_STATE_SCHEMA = "state string"
_SKETCH_OUT_SCHEMA = "event_type string, est_freq bigint"


def streaming_topk_sketch(events: DataFrame, k: int = 5, tolerance: float = 0.001) -> DataFrame:
    """Streaming top-k backed by the CMS+TopK sketch (functions/
    sketch_lib.py) as explicit state — the reference's mergeable-sketch
    streaming architecture (UnionAssign state, SURVEY §7 hard part #5):
    state = one serialized sketch per shard, bounded memory regardless of
    key cardinality (unlike streaming_topk_types' exact counts map)."""
    from amadeus_spark.functions.sketch_lib import CountMinTopK

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            sk = CountMinTopK.loads(state.get[0])
        else:
            sk = CountMinTopK(k, 0.99, tolerance)
        for pdf in pdfs:
            for et, n in pdf.groupby("event_type").size().items():
                sk.push(str(et), int(n))
        state.update((sk.dumps(),))
        top = sk.top()
        yield pd.DataFrame(top, columns=["event_type", "est_freq"])

    return (
        events.withColumn("bucket", F.lit(0))
        .groupBy("bucket")
        .applyInPandasWithState(
            update,
            outputStructType=_SKETCH_OUT_SCHEMA,
            stateStructType=_SKETCH_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_stream_join(
    purchases: DataFrame,
    clicks: DataFrame,
    max_gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join with event-time bounds: each purchase
    joins clicks by the same user within [ts - max_gap, ts]. Both sides
    are watermarked so the join state (buffered unmatched rows) is
    bounded — the time-range predicate is what lets Spark drop state,
    otherwise both sides buffer forever.

    The batch twin is operators/joins.asof_join restricted to the gap;
    this is the streaming member of that family."""
    p = purchases.withWatermark("ts", watermark).alias("p")
    c = clicks.withWatermark("ts", watermark).alias("c")
    gap = F.expr(f"INTERVAL {max_gap}")
    return p.join(
        c,
        on=[
            F.col("p.user_id") == F.col("c.user_id"),
            F.col("c.ts") <= F.col("p.ts"),
            F.col("c.ts") >= F.col("p.ts") - gap,
        ],
        how="inner",
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.user_id").alias("user_id"),
        F.col("p.ts").alias("purchase_ts"),
        F.col("c.ts").alias("click_ts"),
    )


def stream_static_enrich(
    events: DataFrame,
    user_profile: DataFrame,
    flag_factor: float = 2.0,
) -> DataFrame:
    """Stream-static enrichment (the online feature-lookup pattern):
    each streaming event joins a STATIC per-user profile frame (e.g.
    historical mean event value from the batch corpus) and is flagged
    when its value exceeds ``flag_factor`` x the user's historical mean.

    The static side needs no watermark and holds NO streaming state —
    Spark broadcasts (or re-scans) the static relation per micro-batch,
    so this scales with the dimension size, not the stream. At 100 TB
    the profile table is the output of a batch job; a LEFT join keeps
    events from unseen users (cold start) with a NULL mean and false
    flag. This is the streaming member of the broadcast-join family
    (joins.py) the way stream_stream_join is asof_join's."""
    prof = user_profile.select(
        F.col("user_id").alias("p_user_id"),
        F.col("mean_value").alias("hist_mean"),
    )
    return (
        events.join(
            F.broadcast(prof), events.user_id == F.col("p_user_id"), "left"
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            "value",
            "hist_mean",
            F.coalesce(
                F.col("value") > F.lit(flag_factor) * F.col("hist_mean"),
                F.lit(False),
            ).alias("anomalous"),
        )
    )


def user_value_profile(events: DataFrame) -> DataFrame:
    """Batch-side profile builder for stream_static_enrich: per-user
    mean event value from the historical corpus."""
    return events.groupBy("user_id").agg(F.avg("value").alias("mean_value"))


def run_to_memory_sink(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
) -> None:
    """Drive a streaming query with Trigger.AvailableNow to completion —
    processes all available input then stops (deterministic tests)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_postgres_sink(
    stream_df: DataFrame,
    dsn: str,
    table: str,
    output_mode: str = "append",
) -> None:
    """Stream → Postgres through foreachBatch + the distributed COPY
    sink (sources/postgres_copy.write_postgres_copy): every micro-batch
    loads N-way parallel, one COPY per partition. append mode appends
    finalized rows (watermark-closed windows); complete mode rewrites
    the table each batch (truncate + reload — the usual serving-table
    pattern for small windowed aggregates). Runs with availableNow to
    completion (deterministic for tests and backfills)."""
    from amadeus_spark.sources.postgres_copy import write_postgres_copy

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        write_postgres_copy(
            batch_df,
            dsn,
            table,
            mode="overwrite" if output_mode == "complete" else "append",
        )

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_cdc_versioned_sink(
    stream_df: DataFrame,
    root: str,
    key_col: str,
    ts_col: str,
    op_col: str = "op",
    delete_op: str = "D",
    app_id: str = "cdc-stream",
) -> None:
    """CDC changefeed -> VERSIONED table: each micro-batch folds into
    the manifest table as one new snapshot version
    (operators/versioned.apply_changes — latest-wins per key, file-
    level stats pruning, deletes honored), so downstream readers get
    snapshot isolation and time travel over the live feed.

    EXACTLY-ONCE across crash/replay by transaction metadata, the
    public Delta ``txnAppId``/``txnVersion`` idempotency pattern: the
    committed manifest records {app_id: epoch_id}; a replayed batch
    whose epoch is <= the recorded high-water mark for this ``app_id``
    is skipped instead of double-applied (foreachBatch is otherwise
    at-least-once between the commit and the checkpoint write). The
    txn map carries forward commit-to-commit through this sink; a
    caveat the Delta pattern shares: restarting the stream with a NEW
    checkpoint restarts epoch numbering at 0, so its early batches
    read as replays — keep the checkpoint with the table, or change
    ``app_id``. Runs with availableNow to completion."""
    from amadeus_spark.operators import versioned as V

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        cur = V.current_version(spark, root)
        txn: dict = {}
        if cur >= 0:
            man = V._read_manifest(spark, root, cur)
            txn = dict(man.get("txn", {}))
            if app_id in txn and epoch_id <= txn[app_id]:
                return  # replayed batch — already committed
        txn[app_id] = epoch_id
        V.apply_changes(
            spark,
            root,
            batch_df,
            key_col,
            ts_col,
            op_col=op_col,
            delete_op=delete_op,
            extra_meta={"txn": txn},
        )

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", root.rstrip("/") + "__ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
