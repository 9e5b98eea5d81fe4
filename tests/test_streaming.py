"""Streaming tests: batch/stream parity (the streaming twin of the
reference's local/dist parity discipline, SURVEY §5 #4) — the same
aggregation over the same rows must agree batch vs stream."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from amadeus_spark.streaming import events as ev
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def event_stream_dir(spark, tmp_path_factory):
    """Split events.parquet into 3 files so availableNow sees multiple
    input files (micro-batch boundaries don't affect results)."""
    d = str(tmp_path_factory.mktemp("eventstream"))
    from amadeus_spark.tables import load_events

    src = load_events(spark, SF_SMOKE).cache()
    # time-range file splits (like rotated logs): cross-file disorder
    # stays within the watermark, so append mode loses nothing
    lo, hi = src.agg(F.min("ts"), F.max("ts")).first()
    bounds = [lo, lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3, hi]
    for i in range(3):
        part = src.filter(
            (F.col("ts") >= bounds[i])
            & (F.col("ts") <= bounds[i + 1] if i == 2 else F.col("ts") < bounds[i + 1])
        )
        part.coalesce(1).write.mode("append").parquet(d)
    return d


def test_windowed_counts_parity(spark, event_stream_dir):
    stream = ev.read_event_stream(spark, event_stream_dir, max_files_per_trigger=1)
    ev.run_to_memory_sink(ev.windowed_counts(stream), "wc_sink")
    got = {
        (r.win_start, r.event_type): (r.n_events, round(r.total_value, 2))
        for r in spark.sql("select * from wc_sink").collect()
    }
    batch = spark.read.parquet(event_stream_dir)
    want = {
        (r.win_start, r.event_type): (r.n_events, round(r.total_value, 2))
        for r in (
            batch.groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
            .select(F.col("win.start").alias("win_start"), "event_type", "n_events", "total_value")
        ).collect()
    }
    # append mode: only watermark-closed windows are emitted — the final
    # in-flight window may be withheld. Every emitted window must match
    # the batch answer exactly, and coverage must be ~total.
    assert got, "stream emitted nothing"
    for k, v in got.items():
        assert want[k] == v, (k, v, want[k])
    missing = set(want) - set(got)
    assert sum(want[k][0] for k in missing) <= 5, f"too much held back: {missing}"


def test_windowed_distinct_users_runs(spark, event_stream_dir):
    stream = ev.read_event_stream(spark, event_stream_dir)
    ev.run_to_memory_sink(ev.windowed_distinct_users(stream), "du_sink")
    rows = spark.sql("select * from du_sink").collect()
    assert rows
    assert all(r.approx_users > 0 for r in rows)


def test_session_windows(spark, event_stream_dir):
    stream = ev.read_event_stream(spark, event_stream_dir)
    ev.run_to_memory_sink(ev.session_windows(stream), "sess_sink")
    rows = spark.sql("select * from sess_sink").collect()
    assert rows
    assert all(r.sess_end > r.sess_start for r in rows)


def test_streaming_dedup_within_watermark(spark, event_stream_dir):
    """Streaming dedup drops re-arrivals of the same key; with unique
    event_ids input==output, and with a constant key one row survives
    per watermark horizon."""
    stream = ev.read_event_stream(spark, event_stream_dir)
    ev.run_to_memory_sink(ev.streaming_dedup(stream, ["event_id"]), "dd_sink")
    n_unique = spark.sql("select count(*) c from dd_sink").first().c
    total = spark.read.parquet(event_stream_dir).count()
    assert n_unique == total  # all ids unique → nothing dropped

    dup = ev.read_event_stream(spark, event_stream_dir).withColumn(
        "event_type", F.lit("same")
    )
    ev.run_to_memory_sink(ev.streaming_dedup(dup, ["event_type"]), "dd2_sink")
    n_dedup = spark.sql("select count(*) c from dd2_sink").first().c
    assert n_dedup < total / 100  # collapses to ~one per horizon


def test_inspect_observe(spark, event_stream_dir):
    from pyspark.sql import Observation

    from amadeus_spark.operators import transforms

    df = spark.read.parquet(event_stream_dir)
    obs = Observation("peek")
    watched = transforms.inspect(df, obs, F.count(F.lit(1)).alias("rows"), F.max("value").alias("mx"))
    n = watched.count()
    assert obs.get["rows"] == n
    assert obs.get["mx"] > 0


def test_streaming_topk_sketch(spark, event_stream_dir):
    """CMS-backed streaming top-k: final emission ranks match exact batch
    counts (estimates within the sketch band at this scale)."""
    stream = ev.read_event_stream(spark, event_stream_dir, max_files_per_trigger=1)
    ev.run_to_memory_sink(ev.streaming_topk_sketch(stream, k=3, tolerance=0.0001), "tks_sink", "update")
    final = {}
    for r in spark.sql("select * from tks_sink").collect():
        final[r.event_type] = r.est_freq  # later emissions overwrite
    batch = spark.read.parquet(event_stream_dir)
    exact = {
        r.event_type: r.cnt
        for r in batch.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    want = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    got = sorted(final.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [k for k, _ in got] == [k for k, _ in want]
    n = sum(exact.values())
    for (k_, est), (_, ex) in zip(got, want):
        assert ex <= est <= ex + 0.0001 * n + 1


def test_stream_stream_join_matches_batch(spark, event_stream_dir):
    """Stream-stream time-bounded join == the same join in batch."""
    stream = ev.read_event_stream(spark, event_stream_dir)
    purchases = stream.filter(F.col("event_type") == "purchase")
    clicks = stream.filter(F.col("event_type") == "click")
    ev.run_to_memory_sink(
        ev.stream_stream_join(purchases, clicks), "ssj_sink"
    )
    got = {
        (r.purchase_id, r.click_ts)
        for r in spark.sql("select * from ssj_sink").collect()
    }
    batch = spark.read.parquet(event_stream_dir)
    bp = batch.filter(F.col("event_type") == "purchase").alias("p")
    bc = batch.filter(F.col("event_type") == "click").alias("c")
    want = {
        (r.purchase_id, r.click_ts)
        for r in bp.join(
            bc,
            on=[
                F.col("p.user_id") == F.col("c.user_id"),
                F.col("c.ts") <= F.col("p.ts"),
                F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 30 minutes"),
            ],
        )
        .select(F.col("p.event_id").alias("purchase_id"), F.col("c.ts").alias("click_ts"))
        .collect()
    }
    assert got == want


def test_streaming_topk_matches_batch(spark, event_stream_dir):
    stream = ev.read_event_stream(spark, event_stream_dir, max_files_per_trigger=1)
    ev.run_to_memory_sink(ev.streaming_topk_types(stream, k=3), "topk_sink", "update")
    # last emitted micro-batch state = final counts; take the last k rows
    # per event_type (update mode appends each batch's emission)
    all_rows = spark.sql("select * from topk_sink").collect()
    final = {}
    for r in all_rows:  # later rows overwrite earlier emissions
        final[r.event_type] = r.freq
    batch = spark.read.parquet(event_stream_dir)
    want_top = {
        r.event_type: r.cnt
        for r in batch.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "event_type")
        .limit(3)
        .collect()
    }
    got_top = dict(sorted(final.items(), key=lambda kv: -kv[1])[:3])
    assert got_top == want_top


def test_streaming_top_distinct_parity(spark, event_stream_dir):
    """Top<A, HLL<B>> end-to-end (sample.rs:159-200): streaming top-k
    event_types by approx-distinct users == the same sketch run in
    batch over the same rows (HLL++ is deterministic on a multiset, and
    micro-batch merges are the sketch's own UnionAssign)."""
    stream = ev.read_event_stream(spark, event_stream_dir, max_files_per_trigger=1)
    ev.run_to_memory_sink(
        ev.streaming_top_distinct(stream, k=3), "td_sink", output_mode="complete"
    )
    got = [
        (r.event_type, r.distinct_users)
        for r in spark.sql("select * from td_sink order by distinct_users desc, event_type").collect()
    ]
    batch = spark.read.parquet(event_stream_dir)
    want = [
        (r.event_type, r.distinct_users)
        for r in (
            batch.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("distinct_users"))
            .orderBy(F.desc("distinct_users"), F.asc("event_type"))
            .limit(3)
        ).collect()
    ]
    assert got == want
    # ranking sanity vs exact distinct counts: same key order
    exact = [
        r.event_type
        for r in (
            batch.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("d"))
            .orderBy(F.desc("d"), F.asc("event_type"))
            .limit(3)
        ).collect()
    ]
    assert [k for k, _ in got] == exact


def test_streaming_cloudfront_ingestion_parity(spark):
    """Log-file ingestion as a stream (the reference's CloudFront source
    re-expressed incrementally): readStream.text over the committed gzip
    fixture + the SAME pure-column W3C parse as batch, aggregated per
    (edge, status) in complete mode — results must equal the batch read.
    This is the 100 TB posture for log pipelines: new log files land in
    the prefix, the same parse expressions run incrementally."""
    from amadeus_spark.sources import cloudfront

    fixture = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures",
        "cloudfront",
    )
    batch_df = cloudfront.read_cloudfront(spark, fixture)
    parsed = cloudfront.read_cloudfront_stream(spark, fixture + "/*.gz")
    agg = parsed.groupBy("edge_location", "status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("response_bytes").alias("b"),
    )
    ev.run_to_memory_sink(agg, "cf_sink", output_mode="complete")
    got = {
        (r.edge_location, r.status): (r.n, r.b)
        for r in spark.sql("select * from cf_sink").collect()
    }
    want = {
        (r.edge_location, r.status): (r.n, r.b)
        for r in batch_df.groupBy("edge_location", "status")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("response_bytes").alias("b"))
        .collect()
    }
    assert got == want and got


def test_stream_static_enrich_matches_batch(spark, event_stream_dir):
    """Stream-static broadcast enrichment == the same left join in
    batch (static side is a batch-computed per-user profile; cold-start
    users flag false)."""
    batch = spark.read.parquet(event_stream_dir)
    profile = ev.user_value_profile(batch.filter(F.col("user_id") % 3 != 0))
    # hold out user_id % 3 == 0 so the LEFT-join cold-start path is hit
    stream = ev.read_event_stream(spark, event_stream_dir)
    ev.run_to_memory_sink(
        ev.stream_static_enrich(stream, profile), "sse_sink"
    )
    got = {
        (r.event_id, r.anomalous, r.hist_mean)
        for r in spark.sql("select * from sse_sink").collect()
    }
    want = {
        (r.event_id, r.anomalous, r.hist_mean)
        for r in ev.stream_static_enrich(batch, profile).collect()
    }
    assert got == want
    assert any(hm is None for _, _, hm in got)  # cold-start rows exist
    assert any(a for _, a, _ in got)  # some events do flag


def test_cdc_versioned_sink_commits_and_replays_idempotently(spark, tmp_path):
    """Streaming CDC -> versioned table: one manifest version per
    micro-batch, final state == one-shot latest-wins fold, and a FULL
    REPLAY (checkpoint lost, epochs restart) re-commits NOTHING — the
    txn high-water mark in the manifest (Delta txnAppId/txnVersion
    pattern) makes the sink exactly-once, not at-least-once."""
    import shutil

    from amadeus_spark.operators import versioned as V

    root = str(tmp_path / "vt")
    base = spark.createDataFrame(
        [(k, "base") for k in range(10)], "k long, v string"
    )
    V.commit_append(spark, root, base.coalesce(1), ["k"])

    ch_dir = str(tmp_path / "changes")
    # two single-file waves in event-time order (later file = later ts)
    spark.createDataFrame(
        [(1, "w1", 1, "U"), (2, None, 1, "D")],
        "k long, v string, ts long, op string",
    ).coalesce(1).write.json(ch_dir)
    spark.createDataFrame(
        [(1, "w2", 2, "U"), (5, None, 2, "D"), (42, "new", 2, "U")],
        "k long, v string, ts long, op string",
    ).coalesce(1).write.mode("append").json(ch_dir)

    def run():
        stream = (
            spark.readStream.schema("k long, v string, ts long, op string")
            .option("maxFilesPerTrigger", 1)
            .json(ch_dir)
        )
        ev.run_cdc_versioned_sink(stream, root, "k", "ts")

    run()
    v_after = V.current_version(spark, root)
    assert v_after == 2  # base + one commit per micro-batch
    final = {r.k: r.v for r in V.read_version(spark, root).collect()}
    assert final[1] == "w2" and final[42] == "new"
    assert 2 not in final and 5 not in final
    assert len(final) == 10 - 2 + 1
    assert V._read_manifest(spark, root, v_after)["txn"] == {"cdc-stream": 1}

    # lose the checkpoint -> full replay; epochs restart at 0 and the
    # txn guard must skip both batches (no new versions, same state)
    shutil.rmtree(root + "__ckpt")
    run()
    assert V.current_version(spark, root) == v_after
    assert {r.k: r.v for r in V.read_version(spark, root).collect()} == final


def test_streaming_group_sample_matches_batch_sink(spark, event_stream_dir):
    """Streaming per-group exact-k sample == the batch group_by_sink
    sample over the same rows (the determinism that makes the batch
    operator the stream's oracle), regardless of micro-batch splits."""
    from amadeus_spark.operators import group_sink as gs

    stream = ev.read_event_stream(spark, event_stream_dir, max_files_per_trigger=1)
    ev.run_to_memory_sink(
        ev.streaming_group_sample(stream, k=4, salt="st"), "gsample_sink", "update"
    )
    final = {}
    for r in spark.sql("select * from gsample_sink").collect():
        final[r.event_type] = list(r.sample_ids)  # later emissions overwrite
    batch = spark.read.parquet(event_stream_dir)
    want = {
        r.event_type: list(r.s)
        for r in gs.group_by_sink(
            batch, ["event_type"], {"s": gs.sample_k("event_id", 4, salt="st")}
        ).collect()
    }
    assert final == want
    # state-boundedness: the per-group state IS the emitted (hash, id)
    # pair list, capped at k by construction — every emission (not just
    # the final one) must carry <= k ids however many rows the group
    # has absorbed so far.
    for r in spark.sql("select * from gsample_sink").collect():
        assert len(r.sample_ids) <= 4, r
