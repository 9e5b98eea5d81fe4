"""Streaming corpus operators — incremental near-dup filtering.

The production shape of MinHash dedup is INCREMENTAL: a firehose of new
documents is checked against the signature index of the historical
corpus, and only novel documents flow on (a batch re-dedup of the whole
corpus per arrival is the thing nobody can afford at 100 TB). This
module is the Structured-Streaming twin of ``dedup.minhash_lsh_pairs``:

- the historical index is built BATCH-side (``corpus_band_index`` —
  one band-exploded frame, 16 rows/doc, plus the shingle-hash frame for
  exact verification) and refreshed on whatever cadence the pipeline
  re-snapshots its corpus;
- the stream side computes signatures STATELESSLY (HOF ``array_min``
  over the staged shingle-hash array): ``dedup.with_minhash``'s
  explode+HashAggregate plan is ~2x faster per row but needs a groupBy,
  which in a stream means update-mode aggregation state before a join —
  not allowed, and pointless state. Stateless trades per-row CPU for a
  zero-state map, the right trade on a stream. Constants are shared
  with dedup.py (iron rule 7), so stream signatures equal batch
  signatures bit-for-bit (pinned by test);
- candidates come from a stream-static equi-join on (band_id, bh) —
  static side broadcasts when the index fits, otherwise shuffles on the
  same key every micro-batch (at 100 TB: pre-bucket the index table by
  bh so the static side never reshuffles);
- exact Jaccard verification joins the static shingle frame and applies
  the SAME staged intersection expression as the batch operator;
- the only streaming STATE is the final one-flag-per-doc dedup within
  the watermark (a doc matching many corpus docs emits one flag).

Reference posture: amadeus-streaming keeps mergeable sketch state for
exactly this kind of infinite-stream membership problem; Spark's
stream-static join is the declarative equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amadeus_spark.functions.dedup import (
    HASH_A,
    HASH_B,
    MERSENNE_P,
    NUM_HASHES,
    band_explode_sql,
    hash32_frag,
    shingles_from_tokens_frag,
    toks_frag,
    with_minhash,
)


def with_minhash_stateless(
    df: DataFrame, id_col: str, text_col: str, extra_cols: list[str] | None = None
) -> DataFrame:
    """(id, sh, sig) via pure column expressions — no explode, no
    aggregation, no state; safe on a streaming DataFrame. Same values
    as dedup.with_minhash (same shingles, same hash32, same 64 affine
    min-hashes mod the same Mersenne prime)."""
    stok, _ = toks_frag(text_col)
    hs, _ = hash32_frag("s", "s")
    # stage: tokens -> distinct shingle strings -> distinct hash array.
    # Each stage is ONE column, so the md5 per shingle runs once, not
    # once per downstream lambda (the CLAUDE.md HOF re-evaluation trap).
    sh_expr = (
        "array_distinct(transform(__shingles, s -> "
        + hash32_frag("s", "")[0]
        + "))"
    )
    sig_terms = ", ".join(
        f"array_min(transform(sh, h -> (h * {a} + {b}) % {MERSENNE_P}))"
        for a, b in zip(HASH_A, HASH_B)
    )
    keep = [id_col] + (extra_cols or [])
    return (
        df.withColumn("__toks", F.expr(stok))
        .withColumn("__shingles", F.expr(shingles_from_tokens_frag("__toks")))
        .withColumn("sh", F.expr(sh_expr))
        .select(*keep, "sh", F.expr(f"array({sig_terms})").alias("sig"))
    )


def corpus_band_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Batch-side historical index: (band frame (corpus_id, band_id,
    bh), shingle frame (corpus_id, sh)). The band frame is 16 rows/doc
    of (int, 32-char md5); at scale both persist as bucketed tables."""
    sigs = with_minhash(docs, id_col, text_col)
    bands = sigs.selectExpr(f"`{id_col}` AS corpus_id", band_explode_sql())
    shingles = sigs.select(F.col(id_col).alias("corpus_id"), F.col("sh").alias("c_sh"))
    return bands, shingles


def neardup_flags(
    docs: DataFrame,
    band_index: DataFrame,
    corpus_shingles: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str | None = "ts",
) -> DataFrame:
    """Stateless candidate + verify chain shared by the stream and its
    batch twin: emits one row per (incoming doc, matching corpus doc)
    with exact Jaccard >= threshold. Self-matches (same id) are
    excluded so a corpus snapshot can include the stream's own past.
    ``ts_col=None`` for a batch frame with no event time (the oracle
    gate shape)."""
    carry = [ts_col] if ts_col else []
    staged = with_minhash_stateless(docs, id_col, text_col, extra_cols=carry)
    bands = staged.selectExpr(
        *(f"`{c}`" for c in [id_col, *carry]), "sh", band_explode_sql()
    )
    cand = bands.join(band_index, ["band_id", "bh"]).filter(
        F.col(id_col) != F.col("corpus_id")
    )
    return (
        cand.join(corpus_shingles, "corpus_id")
        .withColumn(
            "__inter", F.expr("cast(size(array_intersect(sh, c_sh)) as double)")
        )
        .withColumn(
            "jaccard",
            F.expr("__inter / (cast(size(sh) + size(c_sh) as double) - __inter)"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(id_col, *carry, "corpus_id", "jaccard")
    )


def streaming_neardup_filter(
    doc_stream: DataFrame,
    band_index: DataFrame,
    corpus_shingles: DataFrame,
    threshold: float = 0.8,
    watermark: str = "30 minutes",
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """One near-dup FLAG per incoming document (first matching corpus
    doc wins; a doc in many boilerplate buckets still emits once). The
    flag dedup is the only state and is bounded by the watermark."""
    flags = neardup_flags(
        doc_stream, band_index, corpus_shingles, threshold, id_col, text_col, ts_col
    )
    return flags.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [id_col]
    )


def corpus_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Historical EXACT-dedup store: one xxhash64 content fingerprint
    per corpus doc (the dedup.exact_dedup_stats key). At scale this is
    the bucketed fingerprint table the pipeline maintains."""
    return docs.select(
        F.xxhash64(F.col(text_col)).alias("fp")
    ).distinct()


def streaming_exact_dedup_filter(
    doc_stream: DataFrame,
    corpus_fps: DataFrame,
    watermark: str = "30 minutes",
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Incremental EXACT dedup — the cheap first stage in front of the
    near-dup filter: drop any arriving doc whose content fingerprint is
    already in the historical store (stateless map + stream-static
    LEFT ANTI join; the store broadcasts or pre-buckets), then drop
    repeats WITHIN the stream via the watermark-bounded state dedup.
    Composes: exact first (no signature cost for exact dups), the
    survivors flow into streaming_neardup_filter."""
    fresh = (
        doc_stream.withColumn("fp", F.xxhash64(F.col(text_col)))
        .join(corpus_fps, "fp", "left_anti")
    )
    return fresh.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["fp"]
    )


def streaming_bloom_decontaminate(
    spark,
    doc_stream: DataFrame,
    spec,
    text_col: str = "text",
    out_col: str = "contaminated",
) -> DataFrame:
    """FULLY STATELESS streaming decontamination: the benchmark's
    Bloom filter (built batch-side by functions/bloom.build_bloom over
    probe shingle strings) broadcasts to every executor, each arriving
    doc computes its shingle xxhash64 arrays in codegen and ORs the
    vectorized bit tests in one Arrow batch — one row in, one flagged
    row out, zero streaming state (no watermark needed). The no-false-
    negative guarantee means a contaminated doc can never slip through;
    ~fp_rate of clean docs are over-flagged (re-check those exact on
    the batch side if the loss matters)."""
    from amadeus_spark.functions.bloom import H2_SEED, with_bloom_any_member
    from amadeus_spark.functions.dedup import SHINGLE_K, shingles_from_tokens_frag, toks_frag

    stok, _ = toks_frag(text_col)
    staged = (
        doc_stream.withColumn("__toks", F.expr(stok))
        .withColumn("__sh", F.expr(shingles_from_tokens_frag("__toks", SHINGLE_K)))
        .withColumn("__h1", F.expr("transform(__sh, s -> xxhash64(s))"))
        .withColumn("__h2", F.expr(f"transform(__sh, s -> xxhash64(s, {H2_SEED}))"))
    )
    return with_bloom_any_member(spark, staged, "__h1", "__h2", spec, out_col).drop(
        "__toks", "__sh", "__h1", "__h2"
    )
