"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of this module):
- **Exact**: hash-groupBy on a content fingerprint — one shuffle on the
  fingerprint, combiner-side partial counts. 100 TB-safe.
- **MinHash+LSH**: per-doc signature is a map-side projection (no
  shuffle); LSH banding turns near-dup search from O(n²) into
  ``groupBy(band_id, band_hash)`` — one shuffle keyed by band hash, then
  candidate verification joins only within buckets. This is the textbook
  shingle→minhash→band→bucket-join plan (Broder; Leskovec et al. MMDS
  ch.3) and the standard 100 TB dedup path.
- **SimHash**: 60-bit signature per doc (map-side), 4×15-bit banding for
  candidates (a hamming-≤k pair must share one of 4 bands for k ≤ 3 by
  pigeonhole; wider k trades recall), bit_count(xor) verification.
  60 bits (not 64) because the signature must live in a *signed* 64-bit
  int in both engines (Spark LongType; DuckDB BIGINT errors on unsigned
  overflow where Spark wraps) — 15 hex chars of md5 is the widest
  portable hash. The 15-bit band keyspace (32,768 values) keeps buckets
  at ~N/32768 so the within-bucket self-join stays near-linear; the old
  32-bit/4×8-bit layout (256-value keyspace) was quadratic at scale.
- **n-gram Jaccard**: exact verification metric used by both LSH paths.

Every operator is pure Catalyst SQL expressions — no Python UDF in any
hot path. Each builder returns *both* the Spark-SQL fragment and the
DuckDB fragment built from the same constants, so the driver's oracle
check runs the identical algorithm in both engines (the acceptance
criterion is hash equality, not approximation bands).

Reference anchor: amadeus has no dedup; this is the beyond-reference
surface BASELINE.json's north star requires. The hashing primitive
(first 8 hex chars of md5 → uint32) is engine-portable.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as _st

from amadeus_spark.cache import tracked_persist

# ---- shared constants (Spark exprs AND DuckDB oracle use these) ----------
SHINGLE_K = 3
NUM_HASHES = 64
LSH_BANDS = 16
LSH_ROWS = 4  # NUM_HASHES == LSH_BANDS * LSH_ROWS
MERSENNE_P = 4_294_967_311  # prime > 2^32
_rng = random.Random(20240813)
HASH_A = [_rng.randrange(1, 1 << 20) for _ in range(NUM_HASHES)]
HASH_B = [_rng.randrange(0, 1 << 20) for _ in range(NUM_HASHES)]

SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15
SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1  # 32767

#: duplicated-SPAN detection shingle width (duplicated_span_stats): Lee
#: et al. flag LONG verbatim repeats (their threshold is 50 BPE tokens);
#: at this synthetic corpus's ~50-token docs, 8 tokens separates real
#: template reuse (~10% of docs) from the universal 3-gram noise that
#: SHINGLE_K-level matching flags in every document.
SPAN_K = 8


# ---- dual-dialect fragment builders ---------------------------------------
# Each returns (spark_sql, duckdb_sql). Structural parity by construction.


def toks_frag(col: str) -> tuple[str, str]:
    return (
        f"filter(split({col}, ' '), x -> x != '')",
        f"list_filter(string_split({col}, ' '), x -> x <> '')",
    )


def shingles_frag(col: str, k: int = SHINGLE_K) -> tuple[str, str]:
    """Distinct k-token shingles joined by single spaces."""
    ts, td = toks_frag(col)
    spark = (
        f"array_distinct(transform(sequence(1, greatest(size({ts}) - {k - 1}, 1)),"
        f" i -> concat_ws(' ', slice({ts}, i, {k}))))"
    )
    duck = (
        f"list_distinct(list_transform(range(1, greatest(len({td}) - {k - 1}, 1) + 1),"
        f" i -> array_to_string(list_slice({td}, i, i + {k - 1}), ' ')))"
    )
    return spark, duck


def shingles_from_tokens_frag(tok_col: str, k: int = SHINGLE_K) -> str:
    """Spark shingle expr over a PRE-STAGED token-array column.

    Staging matters: Catalyst does no CSE inside HOF lambdas, so the
    inlined form (shingles_frag) re-runs filter(split(text)) for every
    transform element — O(tokens²) per doc in interpreted HOF code.
    With tokens staged as a real column the lambda only slices:
    measured 4× faster on the shingle-explode stage at sf0.1. DuckDB
    needs no staging (its CTE form evaluates the list once), so the
    oracle dialect stays on shingles_frag — same constants, same
    values."""
    return (
        f"array_distinct(transform(sequence(1, greatest(size({tok_col}) - {k - 1}, 1)),"
        f" i -> concat_ws(' ', slice({tok_col}, i, {k}))))"
    )


def hash32_frag(s_spark: str, s_duck: str) -> tuple[str, str]:
    """Portable 32-bit string hash: first 8 hex chars of md5 as uint32."""
    return (
        f"cast(conv(substring(md5({s_spark}), 1, 8), 16, 10) as bigint)",
        f"cast(cast('0x' || substr(md5({s_duck}), 1, 8) as ubigint) as bigint)",
    )


def minhash_sig_frag_duck(hashes_col: str = "hs") -> list[str]:
    """NUM_HASHES signature components over a pre-computed hash array —
    DuckDB dialect only: the live Spark path computes signatures via
    explode + codegen'd min-aggregates in with_minhash (same constants,
    same values), so a Spark-dialect twin here would be dead code that
    could silently drift."""
    return [
        f"list_min(list_transform({hashes_col}, h -> (h * {a} + {b}) % {MERSENNE_P}))"
        for a, b in zip(HASH_A, HASH_B)
    ]


def band_hashes_frag(sig_col: str = "sig") -> tuple[list[str], list[str]]:
    """LSH band hashes: md5 over each band's R signature values."""
    spark, duck = [], []
    for j in range(LSH_BANDS):
        lo = j * LSH_ROWS + 1
        spark.append(
            f"md5(concat_ws(',', transform(slice({sig_col}, {lo}, {LSH_ROWS}),"
            f" x -> cast(x as string))))"
        )
        duck.append(
            f"md5(array_to_string(list_slice({sig_col}, {lo}, {lo + LSH_ROWS - 1}), ','))"
        )
    return spark, duck


def band_explode_sql(sig_col: str = "sig") -> str:
    """Spark select item: one row per LSH band, ``AS (band_id, bh)``."""
    return f"posexplode(array({', '.join(band_hashes_frag(sig_col)[0])})) AS (band_id, bh)"


# ---- Spark-side operators -------------------------------------------------
# Builders hand Catalyst a few SQL strings (one per stage) rather than
# hundreds of Column objects: every Column call is a py4j round trip and
# every DataFrame step re-analyzes the plan, so a 64-aggregate list
# comprehension cost ~1,100 JVM calls per build. Same plans either way.


def bucket_pairs(
    rows: DataFrame,
    keys: list[str],
    item: str,
    out: tuple[str, str],
    payload: tuple[str, str, str] | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs among rows that share a bucket (equal
    ``keys``): ``out[0] < out[1]`` over the ``item`` column, plus, when
    ``payload = (col, out_a, out_b)``, each side's ``col`` in pair order.

    Bucket-group pair generation instead of a rows⋈rows self-join: the
    join's two inputs each recomputed the bucketing subtree (one side
    under its BroadcastExchange — no exchange reuse) and a bucket cap
    paid a Window pass on top. ONE groupBy computes the buckets once,
    the cap becomes a size() filter on the grouped list (no Window
    stage), and the per-bucket pairs explode out of the list — same
    O(d²)-per-bucket output, one Exchange in place of
    join+window+broadcast (guide §2.4). Memory note: a bucket's list
    materializes in the agg buffer, the same rows the old window
    buffered per partition; ``max_bucket_size`` is the at-scale guard,
    applied before any pair is emitted (buckets above it are dropped
    whole, as the oracles' COUNT(*) OVER cap does).

    Two rows of one id can share a bucket — a duplicate id in the input,
    or (fuzzy) a cross-variant hash collision — so the pair guard
    ``x != y`` keeps (d, d) out, exactly like the oracles' ``a < b``."""
    size_ok = "size(ds) >= 2"
    if max_bucket_size is not None:
        size_ok += f" AND size(ds) <= {max_bucket_size}"
    if payload is None:
        ds, x, y = f"collect_list({item})", "__x", "__y"
        pair = []
    else:
        col, out_a, out_b = payload
        ds, x, y = f"collect_list(struct({item}, {col}))", f"__x.{item}", f"__y.{item}"
        pair = [
            f"CASE WHEN {x} < {y} THEN __x.{col} ELSE __y.{col} END AS {out_a}",
            f"CASE WHEN {x} < {y} THEN __y.{col} ELSE __x.{col} END AS {out_b}",
        ]
    return (
        rows.groupBy(*keys)
        .agg(F.expr(f"{ds} AS ds"))
        .where(size_ok)
        .selectExpr("posexplode(ds) AS (__i, __x)", "ds")
        .selectExpr("__x", "explode(slice(ds, __i + 2, size(ds))) AS __y")
        .where(f"{x} != {y}")
        .selectExpr(f"least({x}, {y}) AS {out[0]}", f"greatest({x}, {y}) AS {out[1]}", *pair)
        .distinct()
    )


def bands_cte_duck(
    frags: list[str], item: str, bucket: str, src: str, max_bucket_size: int | None
) -> str:
    """DuckDB twin of banding + :func:`bucket_pairs`' cap: the ``bands``
    CTE (``item``, band_id, ``bucket``), one UNION ALL leg per band
    fragment over ``src``; buckets of more than ``max_bucket_size`` rows
    are dropped whole. The oracles pair it with ``a.item < b.item``."""
    legs = "\n  UNION ALL ".join(
        f"SELECT {item}, {j} AS band_id, {frag} AS {bucket} FROM {src}"
        for j, frag in enumerate(frags)
    )
    if max_bucket_size is None:
        return f"bands AS (\n  {legs}\n)"
    cols = f"{item}, band_id, {bucket}"
    return f"""raw_bands AS (
  {legs}
), bands AS (
  SELECT {cols} FROM (
    SELECT {cols}, COUNT(*) OVER (PARTITION BY band_id, {bucket}) AS bsz
    FROM raw_bands
  ) WHERE bsz <= {max_bucket_size}
)"""


def with_minhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """id, sh (distinct shingles), sig (minhash signature array).

    Physical strategy: explode distinct shingles → one codegen'd
    HashAggregate computing all 64 ``min((h*a+b) % p)`` partial+final
    aggregates (plus collect_list to rebuild the shingle set for exact
    verification). Catalyst's array HOFs (transform/array_min) are
    interpreted per-row — keeping the signature in HOF form measured
    ~2× slower than the explode+agg plan even though explode adds a
    shuffle; min() partials also combine map-side so the shuffle carries
    one 64-int row per doc."""
    stok, _ = toks_frag(text_col)
    hs, _ = hash32_frag("s", "s")
    sig = ", ".join(f"min((h * {a} + {b}) % {MERSENNE_P})" for a, b in zip(HASH_A, HASH_B))
    hashed = (
        df.withColumn("__toks", F.expr(stok))
        .selectExpr(f"`{id_col}` AS __id", f"explode({shingles_from_tokens_frag('__toks')}) AS s")
        .selectExpr("__id", f"{hs} AS h")
    )
    # carry HASHES for verification, not shingle strings: the shuffle
    # payload per doc drops ~2.5× and Jaccard over distinct hash sets
    # equals Jaccard over shingle sets (collisions ~n²/2³³, and the
    # oracle hashes identically so even those agree). array_distinct:
    # rare cross-shingle collisions would otherwise leave duplicates.
    # persist: the signature frame feeds both sides of the LSH band
    # self-join AND the verification joins (4 consumers) — without it
    # Spark recomputes the whole shingle+hash subtree per consumer.
    # State is one row per doc (64 ints + shingles); at 100 TB use
    # DISK_ONLY or write it out as an intermediate table.
    return tracked_persist(
        hashed.groupBy(F.col("__id").alias(id_col)).agg(
            F.expr("array_distinct(collect_list(h)) AS sh"), F.expr(f"array({sig}) AS sig")
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH, verified with exact shingle
    Jaccard. Output: (doc_a, doc_b, jaccard), doc_a < doc_b.

    Physical plan at scale: project sig per doc → explode 16 band hashes
    → shuffle on (band_id, band_hash) → per-bucket pairs (bucket_pairs)
    → distinct → join back to shingle arrays (shuffle on id) → exact
    verify. No O(n²) stage anywhere; skewed buckets (boilerplate docs)
    are the known hot spot, and ``max_bucket_size`` is the hard cap:
    band buckets holding more than that many docs are dropped whole
    before any pair is emitted (a bucket of d docs emits O(d²)
    candidate pairs — one boilerplate bucket can dominate the stage at
    corpus scale). Dropping a bucket only loses recall for pairs whose
    OTHER 15 bands also miss; the oracle applies the identical cap so
    parity stays exact. None = off.
    """
    docs = with_minhash(df, id_col, text_col)
    bands = docs.selectExpr(f"`{id_col}` AS doc", band_explode_sql())
    cand = bucket_pairs(
        bands, ["band_id", "bh"], "doc", ("doc_a", "doc_b"), max_bucket_size=max_bucket_size
    )
    sh_a = docs.selectExpr(f"`{id_col}` AS doc_a", "sh AS sh_a")
    sh_b = docs.selectExpr(f"`{id_col}` AS doc_b", "sh AS sh_b")
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        # stage the intersection size: no CSE means the inlined form
        # computes array_intersect twice per candidate pair
        .withColumn("__inter", F.expr("cast(size(array_intersect(sh_a, sh_b)) as double)"))
        .selectExpr(
            "doc_a",
            "doc_b",
            "__inter / (cast(size(sh_a) + size(sh_b) as double) - __inter) AS jaccard",
        )
        .where(f"jaccard >= {threshold}")
        .orderBy("doc_a", "doc_b")
    )


def minhash_lsh_oracle(
    table: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
) -> str:
    """DuckDB twin of minhash_lsh_pairs — same constants, same algorithm.
    Like with_minhash, it folds all rows of one id into one document:
    the distinct union of their shingle hashes."""
    _, shd = shingles_frag(text_col)
    _, hd = hash32_frag("s", "s")
    sig_d = minhash_sig_frag_duck("sh")
    _, band_d = band_hashes_frag("sig")
    bands_cte = bands_cte_duck(band_d, "doc", "bh", "sigs", max_bucket_size)
    return f"""
WITH docs AS MATERIALIZED (
  SELECT {id_col} AS doc, {shd} AS shingles FROM {table}
), hashed AS MATERIALIZED (
  SELECT doc, list_distinct(flatten(list(list_transform(shingles, s -> {hd}))))
    AS sh
  FROM docs GROUP BY doc
), sigs AS MATERIALIZED (
  SELECT doc, sh, [{', '.join(sig_d)}] AS sig FROM hashed
), {bands_cte}, cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc < b.doc
), verified AS (
  SELECT doc_a, doc_b,
    cast(len(list_intersect(x.sh, y.sh)) as double)
      / cast(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) as double) AS jaccard
  FROM cand JOIN sigs x ON x.doc = cand.doc_a JOIN sigs y ON y.doc = cand.doc_b
)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {threshold}
ORDER BY doc_a, doc_b
"""


# ---- SimHash --------------------------------------------------------------


def hash60_frag(s_spark: str, s_duck: str) -> tuple[str, str]:
    """Portable 60-bit string hash: first 15 hex chars of md5. 60 bits is
    the widest md5 prefix that fits a signed 64-bit int in both engines
    (16 chars can exceed 2^63: Spark's cast would null, DuckDB's error)."""
    return (
        f"cast(conv(substring(md5({s_spark}), 1, 15), 16, 10) as bigint)",
        f"cast(cast('0x' || substr(md5({s_duck}), 1, 15) as ubigint) as bigint)",
    )


def token_hashes_frag(col: str) -> tuple[str, str]:
    """Non-distinct token hash array (SimHash weights by frequency)."""
    ts, td = toks_frag(col)
    hs, hd = hash60_frag("t", "t")
    return f"transform({ts}, t -> {hs})", f"list_transform({td}, t -> {hd})"


def simhash_from_hashes_frag(th_col: str = "th") -> tuple[str, str]:
    """60-bit SimHash over a pre-computed hash-array column: bit b is set
    when more than half the tokens have bit b set.

    Takes a *column* (not an inline expression) on purpose: with the md5
    array inlined, neither engine CSEs it and the md5 work runs 32× —
    measured 6× slower at sf0.1."""
    bits_s, bits_d = [], []
    for b in range(SIMHASH_BITS):
        w = 1 << b
        bits_s.append(
            f"(case when 2 * size(filter({th_col}, h -> (shiftright(h, {b}) & 1) = 1))"
            f" > size({th_col}) then {w}L else 0L end)"
        )
        bits_d.append(
            f"(case when 2 * len(list_filter({th_col}, h -> ((h >> {b}) & 1) = 1))"
            f" > len({th_col}) then {w} else 0 end)"
        )
    return "(" + " + ".join(bits_s) + ")", "(" + " + ".join(bits_d) + ")"


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 8, limit: int = 20
) -> DataFrame:
    """Near-dup candidate pairs by SimHash 15-bit banding + hamming verify.

    Candidates = pairs sharing ≥1 of the 4 signature bands (pigeonhole:
    guarantees recall for hamming ≤ 3; documented trade for ≤ 8), then
    bit_count(simhash_a XOR simhash_b) ≤ max_hamming, top ``limit`` by
    (hamming, doc_a, doc_b). Banding keeps it one shuffle keyed by band
    value; the 32,768-value band keyspace holds buckets to ~N/32768 so
    the within-bucket self-join stays near-linear in N (the candidate-
    linearity property test pins this)."""
    th_s, _ = token_hashes_frag(text_col)
    # explode + codegen'd sums (same rationale as with_minhash): per bit,
    # majority test 2*sum(bit) > n; HOF filter×60 measured ~4× slower
    ex = df.selectExpr(f"`{id_col}` AS doc", f"explode({th_s}) AS h")
    counted = ex.groupBy("doc").agg(
        F.expr("count(1) AS n"),
        *(F.expr(f"sum(shiftright(h, {b}) & 1) AS c_{b}") for b in range(SIMHASH_BITS)),
    )
    sh_expr = " + ".join(
        f"(case when 2 * c_{b} > n then {1 << b}L else 0L end)"
        for b in range(SIMHASH_BITS)
    )
    sigs = counted.selectExpr("doc", f"({sh_expr}) AS sh")
    # empty/whitespace-only docs explode to zero rows and would vanish
    # from the groupBy; the oracle assigns them sh=0 (no bit has a
    # majority over zero tokens) — re-attach them so parity holds.
    all_ids = df.selectExpr(f"`{id_col}` AS doc")
    # no persist: since the bucket-group candidate shape (below) the
    # signature frame feeds exactly one consumer
    bands = all_ids.join(sigs, "doc", "left").selectExpr(
        "doc",
        "coalesce(sh, 0) AS sh",
    ).selectExpr(
        "doc",
        "sh",
        "posexplode(array("
        + ", ".join(
            f"(shiftright(sh, {SIMHASH_BAND_BITS * j}) & {SIMHASH_BAND_MASK})"
            for j in range(SIMHASH_BANDS)
        )
        + ")) AS (band_id, band_val)",
    )
    # bucket-group pair generation (r16, the minhash_lsh_pairs shape):
    # one groupBy computes the band subtree once where the self-join
    # scanned it per side; per-bucket pairs explode from the grouped
    # list (~N/32768 docs per bucket, near-linear as before)
    cand = bucket_pairs(
        bands, ["band_id", "band_val"], "doc", ("doc_a", "doc_b"), payload=("sh", "sa", "sb")
    )
    return (
        cand.selectExpr("doc_a", "doc_b", "bit_count(sa ^ sb) AS hamming")
        .where(f"hamming <= {max_hamming}")
        .orderBy("hamming", "doc_a", "doc_b")
        .limit(limit)
    )


def simhash_oracle(
    table: str, id_col: str, text_col: str, max_hamming: int = 8, limit: int = 20
) -> str:
    """DuckDB twin of simhash_pairs. Like the Spark side, it folds all
    rows of one id into one document: the concatenated multiset of
    their token hashes."""
    _, th_d = token_hashes_frag(text_col)
    _, sh_d = simhash_from_hashes_frag("th")
    bands_d = ", ".join(
        f"((sh >> {SIMHASH_BAND_BITS * j}) & {SIMHASH_BAND_MASK})"
        for j in range(SIMHASH_BANDS)
    )
    return f"""
WITH hashed AS MATERIALIZED (
  SELECT {id_col} AS doc, flatten(list({th_d})) AS th FROM {table} GROUP BY {id_col}
), docs AS MATERIALIZED (
  SELECT doc, {sh_d} AS sh FROM hashed
), bands AS (
  SELECT doc, sh, g.band_id, [{bands_d}][g.band_id + 1] AS band_val
  FROM docs, (SELECT unnest(range(0, {SIMHASH_BANDS})) AS band_id) g
), cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b, a.sh AS sa, b.sh AS sb
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc < b.doc
)
SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
ORDER BY hamming, doc_a, doc_b LIMIT {limit}
"""


# ---- n-gram Jaccard (exact, candidate-pruned) -----------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    max_df_frac: float = 1.0,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    Plan: explode distinct shingles → self-join on shingle (shuffle keyed
    by shingle = inverted index) → per-pair intersection counts → join
    set sizes → Jaccard. Never materializes the O(n²) pair space; pairs
    with zero shared shingles never exist.

    ``max_df_frac`` is the stop-shingle cap (standard skew control):
    shingle hashes appearing in more than ``max_df_frac`` of all docs are
    dropped *before* the self-join — a shingle in d docs contributes
    O(d²) join pairs, so boilerplate trigrams dominate the stage at
    scale. The cap changes intersection counts (Jaccard becomes a
    restricted-universe estimate), so the DuckDB oracle applies the
    identical cap from the same constant; 1.0 = exact (no cap, no extra
    count job)."""
    stok, _ = toks_frag(text_col)
    hs, _ = hash32_frag("s", "s")
    # join on 32-bit shingle hashes, not strings: the inverted-index
    # shuffle carries (doc:int64, h:int64) instead of 20+-byte strings —
    # measured ~2× on the join stage. Cross-doc hash collisions inflate
    # intersections by ~n²/2³³ (negligible); the oracle hashes
    # identically so parity is exact.
    ex = (
        df.withColumn("__toks", F.expr(stok))
        .select(
            F.col(id_col).alias("doc"),
            F.explode(F.expr(shingles_from_tokens_frag("__toks"))).alias("s"),
        )
        .select("doc", F.expr(hs).alias("h"))
    )
    ex = tracked_persist(ex)  # consumed 3× (sizes + both join sides)
    sizes = ex.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    # only hashes present in ≥2 docs can produce a pair — pre-filtering
    # shrinks the self-join input from |all shingles| to |shared shingles|
    # (usually a tiny fraction), turning the expensive stage into one
    # count-shuffle + a small join. Measured ~2× at sf0.1.
    counts = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    if max_df_frac < 1.0:
        # the doc-count threshold is a 1-row aggregate broadcast onto the
        # per-shingle counts — NOT an eager .count() (that would be its
        # own driver-blocking job per builder call); ceil matches the
        # oracle's CEIL exactly because both operate on exact integers.
        ndocs = df.agg(F.count(F.lit(1)).alias("__ndocs"))
        counts = counts.join(F.broadcast(ndocs)).filter(
            F.col("df") <= F.ceil(max_df_frac * F.col("__ndocs"))
        )
    shared = counts.filter(F.col("df") >= 2).select("h")
    ex2 = ex.join(shared, "h")
    # NOTE (r16): the bucket-group pair rewrite that paid off for the
    # banded LSH family (minhash/simhash/fuzzy/embedding) measured
    # WORSE here at 10x scale (20.4 s vs 14.5 s, perturbed scale
    # probe) — ngram's pair multiset is far denser (every shared
    # shingle hash contributes pairs that only feed a COUNT), and the
    # self-join's streamed partial aggregation beats materializing
    # per-hash doc lists. The join shape stays.
    inter = (
        ex2.alias("a")
        .join(ex2.alias("b"), on=[F.col("a.h") == F.col("b.h"), F.col("a.doc") < F.col("b.doc")])
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn("jaccard", F.expr("cast(c as double) / cast(na + nb - c as double)"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def ngram_jaccard_oracle(
    table: str, id_col: str, text_col: str, threshold: float = 0.5, max_df_frac: float = 1.0
) -> str:
    _, shd = shingles_frag(text_col)
    _, hd = hash32_frag("s", "s")
    if max_df_frac < 1.0:
        # CAST AS DOUBLE is load-bearing: DuckDB parses the bare literal
        # as DECIMAL (0.05 * 500 = exactly 25 → CEIL 25) while Spark does
        # double math (25.000000000000004 → CEIL 26). Both must take the
        # double path or the cap boundary diverges by one.
        cap_join = f"""JOIN (
    SELECT h FROM ex GROUP BY h
    HAVING COUNT(*) <= CEIL(CAST({max_df_frac} AS DOUBLE) * (SELECT COUNT(*) FROM {table}))
  ) cap ON cap.h = a.h"""
    else:
        cap_join = ""
    return f"""
WITH exs AS (
  SELECT {id_col} AS doc, unnest({shd}) AS s FROM {table}
), ex AS MATERIALIZED (
  SELECT doc, {hd} AS h FROM exs
), sizes AS (
  SELECT doc, COUNT(*) AS n FROM ex GROUP BY doc
), inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS c
  FROM ex a JOIN ex b ON a.h = b.h AND a.doc < b.doc
  {cap_join}
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) AS jaccard
FROM inter JOIN sizes x ON x.doc = doc_a JOIN sizes y ON y.doc = doc_b
WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= {threshold}
ORDER BY doc_a, doc_b
"""


# ---- exact dedup ----------------------------------------------------------


def exact_dedup_stats(df: DataFrame, id_col: str, fingerprint_col) -> DataFrame:
    """Exact dedup by content fingerprint: per-key keeper (min id) + dup
    count, aggregated to corpus stats. One shuffle on the fingerprint."""
    per_key = df.groupBy(fingerprint_col.alias("fp")).agg(
        F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("copies")
    )
    return per_key.agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(F.col("copies") - 1).alias("n_dropped"),
        F.max("copies").alias("max_copies"),
    )


# ---- near-dup clustering (connected components) ---------------------------


#: edge-count cutoff below which the transitive closure folds on the
#: driver (union-find) instead of iterating distributed rounds — the
#: hybrid discipline the versioned-table pruning uses (driver-side
#: below a checkpoint, index-DataFrame above): each distributed round
#: costs 2 Spark jobs (checkpoint + convergence check), which at a
#: bounded candidate-pair count (LSH top-k, capped buckets) is pure
#: job-launch overhead on a graph that fits one driver list. 100k
#: edges ≈ a few MB — the same order Spark itself collects for a
#: broadcast side. Above the cutoff the distributed loop runs
#: unchanged (a 100 TB corpus's pair list is unbounded).
CC_DRIVER_CUTOFF = 100_000


def connected_components(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    max_iter: int = 20,
    driver_cutoff: int = CC_DRIVER_CUTOFF,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: every doc in
    a pair gets the MIN doc id reachable through any chain of pairs as
    its cluster representative — the transitive "keep one per cluster"
    a real dedup pipeline needs (per-pair drop of the higher id, as in
    training_pipeline, under-merges chains a-b, b-c).

    Physical strategy: iterative min-label propagation. labels(id, lab)
    starts as id; each round joins labels across the symmetric edge list
    and takes the per-node min of (own label, neighbor labels); stops
    when a round changes nothing. Rounds = graph diameter, and near-dup
    graphs are piles of tiny cliques (diameter ~2-3); each round is one
    shuffle join + one aggregate, all Catalyst. Convergence detection is
    fused into that aggregate: the node's previous label rides along as
    a second agg column (its own-label row is unique per id), so the
    per-round check is a limit(1).count() over the already-checkpointed
    in-memory result — no separate join+re-agg job (the r3 shape cost
    ~2 full jobs/round). At larger diameters switch to alternating
    large-star/small-star (Kiveris et al.), same join primitives.

    Raises RuntimeError if ``max_iter`` rounds pass without convergence
    (diameter > max_iter): partial labels are under-merged chains, and
    returning them silently corrupts downstream keep-one-per-cluster
    dedup (round-3 advice).

    Returns (id, cluster) — cluster is the component's min id. Below
    ``driver_cutoff`` edges the closure folds driver-side and the
    result is an unordered LOCAL relation (collect-backed, no
    distributed materialization); above it, a checkpointed distributed
    frame. Same rows either way — callers relying on materialization
    shape should not (r15 advice note).
    """
    # localCheckpoint (eager), not persist: persist caches DATA but the
    # logical plan still carries the full upstream lineage (here: the
    # whole MinHash subtree), so every iteration re-analyzes a plan that
    # grows by one join+agg — measured 16 s for a 3-iteration run at
    # sf0.01. Checkpointing truncates lineage; each round's plan is then
    # just (checkpointed edges ⋈ checkpointed labels). On a cluster,
    # swap for reliable checkpoint(dir) to survive executor loss.
    # symmetrize with ONE scan of pairs: union(pairs, pairs.swapped) reads
    # the pair-generator subtree twice (here: the whole SimHash/MinHash
    # job — measured 2× the generator cost inside this checkpoint);
    # explode(array(fwd, rev)) emits both directions per input row.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint()
    )
    # HYBRID small-graph fast path (r15 optimization): the edge list is
    # already materialized by the checkpoint, so sizing it is one cheap
    # in-memory job; below the cutoff, fold the closure driver-side
    # with union-find (min-root wins, so the root IS the component's
    # min id — byte-identical labels to the propagation loop) instead
    # of paying 2 Spark jobs per round. Measured: the cluster-stats
    # queries spent ~8 jobs/1.5 s per call in propagation rounds over
    # a <=200-edge graph.
    if edges.count() <= driver_cutoff:
        parent: dict = {}

        def _find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edges.collect():
            a, b = row["src"], row["dst"]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = _find(a), _find(b)
            if ra != rb:
                # attach the LARGER root under the smaller: the root
                # of every tree is its component's min id throughout
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        id_type = edges.schema["src"].dataType
        out_schema = _st.StructType(
            [
                _st.StructField("id", id_type),
                _st.StructField("cluster", id_type),
            ]
        )
        rows = [(n, _find(n)) for n in parent]
        return pairs.sparkSession.createDataFrame(rows, out_schema)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lab", F.col("id"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        # min over: own label + labels of all neighbors; the own row is
        # tagged so the aggregate can emit (new min, previous label) in
        # one pass — labels only ever decrease, so lab < prev anywhere
        # means not converged.
        neighbor = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .select(F.col("src").alias("id"), "lab", F.lit(False).alias("own"))
        )
        merged = (
            labels.withColumn("own", F.lit(True))
            .unionByName(neighbor)
            .groupBy("id")
            .agg(
                F.min("lab").alias("lab"),
                F.min(F.when(F.col("own"), F.col("lab"))).alias("prev"),
            )
            .localCheckpoint()
        )
        changed = merged.filter(F.col("lab") < F.col("prev")).limit(1).count()
        labels = merged.select("id", "lab")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter or use "
            "large-star/small-star — partial labels would under-merge."
        )
    return labels.select("id", F.col("lab").alias("cluster"))


def neardup_cluster_stats(
    pairs: DataFrame, a_col: str, b_col: str, max_iter: int = 20
) -> DataFrame:
    """Per-cluster stats over connected_components: one row per cluster
    (rep = min id, size, and the kept/dropped split a dedup pass would
    apply). Output BIGINT-only, deterministic order."""
    comp = connected_components(pairs, a_col, b_col, max_iter)
    return (
        comp.groupBy(F.col("cluster").alias("cluster_rep"))
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.sum((F.col("id") != F.col("cluster")).cast("bigint")).alias("n_dropped"),
        )
        .orderBy("cluster_rep")
    )


def closure_cte(pairs_sql: str) -> str:
    """Transitive-closure CTE chain (DuckDB recursive CTE ending in
    ``comp(id, cluster)`` — cluster = min reachable id). ONE fragment
    feeding every cluster-consuming oracle (iron rule 7); ``pairs_sql``
    must yield columns (doc_a, doc_b)."""
    return f"""
WITH RECURSIVE pair_list AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({pairs_sql})
), edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pair_list
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pair_list
), walk(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id
), comp AS (
  SELECT id, MIN(lab) AS cluster FROM walk GROUP BY id
)"""


def neardup_cluster_oracle(pairs_sql: str) -> str:
    """DuckDB twin: transitive closure via recursive CTE (min reachable
    id per node), same per-cluster stats. ``pairs_sql`` must yield
    columns (doc_a, doc_b)."""
    return f"""
{closure_cte(pairs_sql)}
SELECT cluster AS cluster_rep,
       COUNT(*) AS cluster_size,
       CAST(SUM(CASE WHEN id <> cluster THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM comp GROUP BY cluster ORDER BY cluster
"""


#: leakage-safe split percentages (train / val; rest = test) — shared by
#: both dialects so the bucket boundaries can never drift apart.
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10
SPLIT_SALT = "sp1"


def cluster_safe_split_stats(
    docs: DataFrame,
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    id_col: str = "doc_id",
    train_pct: int = SPLIT_TRAIN_PCT,
    val_pct: int = SPLIT_VAL_PCT,
    salt: str = SPLIT_SALT,
) -> DataFrame:
    """Leakage-safe train/val/test split: every document is assigned a
    split by hashing its near-dup CLUSTER representative (connected-
    component min id; singletons are their own rep), so near-duplicate
    documents can never straddle train and test — the contamination a
    naive per-doc hash split bakes into an eval set. This is the
    group-aware split discipline of published dedup pipelines (e.g.
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2021, which dedups train-vs-test by the same cluster logic).

    Physical plan: the component labels cover ONLY docs that appear in
    some pair, so comp is often small — but NOT bounded: at web-crawl
    dup rates (30-50% of docs in published pipelines) comp is
    O(corpus), so the join strategy is deliberately left to the
    planner. No broadcast hint is forced: AQE converts the join to a
    broadcast-hash join at runtime when comp's measured shuffle size
    is under the threshold (the common case), and degrades to a
    shuffled join on doc id when it isn't — a forced hint would build
    comp as a driver-fed broadcast relation regardless of size and
    OOM at 100x with no AQE escape. rep → md5-bucket → split is
    map-side codegen. One aggregate on 3 groups. No window anywhere.
    Leakage-freedom is by construction (split is a function of rep
    alone); n_clusters per split sums to the corpus total because a
    cluster lands in exactly one split.

    Output: (split, n_docs, n_clusters, n_grouped_docs) — grouped =
    docs whose rep differs from their own id (pair-connected docs)."""
    comp = connected_components(pairs, a_col, b_col)
    assigned = (
        docs.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select("id", F.coalesce("cluster", F.col("id")).alias("rep"))
    )
    hs, _ = hash32_frag(f"concat('{salt}', cast(rep as string))", "")
    bucket = F.expr(hs) % 100
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        assigned.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("rep").alias("n_clusters"),
            F.sum((F.col("id") != F.col("rep")).cast("bigint")).alias(
                "n_grouped_docs"
            ),
        )
        .orderBy("split")
    )


#: padded-magnitude width for cluster_keep_best's argmax encoding —
#: wide enough for any int64 magnitude (19 digits), so no score or id
#: can overflow the fixed-width decimal and silently corrupt the
#: ordering (lpad TRUNCATES an overlong number — the failure would be
#: a wrong winner, not an error). The key is
#: ``sign || lpad(score magnitude) || sign || lpad(id magnitude)``
#: (40 chars), covering the FULL SIGNED int64 range of both fields —
#: see :func:`keep_best_key_frag` for the overflow-free mappings.
#: MIN(key) picks the max-score, then min-id row with a single
#: associative aggregate in BOTH dialects (DuckDB's arg_max rejects
#: composite sort values, and a per-cluster window would sort a
#: web-scale boilerplate cluster through one task — padded-min keeps
#: the whole argmax map-side).
KEEP_BEST_PAD = 19
_KEEP_BEST_CAP = 2**63 - 1  # int64 max


def keep_best_key_frag(score_sql: str, id_sql: str) -> str:
    """The argmax-encoding fragment (identical text in Spark SQL and
    DuckDB — concat/lpad/cast/case agree): MIN() of it over a cluster
    yields 'keep the highest score, break ties toward the lowest id',
    valid over the FULL SIGNED int64 range of both score and id.

    Score: bucket '0' = non-negative (beats '1' = negative), magnitude
    ``cap - s`` (descending-in-s) for s >= 0 and ``(-1) - s`` for
    s < 0 — the latter maps [int64min, -1] onto [0, int64max] without
    the ``cap - s`` overflow that used to force clamping negatives to
    0 (every negative-score doc tied and "best" degenerated to lowest
    id). Id: bucket '0' = negative (sorts before non-negative, as
    integers do), magnitude ``(i + cap) + 1`` for i < 0 (overflow-free
    incl. int64min) and ``i`` for i >= 0 — ascending, so MIN breaks
    ties toward the lowest id. Inverses in :func:`_keep_best_decode`.

    Both inputs are inlined VERBATIM multiple times — pass simple
    column references (Catalyst does not CSE inlined subexpressions;
    stage computed scores as a column first)."""
    s = f"cast({score_sql} as bigint)"
    i = f"cast({id_sql} as bigint)"
    return (
        f"concat("
        f"case when {s} >= 0 then concat('0', "
        f"lpad(cast({_KEEP_BEST_CAP} - {s} as string), {KEEP_BEST_PAD}, '0'))"
        f" else concat('1', "
        f"lpad(cast((-1) - {s} as string), {KEEP_BEST_PAD}, '0')) end, "
        f"case when {i} >= 0 then concat('1', "
        f"lpad(cast({i} as string), {KEEP_BEST_PAD}, '0'))"
        f" else concat('0', "
        f"lpad(cast(({i} + {_KEEP_BEST_CAP}) + 1 as string),"
        f" {KEEP_BEST_PAD}, '0')) end)"
    )


def _keep_best_decode(key_sql: str) -> tuple[str, str]:
    """Inverse of :func:`keep_best_key_frag`: ``(score_sql, id_sql)``
    decoding the winning key back to the kept row's score and id
    (same overflow-free arithmetic, run on ONE row per cluster)."""
    p = KEEP_BEST_PAD
    smag = f"cast(substring({key_sql}, 2, {p}) as bigint)"
    imag = f"cast(substring({key_sql}, {p + 3}, {p}) as bigint)"
    score = (
        f"case when substring({key_sql}, 1, 1) = '0' "
        f"then {_KEEP_BEST_CAP} - {smag} else (-1) - {smag} end"
    )
    ident = (
        f"case when substring({key_sql}, {p + 2}, 1) = '1' "
        f"then {imag} else ({imag} - {_KEEP_BEST_CAP}) - 1 end"
    )
    return score, ident


def cluster_keep_best_stats(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_sql: str = "length(text)",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Canonical-document selection per near-dup cluster — the KEEP
    step published pipelines (RefinedWeb, FineWeb) run after
    clustering: from each connected component keep exactly ONE
    representative, the document maximizing ``score_sql`` (default:
    longest text; ties break toward the lowest id), drop the rest.
    Singletons (docs in no pair) keep themselves.

    Physical plan: component labels join onto the corpus (strategy
    left to AQE — comp is O(paired docs) and unbounded at web-crawl
    dup rates, the cluster_safe_split lesson), then ONE partial-
    aggregable groupBy(rep) computes size, total score and the argmax
    via MIN of the padded key (see :func:`keep_best_key_frag`) — no
    per-cluster window, so a million-doc boilerplate cluster combines
    map-side instead of sorting through one task. A second tiny
    groupBy rolls clusters up by size.

    ``score_sql`` may be any int64 expression — the encoding covers
    the FULL SIGNED range of both score and id (see
    :func:`keep_best_key_frag`; negatives used to clamp to 0, which
    degenerated every negative-score cluster's "best" to lowest id).
    Output: one row per cluster_size with cluster count, kept/dropped
    score mass and keep-id bounds — BIGINT-only, deterministic
    order."""
    comp = connected_components(pairs, a_col, b_col)
    key = keep_best_key_frag("__score", "id")
    assigned = (
        docs.selectExpr(
            f"{id_col} AS id", f"cast({score_sql} as bigint) AS __score"
        )
        .join(comp, "id", "left")
        .select(
            "id", "__score", F.coalesce("cluster", F.col("id")).alias("rep")
        )
    )
    dec_score, dec_id = _keep_best_decode("__key")
    per = assigned.groupBy("rep").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min(F.expr(key)).alias("__key"),
        F.sum("__score").alias("__total"),
    ).select(
        "cluster_size",
        F.expr(dec_score).alias("kept_score"),
        F.expr(dec_id).alias("keep_id"),
        F.col("__total"),
    )
    return (
        per.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("kept_score").alias("sum_kept_score"),
            F.sum(F.col("__total") - F.col("kept_score")).alias(
                "sum_dropped_score"
            ),
            F.min("keep_id").alias("min_keep_id"),
            F.max("keep_id").alias("max_keep_id"),
        )
        .orderBy("cluster_size")
    )


def cluster_keep_best_oracle(
    pairs_sql: str,
    table: str = "documents",
    id_col: str = "doc_id",
    score_sql: str = "length(text)",
) -> str:
    """DuckDB twin — same closure CTE, but the argmax is derived
    INDEPENDENTLY of :func:`keep_best_key_frag`: MAX(score) per
    cluster, then MIN(id) among the max-score rows via a self-join.
    A bug in the shared key encoding cannot hide from the gate (the
    fuzzy_code_match_d3 oracle-independence discipline); fragment
    parity itself is pinned by tests/test_properties.py."""
    return f"""
{closure_cte(pairs_sql)}, assigned AS (
  SELECT d.{id_col} AS id, CAST({score_sql} AS BIGINT) AS score,
         COALESCE(c.cluster, d.{id_col}) AS rep
  FROM {table} d LEFT JOIN comp c ON d.{id_col} = c.id
), per AS (
  SELECT rep, COUNT(*) AS cluster_size,
         MAX(score) AS kept_score,
         SUM(score) AS total
  FROM assigned
  GROUP BY rep
), win AS (
  SELECT p.rep, p.cluster_size, p.kept_score, p.total,
         MIN(a.id) AS keep_id
  FROM per p JOIN assigned a
    ON a.rep = p.rep AND a.score = p.kept_score
  GROUP BY 1, 2, 3, 4
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(kept_score) AS BIGINT) AS sum_kept_score,
       CAST(SUM(total - kept_score) AS BIGINT) AS sum_dropped_score,
       CAST(MIN(keep_id) AS BIGINT) AS min_keep_id,
       CAST(MAX(keep_id) AS BIGINT) AS max_keep_id
FROM win GROUP BY 1 ORDER BY 1
"""


def cluster_safe_split_oracle(
    pairs_sql: str,
    table: str = "documents",
    id_col: str = "doc_id",
    train_pct: int = SPLIT_TRAIN_PCT,
    val_pct: int = SPLIT_VAL_PCT,
    salt: str = SPLIT_SALT,
) -> str:
    """DuckDB twin — same closure CTE, same md5 bucket and boundaries."""
    _, hd = hash32_frag("", f"'{salt}' || CAST(rep AS VARCHAR)")
    return f"""
{closure_cte(pairs_sql)}, assigned AS (
  SELECT d.{id_col} AS id, COALESCE(c.cluster, d.{id_col}) AS rep
  FROM {table} d LEFT JOIN comp c ON d.{id_col} = c.id
), bucketed AS (
  SELECT id, rep,
         CASE WHEN {hd} % 100 < {train_pct} THEN 'train'
              WHEN {hd} % 100 < {train_pct + val_pct} THEN 'val'
              ELSE 'test' END AS split
  FROM assigned
)
SELECT split,
       COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters,
       CAST(SUM(CASE WHEN id <> rep THEN 1 ELSE 0 END) AS BIGINT)
           AS n_grouped_docs
FROM bucketed GROUP BY split ORDER BY split
"""


# ---- benchmark decontamination --------------------------------------------


def decontamination_stats(
    df: DataFrame,
    probe_mod: int = 97,
    k: int = SHINGLE_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    stream_col: str = "lang",
) -> DataFrame:
    """Benchmark decontamination (standard pre-training hygiene): a doc
    is contaminated when it shares any k-token shingle with the probe
    set (here: ``id % probe_mod == 0`` stands in for the benchmark
    corpus). Output per stream: corpus doc count + contaminated count.

    Physical plan at scale: the probe side is tiny by construction
    (benchmarks are MBs against a 100 TB corpus), so its distinct
    shingle-hash set broadcasts; the corpus explodes shingle hashes and
    LEFT SEMI joins against the broadcast — one pass over the corpus,
    no corpus-side shuffle for the join itself, then a per-doc distinct
    and a small aggregate."""
    stok, _ = toks_frag(text_col)
    hs, _ = hash32_frag("s", "s")
    # persist: the tokenized+shingled projection feeds the probe branch,
    # the corpus explode, AND the per-stream totals — without it the
    # tokenize/shingle subtree (the expensive part) runs once per
    # consumer. At 100 TB prefer DISK-backed storage or a staged
    # intermediate table; the shingle arrays dominate the cached size.
    staged = tracked_persist(
        df.select(
            stream_col,
            F.col(id_col).alias("doc"),
            F.expr(stok).alias("__toks"),
        ).withColumn("__sh", F.expr(shingles_from_tokens_frag("__toks", k)))
    )
    probe_hashes = (
        staged.filter(F.col("doc") % probe_mod == 0)
        .select(F.explode("__sh").alias("s"))
        .select(F.expr(hs).alias("h"))
        .distinct()
    )
    corpus = staged.filter(F.col("doc") % probe_mod != 0)
    corpus_hashes = corpus.select(
        stream_col, "doc", F.explode("__sh").alias("s")
    ).select(stream_col, "doc", F.expr(hs).alias("h"))
    contaminated = (
        corpus_hashes.join(F.broadcast(probe_hashes), "h", "left_semi")
        .select(stream_col, "doc")
        .distinct()
        .groupBy(stream_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    totals = corpus.groupBy(stream_col).agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        totals.join(contaminated, stream_col, "left")
        .select(
            stream_col,
            "n_docs",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        )
        .orderBy(stream_col)
    )


def decontamination_oracle(
    table: str = "documents",
    probe_mod: int = 97,
    k: int = SHINGLE_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    stream_col: str = "lang",
) -> str:
    """DuckDB twin of decontamination_stats — identical shingles/hashes."""
    _, shd = shingles_frag(text_col, k)
    _, hd = hash32_frag("s", "s")
    return f"""
WITH staged AS MATERIALIZED (
  SELECT {stream_col}, {id_col} AS doc, {shd} AS sh FROM {table}
), probe AS MATERIALIZED (
  SELECT DISTINCT {hd} AS h
  FROM (SELECT unnest(sh) AS s FROM staged WHERE doc % {probe_mod} = 0)
), corpus AS (
  SELECT {stream_col}, doc, sh FROM staged WHERE doc % {probe_mod} <> 0
), contaminated AS (
  SELECT {stream_col}, COUNT(*) AS n_contaminated FROM (
    SELECT DISTINCT {stream_col}, doc
    FROM (SELECT {stream_col}, doc, {hd} AS h
          FROM (SELECT {stream_col}, doc, unnest(sh) AS s FROM corpus))
    WHERE h IN (SELECT h FROM probe)
  ) GROUP BY {stream_col}
), totals AS (
  SELECT {stream_col}, COUNT(*) AS n_docs FROM corpus GROUP BY {stream_col}
)
SELECT t.{stream_col}, t.n_docs,
       CAST(COALESCE(c.n_contaminated, 0) AS BIGINT) AS n_contaminated
FROM totals t LEFT JOIN contaminated c USING ({stream_col})
ORDER BY t.{stream_col}
"""


# ---- line-level dedup (RefinedWeb/CCNet-style boilerplate scrub) ----------

#: a trimmed line appearing in >= this many DISTINCT documents is
#: boilerplate (nav bars, cookie banners, footers) and is removed from
#: every document. Shared by both dialects.
LINE_MIN_DOCS = 3


def line_dedup_stats(
    docs: DataFrame,
    min_docs: int = LINE_MIN_DOCS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document line deduplication (the RefinedWeb / CCNet
    boilerplate scrub): lines whose trimmed form appears in >=
    ``min_docs`` distinct documents are removed from all of them; each
    document is reassembled in original line order. Returns per-doc
    (n_lines, n_removed, cleaned_md5) — the md5 stands in for the
    cleaned text so the gate output stays scalar.

    Scale plan (one corpus scan, two shuffles):
      1. posexplode lines (map-side; position preserved for reassembly) —
         persisted through the tracked registry because the frame feeds
         TWO consumers (dup-table aggregation + flag join); without it
         the scan+explode subtree executes twice (the multi-consumer
         rule; at 100 TB prefer DISK_ONLY or a materialized
         intermediate table over re-reading the corpus);
      2. duplicate-line table = groupBy(trimmed line) -> distinct-doc
         count >= min_docs — one shuffle on the line key, partial
         aggregation map-side;
      3. LEFT join the flag back (AQE chooses broadcast when the dup
         table is small — it usually is; no forced broadcast, same
         policy as training_pipeline's drop list) and ONE groupBy(doc)
         computes totals, removed count, and the reassembled md5
         together — the naive anti-join formulation needs a second
         corpus scan for totals.
    Whitespace-only lines are never dedup candidates (kept verbatim).
    The reference has no line dedup; beyond-reference surface like the
    rest of this module."""
    lines = tracked_persist(
        docs.select(
            F.col(id_col).alias("doc"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        ).withColumn("k", F.trim("line"))
    )
    dup = (
        lines.filter(F.col("k") != "")
        .groupBy("k")
        .agg(F.count_distinct("doc").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("k", F.lit(True).alias("is_dup"))
    )
    flagged = lines.join(dup, "k", "left")
    kept_struct = F.when(
        F.col("is_dup").isNull(), F.struct(F.col("pos"), F.col("line"))
    )
    return (
        flagged.groupBy(F.col("doc").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("long")
            .alias("n_removed"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["line"],
                    ),
                    "\n",
                )
            ).alias("cleaned_md5"),
        )
        .orderBy(id_col)
    )


def line_dedup_oracle(
    src: str,
    min_docs: int = LINE_MIN_DOCS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of line_dedup_stats — same trim/threshold constants,
    same md5-of-reassembly (string_agg ORDER BY position == the Spark
    side's array_sort by position; string_agg skips NULL kept-markers
    exactly as collect_list skips NULL structs)."""
    return f"""
WITH lines AS (
  SELECT {id_col} AS doc, pos, l[pos] AS line, TRIM(l[pos]) AS k
  FROM (SELECT {id_col}, l, generate_subscripts(l, 1) AS pos
        FROM (SELECT {id_col}, string_split({text_col}, chr(10)) AS l
              FROM {src}))
), dup AS (
  SELECT k FROM lines WHERE k <> ''
  GROUP BY k HAVING COUNT(DISTINCT doc) >= {min_docs}
), flagged AS (
  SELECT l.doc, l.pos, l.line, (d.k IS NOT NULL) AS is_dup
  FROM lines l LEFT JOIN dup d ON l.k = d.k
)
SELECT doc AS {id_col},
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       MD5(COALESCE(
           string_agg(CASE WHEN NOT is_dup THEN line END, chr(10) ORDER BY pos),
           '')) AS cleaned_md5
FROM flagged GROUP BY doc ORDER BY doc
"""


def duplicated_span_stats(
    docs: DataFrame,
    k: int = SPAN_K,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    stream_col: str = "lang",
) -> DataFrame:
    """Cross-document duplicated-SPAN statistics — the substring-dedup
    shape of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better") at token-shingle granularity: a token
    position is *duplicated* when it is covered by any k-token shingle
    whose fingerprint occurs in >= ``min_docs`` distinct documents.
    Where line_dedup catches whole boilerplate LINES and ngram_jaccard
    scores whole DOCUMENTS, this measures exactly which token spans are
    shared — the quantity a span-removal pass would delete. Per stream:
    n_docs, total_tokens, n_docs_flagged, dup_tokens.

    Scale plan (one corpus scan, shuffles on shingle hash then doc):
      1. ONE staged frame (stream, doc, n, start-pos, shingle hash32) —
         posexplode of the NON-distinct shingle array (every start
         matters for coverage; hashes shuffled, never strings). It
         feeds THREE consumers (dup table, span join, per-doc totals),
         so it persists through the tracked registry.
      2. dup table = groupBy(hash) count_distinct(doc) >= min_docs —
         map-side partial agg, one shuffle.
      3. join starts->dup, then per-doc interval UNION via one window
         (lag over start positions; every interval is k long, clamped
         at doc end, so union length has the closed form
         ``max(e - max(p, prev_p + k) + 1, 0)`` summed in doc order —
         no per-token explode, no O(n*k) marking). The window key is
         the DOC — maximally fine, shards with the data.
    Both engines' least()/greatest() IGNORE SQL NULLs (they return the
    other operand), so the first-row case rides on coalesce(lag+k, p),
    never on least(NULL, ...) — the one dialect trap in this query."""
    from pyspark.sql import Window

    from amadeus_spark.cache import tracked_persist

    ts, _ = toks_frag(text_col)
    hs, _ = hash32_frag("s", "")
    shingle_arr = (
        f"transform(sequence(1, greatest(size(t) - {k - 1}, 1)),"
        f" i -> concat_ws(' ', slice(t, i, {k})))"
    )
    starts = tracked_persist(
        docs.select(
            stream_col,
            F.col(id_col).alias("doc"),
            F.expr(ts).alias("t"),
        )
        .select(
            stream_col,
            "doc",
            F.size("t").alias("n"),
            F.posexplode(F.expr(shingle_arr)).alias("p0", "s"),
        )
        .select(
            stream_col,
            "doc",
            "n",
            (F.col("p0") + 1).alias("p"),
            F.expr(hs).alias("h"),
        )
    )
    dup = (
        starts.groupBy("h")
        .agg(F.count_distinct("doc").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    w = Window.partitionBy("doc").orderBy("p")
    spans = (
        starts.join(dup, "h")
        .withColumn("e", F.least(F.col("p") + (k - 1), F.col("n")))
        .withColumn("prev_p1", F.lag("p").over(w) + k)
        .withColumn(
            "contrib",
            F.greatest(
                F.col("e")
                - F.greatest(F.col("p"), F.coalesce("prev_p1", "p"))
                + 1,
                F.lit(0),
            ),
        )
    )
    per_doc = spans.groupBy(stream_col, "doc").agg(
        F.sum("contrib").cast("long").alias("dup_tokens")
    )
    doc_totals = starts.groupBy(stream_col, "doc").agg(
        F.first("n").alias("n_tokens")
    )
    return (
        doc_totals.join(per_doc, [stream_col, "doc"], "left")
        .groupBy(stream_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.count("dup_tokens").alias("n_docs_flagged"),
            F.coalesce(F.sum("dup_tokens"), F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
        )
        .orderBy(stream_col)
    )


def duplicated_span_oracle(
    src: str,
    k: int = SPAN_K,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    stream_col: str = "lang",
) -> str:
    """DuckDB twin of duplicated_span_stats — same tokenizer, shingle,
    hash32 and interval-union constants (iron rule 7: one builder)."""
    _, td = toks_frag(text_col)
    _, hd = hash32_frag("", "sl[p0]")
    return f"""
WITH base AS (
  SELECT {stream_col}, {id_col} AS doc, {td} AS t FROM {src}
), sh AS (
  SELECT {stream_col}, doc, len(t) AS n, sl, generate_subscripts(sl, 1) AS p0
  FROM (
    SELECT {stream_col}, doc, t,
           list_transform(range(1, greatest(len(t) - {k - 1}, 1) + 1),
                          i -> array_to_string(list_slice(t, i, i + {k - 1}), ' ')) AS sl
    FROM base)
), starts AS (
  SELECT {stream_col}, doc, n, p0 AS p, {hd} AS h FROM sh
), dup AS (
  SELECT h FROM starts GROUP BY h HAVING COUNT(DISTINCT doc) >= {min_docs}
), spans AS (
  SELECT {stream_col}, doc, n, p,
         least(p + {k - 1}, n) AS e,
         lag(p) OVER (PARTITION BY doc ORDER BY p) + {k} AS prev_p1
  FROM starts WHERE h IN (SELECT h FROM dup)
), per_doc AS (
  SELECT {stream_col}, doc,
         SUM(greatest(e - greatest(p, coalesce(prev_p1, p)) + 1, 0)) AS dup_tokens
  FROM spans GROUP BY {stream_col}, doc
), doc_totals AS (
  SELECT {stream_col}, doc, any_value(n) AS n_tokens
  FROM starts GROUP BY {stream_col}, doc
)
SELECT t.{stream_col},
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(t.n_tokens) AS BIGINT) AS total_tokens,
       CAST(COUNT(p.dup_tokens) AS BIGINT) AS n_docs_flagged,
       CAST(COALESCE(SUM(p.dup_tokens), 0) AS BIGINT) AS dup_tokens
FROM doc_totals t
LEFT JOIN per_doc p ON t.doc = p.doc AND t.{stream_col} = p.{stream_col}
GROUP BY t.{stream_col} ORDER BY t.{stream_col}
"""


def connected_components_star(
    pairs: DataFrame, a_col: str, b_col: str, max_iter: int = 30
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the scale path :func:`connected_components` names: min-label
    propagation needs diameter-many rounds, these star operations
    contract any graph in O(log²), so a 1000-hop chain (adversarial
    but possible in near-dup graphs: overlapping shingle chains)
    converges in ~10 rounds instead of 1000.

      large-star: every node links its LARGER neighbors to the minimum
      of its neighborhood (incl. itself);
      small-star: every node links its smaller-or-self closure to the
      neighborhood minimum.

    Both are one groupBy(min) + one join per application — the same
    shuffle primitives as a round of label propagation, but the
    component minimum teleports along star centers instead of crawling
    one hop per round. Convergence = edge multiset fixpoint, detected
    by a (count, xor-of-hashes) signature computed in the same action
    that materializes the round (a 128-bit-equivalent compare; a false
    positive needs a 64-bit hash-sum collision). Returns (id, cluster)
    with cluster = component min id, identical to
    :func:`connected_components` (property-tested)."""

    def _sig(e: DataFrame) -> tuple[int, int]:
        # bit_xor, not sum: xxhash64 spans the full long range and a
        # sum overflows under ANSI mode; xor is closed over long.
        row = e.agg(
            F.count(F.lit(1)),
            F.expr("bit_xor(xxhash64(src, dst))"),
        ).first()
        return (row[0], row[1] or 0)

    def _large_star(e: DataFrame) -> DataFrame:
        sym = (
            e.select(
                F.explode(
                    F.array(
                        F.struct(F.col("src"), F.col("dst")),
                        F.struct(
                            F.col("dst").alias("src"), F.col("src").alias("dst")
                        ),
                    )
                ).alias("p")
            )
            .select("p.src", "p.dst")
            .filter(F.col("src") != F.col("dst"))
        )
        mins = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        return (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        canon = e.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        ).filter(F.col("src") != F.col("dst"))
        mins = canon.groupBy("src").agg(F.min("dst").alias("m"))
        linked = (
            canon.join(mins, "src")
            .filter(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        centers = mins.select(F.col("src"), F.col("m").alias("dst"))
        return linked.unionByName(centers).distinct()

    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    sig = _sig(edges)
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        new_sig = _sig(edges)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    # at the fixpoint every edge is (member, root); roots label themselves
    labels = edges.select(F.col("src").alias("id"), F.col("dst").alias("lab"))
    return (
        nodes.join(labels, "id", "left")
        .select("id", F.coalesce("lab", F.col("id")).alias("cluster"))
    )


def span_dedup_rewrite(
    docs: DataFrame,
    k: int = SPAN_K,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated-span REMOVAL — the rewrite step of
    Lee et al. 2021's ExactSubstr dedup at token-shingle granularity:
    where duplicated_span_stats measures the duplicated token mass,
    this actually deletes every token covered by a k-shingle occurring
    in >= ``min_docs`` documents and re-emits the cleaned document (as
    (n_tokens, n_removed, md5-of-rewrite) per doc — the md5 keeps the
    gate output compact while pinning the exact rewritten string, the
    line_dedup discipline).

    Physical plan (one corpus scan, everything keyed by doc or hash):
      1. staged token arrays; two explodes off the SAME persisted base
         (token rows + shingle starts — ~2 rows per token, never more);
      2. dup-shingle table: one groupBy(hash) count_distinct;
      3. coverage WITHOUT an interval join: duplicate starts (carrying
         end = min(p+k-1, n)) union token rows, ONE running-max window
         per doc ordered by (pos, starts-first) — a token is covered
         iff the max end among starts at-or-before it reaches its
         position. O(rows log rows/doc), no O(n·k) marking, no range
         join;
      4. rebuild: collect kept (pos, tok) per doc, sort, join — bounded
         by document length, the same reassembly shape as line_dedup.
    The window and the rebuild key on DOC — maximally fine, shards with
    the data."""
    from pyspark.sql import Window

    from amadeus_spark.cache import tracked_persist

    ts, _ = toks_frag(text_col)
    hs, _ = hash32_frag("s", "")
    shingle_arr = (
        f"transform(sequence(1, greatest(size(t) - {k - 1}, 1)),"
        f" i -> concat_ws(' ', slice(t, i, {k})))"
    )
    base = tracked_persist(
        docs.select(F.col(id_col).alias("doc"), F.expr(ts).alias("t"))
    )
    starts = tracked_persist(
        base.select(
            "doc",
            F.size("t").alias("n"),
            F.posexplode(F.expr(shingle_arr)).alias("p0", "s"),
        ).select("doc", "n", (F.col("p0") + 1).alias("p"), F.expr(hs).alias("h"))
    )
    dup = (
        starts.groupBy("h")
        .agg(F.count_distinct("doc").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    return _span_rewrite_core(base, starts, dup, k, id_col)


def _span_rewrite_core(
    base: DataFrame, starts: DataFrame, dup: DataFrame, k: int, id_col: str
) -> DataFrame:
    """Coverage + rewrite shared by span_dedup_rewrite (internal dup
    table) and span_decontaminate (probe-set dup table): running-max
    window marks covered tokens, kept tokens reassemble per doc.
    ``base`` = (doc, t); ``starts`` = (doc, n, p, h); ``dup`` = (h)."""
    from pyspark.sql import Window

    dup_starts = starts.join(dup, "h").select(
        "doc",
        F.col("p").alias("pos"),
        F.lit(1).alias("is_start"),
        F.least(F.col("p") + (k - 1), F.col("n")).alias("e"),
        F.lit(None).cast("string").alias("tok"),
    )
    tok_rows = base.select(
        "doc", F.posexplode("t").alias("p0", "tok")
    ).select(
        "doc",
        (F.col("p0") + 1).alias("pos"),
        F.lit(0).alias("is_start"),
        F.lit(None).cast("bigint").alias("e"),
        "tok",
    )
    w = (
        Window.partitionBy("doc")
        .orderBy(F.asc("pos"), F.desc("is_start"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flags = (
        dup_starts.unionByName(tok_rows)
        .withColumn("cend", F.max("e").over(w))
        .filter(F.col("is_start") == 0)
        .withColumn(
            "is_dup", F.coalesce(F.col("cend") >= F.col("pos"), F.lit(False))
        )
    )
    kept = F.when(~F.col("is_dup"), F.struct(F.col("pos"), F.col("tok")))
    return (
        flags.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("is_dup").cast("bigint")).alias("n_removed"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(kept)), lambda x: x.tok
                    ),
                )
            ).alias("cleaned_md5"),
        )
        .select(
            F.col("doc").alias(id_col), "n_tokens", "n_removed", "cleaned_md5"
        )
        .orderBy(id_col)
    )


def span_decontaminate(
    docs: DataFrame,
    probe_mod: int = 97,
    k: int = SHINGLE_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level benchmark decontamination — the surgical variant of
    decontamination_stats: instead of FLAGGING a corpus doc that shares
    a k-shingle with the benchmark probe set, delete exactly the
    overlapping token spans and keep the rest (the eval-overlap n-gram
    scrub of published pre-training pipelines; dropping whole documents
    over one boilerplate sentence wastes data). Probe set =
    ``id % probe_mod == 0`` (the decontamination_stats convention);
    output = per CORPUS doc (n_tokens, n_removed, cleaned_md5).

    Scale: the probe shingle-hash set is tiny and BROADCASTS into the
    starts join — the corpus never shuffles for the probe lookup; the
    rewrite inherits _span_rewrite_core's one-window-per-doc shape."""
    from amadeus_spark.cache import tracked_persist

    ts, _ = toks_frag(text_col)
    hs, _ = hash32_frag("s", "")
    shingle_arr = (
        f"transform(sequence(1, greatest(size(t) - {k - 1}, 1)),"
        f" i -> concat_ws(' ', slice(t, i, {k})))"
    )
    staged = tracked_persist(
        docs.select(F.col(id_col).alias("doc"), F.expr(ts).alias("t"))
    )
    base = staged.filter(F.col("doc") % probe_mod != 0)
    probe_dup = (
        staged.filter(F.col("doc") % probe_mod == 0)
        .select(F.explode(F.expr(shingle_arr)).alias("s"))
        .select(F.expr(hs).alias("h"))
        .distinct()
    )
    starts = base.select(
        "doc",
        F.size("t").alias("n"),
        F.posexplode(F.expr(shingle_arr)).alias("p0", "s"),
    ).select("doc", "n", (F.col("p0") + 1).alias("p"), F.expr(hs).alias("h"))
    return _span_rewrite_core(base, starts, F.broadcast(probe_dup), k, id_col)


def span_dedup_rewrite_oracle(
    src: str,
    k: int = SPAN_K,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of span_dedup_rewrite — same tokenizer/shingle/hash
    constants as duplicated_span_oracle, same starts-first running-max
    coverage, same md5-of-reassembly (string_agg ORDER BY pos skips the
    NULL kept-markers exactly as collect_list skips NULL structs)."""
    _, td = toks_frag(text_col)
    _, hd = hash32_frag("", "sl[p0]")
    return f"""
WITH base AS (
  SELECT {id_col} AS doc, {td} AS t FROM {src}
), sh AS (
  SELECT doc, len(t) AS n, sl, generate_subscripts(sl, 1) AS p0
  FROM (
    SELECT doc, t,
           list_transform(range(1, greatest(len(t) - {k - 1}, 1) + 1),
                          i -> array_to_string(list_slice(t, i, i + {k - 1}), ' ')) AS sl
    FROM base)
), starts AS (
  SELECT doc, n, p0 AS p, {hd} AS h FROM sh
), dup AS (
  SELECT h FROM starts GROUP BY h HAVING COUNT(DISTINCT doc) >= {min_docs}
), marks AS (
  SELECT doc, p AS pos, 1 AS is_start, least(p + {k - 1}, n) AS e,
         CAST(NULL AS VARCHAR) AS tok
  FROM starts WHERE h IN (SELECT h FROM dup)
  UNION ALL
  SELECT doc, p0 AS pos, 0, CAST(NULL AS BIGINT), t[p0]
  FROM (SELECT doc, t, generate_subscripts(t, 1) AS p0 FROM base)
), flags AS (
  SELECT doc, pos, tok,
         COALESCE(MAX(e) OVER (
             PARTITION BY doc ORDER BY pos, is_start DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) >= pos, FALSE) AS is_dup, is_start
  FROM marks
)
SELECT doc AS {id_col},
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       MD5(COALESCE(
           string_agg(CASE WHEN NOT is_dup THEN tok END, ' ' ORDER BY pos),
           '')) AS cleaned_md5
FROM flags WHERE is_start = 0 GROUP BY doc ORDER BY doc
"""


def span_decontaminate_oracle(
    src: str,
    probe_mod: int = 97,
    k: int = SHINGLE_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of span_decontaminate — same probe convention, same
    coverage window and reassembly as span_dedup_rewrite_oracle."""
    _, td = toks_frag(text_col)
    _, hd = hash32_frag("", "sl[p0]")
    return f"""
WITH base0 AS (
  SELECT {id_col} AS doc, {td} AS t FROM {src}
), sh0 AS (
  SELECT doc, t,
         list_transform(range(1, greatest(len(t) - {k - 1}, 1) + 1),
                        i -> array_to_string(list_slice(t, i, i + {k - 1}), ' ')) AS sl
  FROM base0
), probe AS (
  SELECT DISTINCT {hd} AS h
  FROM (SELECT sl, generate_subscripts(sl, 1) AS p0 FROM sh0
        WHERE doc % {probe_mod} = 0)
), corpus AS (
  SELECT doc, t, sl FROM sh0 WHERE doc % {probe_mod} <> 0
), starts AS (
  SELECT doc, n, p0 AS p, {hd} AS h
  FROM (SELECT doc, len(t) AS n, sl, generate_subscripts(sl, 1) AS p0
        FROM corpus)
), marks AS (
  SELECT doc, p AS pos, 1 AS is_start, least(p + {k - 1}, n) AS e,
         CAST(NULL AS VARCHAR) AS tok
  FROM starts WHERE h IN (SELECT h FROM probe)
  UNION ALL
  SELECT doc, p0 AS pos, 0, CAST(NULL AS BIGINT), t[p0]
  FROM (SELECT doc, t, generate_subscripts(t, 1) AS p0 FROM corpus)
), flags AS (
  SELECT doc, pos, tok,
         COALESCE(MAX(e) OVER (
             PARTITION BY doc ORDER BY pos, is_start DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) >= pos, FALSE) AS is_dup, is_start
  FROM marks
)
SELECT doc AS {id_col},
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       MD5(COALESCE(
           string_agg(CASE WHEN NOT is_dup THEN tok END, ' ' ORDER BY pos),
           '')) AS cleaned_md5
FROM flags WHERE is_start = 0 GROUP BY doc ORDER BY doc
"""


def snapshot_diff_stats(
    snap_a: DataFrame,
    snap_b: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stream_col: str = "lang",
) -> DataFrame:
    """Corpus SNAPSHOT DIFF — the bookkeeping op of an incremental
    pipeline: compare two corpus versions by id + content fingerprint
    and report per stream how many docs were added, removed, changed
    (same id, different content) and unchanged. What a refresh run
    reads to decide how much re-dedup/re-index work it owes.

    One full-outer join on id (ids co-partition; fingerprints are
    md5-prefix ints computed map-side — the portable hash32, so the
    DuckDB twin is identical), then a conditional aggregate. The stream
    column rides from whichever side exists."""
    ha, _ = hash32_frag(text_col, "")
    a = snap_a.select(
        F.col(id_col).alias("id"),
        F.col(stream_col).alias("sa"),
        F.expr(ha).alias("fa"),
    )
    b = snap_b.select(
        F.col(id_col).alias("id"),
        F.col(stream_col).alias("sb"),
        F.expr(ha).alias("fb"),
    )
    j = a.join(b, "id", "full_outer").select(
        F.coalesce("sb", "sa").alias(stream_col),
        F.when(F.col("fa").isNull(), "added")
        .when(F.col("fb").isNull(), "removed")
        .when(F.col("fa") != F.col("fb"), "changed")
        .otherwise("unchanged")
        .alias("st"),
    )
    return (
        j.groupBy(stream_col)
        .agg(
            F.sum((F.col("st") == "added").cast("bigint")).alias("n_added"),
            F.sum((F.col("st") == "removed").cast("bigint")).alias("n_removed"),
            F.sum((F.col("st") == "changed").cast("bigint")).alias("n_changed"),
            F.sum((F.col("st") == "unchanged").cast("bigint")).alias("n_unchanged"),
        )
        .orderBy(stream_col)
    )


#: snapshot-B synthesis constants for the gate query — one constant set
#: drives BOTH dialects (iron rule 7): delete ids % 13 == 0, rewrite
#: text for ids % 17 == 0, add fresh ids (+1e6) for ids % 29 == 0.
SNAP_DEL_MOD = 13
SNAP_CHG_MOD = 17
SNAP_ADD_MOD = 29
SNAP_ADD_OFFSET = 1_000_000


def snapshot_b_frame(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """Deterministic synthetic next snapshot of the documents table."""
    survivors = docs.filter(F.col(id_col) % SNAP_DEL_MOD != 0).withColumn(
        text_col,
        F.when(
            F.col(id_col) % SNAP_CHG_MOD == 0,
            F.concat(F.col(text_col), F.lit(" v2")),
        ).otherwise(F.col(text_col)),
    )
    added = docs.filter(F.col(id_col) % SNAP_ADD_MOD == 0).withColumn(
        id_col, F.col(id_col) + SNAP_ADD_OFFSET
    )
    return survivors.unionByName(added)


def snapshot_diff_oracle(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    stream_col: str = "lang",
) -> str:
    """DuckDB twin — same snapshot-B synthesis constants, same hash32
    fingerprints, same status classification."""
    _, hd = hash32_frag("", text_col)
    return f"""
WITH snap_b AS (
  SELECT {id_col},
         CASE WHEN {id_col} % {SNAP_CHG_MOD} = 0
              THEN {text_col} || ' v2' ELSE {text_col} END AS {text_col},
         {stream_col}
  FROM {table} WHERE {id_col} % {SNAP_DEL_MOD} <> 0
  UNION ALL
  SELECT {id_col} + {SNAP_ADD_OFFSET}, {text_col}, {stream_col}
  FROM {table} WHERE {id_col} % {SNAP_ADD_MOD} = 0
), a AS (
  SELECT {id_col} AS id, {stream_col} AS sa, {hd} AS fa FROM {table}
), b AS (
  SELECT {id_col} AS id, {stream_col} AS sb, {hd} AS fb FROM snap_b
), j AS (
  SELECT COALESCE(sb, sa) AS {stream_col},
         CASE WHEN fa IS NULL THEN 'added'
              WHEN fb IS NULL THEN 'removed'
              WHEN fa <> fb THEN 'changed'
              ELSE 'unchanged' END AS st
  FROM a FULL OUTER JOIN b USING (id)
)
SELECT {stream_col},
       CAST(SUM(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       CAST(SUM(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN st = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(SUM(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
FROM j GROUP BY {stream_col} ORDER BY {stream_col}
"""
