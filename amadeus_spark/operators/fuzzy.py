"""Fuzzy entity-matching join via deletion-neighborhood blocking — the
SymSpell blocking idea (public: Garbe's symmetric-delete algorithm;
same family as q-gram blocking in entity-resolution literature) turned
into a Spark equi-join.

Beyond the reference (no fuzzy/string-similarity join exists there);
joins the repo's join family next to as-of/range/salted.

Why this shape at 100 TB: a naive fuzzy join is O(n²) levenshtein
calls — unrunnable. Generating each string's ≤1-deletion variants
(L+1 strings of length ≥ L-1) turns candidate generation into a plain
equi-join on variant equality (keyed by the variant's 64-bit hash —
collisions only add verify-pruned candidates): two strings within edit distance 1
ALWAYS share a variant (delete the edited position from both; the
identity variant catches pure insert/delete pairs), and sharing a
variant bounds distance ≤ 2 — so one cheap ``levenshtein ≤ d`` check
verifies exact distance on the candidate set only. Cost: O(n·L)
exploded rows, one shuffle keyed by variant, bucket sizes bounded by
real near-duplicate cluster sizes (same posture as the MinHash band
join in dedup.py).

Distances 1 and 2 are offered, each at the deletion depth where
blocking is PROVABLY complete (SymSpell's symmetric-delete scheme):
take an optimal alignment of A and B with ≤ d edits; deleting from A
every substituted/deleted char (≤ d of them) and from B every
substituted/inserted char (≤ d) leaves the same string — so any pair
within distance d shares a ≤ d-deletion variant. d=1 costs O(n·L)
exploded rows; d=2 costs O(n·L²) (the C(L,2) two-deletion variants) —
quadratic in STRING LENGTH, never in row count; there is still no
all-pairs stage anywhere. Budgets deeper than the generated
neighborhood depth are refused rather than silently under-recalled.

Both engines implement ``levenshtein`` with unit edit costs and the
same substring semantics, so the whole pipeline is hash-exact under
the gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amadeus_spark.functions.dedup import bucket_pairs

#: keep the verified pairs — banded ``levenshtein(a, b, d)`` returns -1
#: past ``d``. The always-false nondeterministic clause pins the filter
#: above the codegen'd Project (trap 2 in :func:`fuzzy_self_join`).
_KEEP_VERIFIED = "dist >= 0 OR monotonically_increasing_id() < 0"


def deletion_variants_frag(col_sql: str, dialect: str, depth: int = 1) -> str:
    """Array of {identity} ∪ {≤ depth-deletion variants} of a string
    column, as a SQL fragment in either dialect (same formula, array
    lexicon differs). depth ∈ {1, 2}; depth 2 appends the C(L,2)
    two-deletion variants enumerated as ordered position pairs i < j
    (each distinct deletion pair exactly once — rebuilding D2 as
    "deletions of D1" would emit every variant twice)."""
    if depth not in (1, 2):
        raise ValueError("depth 1 or 2 only")
    if dialect == "spark":
        d1 = (
            f"concat(array({col_sql}),"
            f" transform(sequence(1, length({col_sql})),"
            f" i -> concat(substring({col_sql}, 1, i - 1),"
            f" substring({col_sql}, i + 1))))"
        )
        if depth == 1:
            return d1
        # guard: Spark's sequence(a, b) runs DESCENDING when a > b, so
        # a length-1 string would enumerate phantom positions unguarded
        d2 = (
            f"if(length({col_sql}) < 2, array(),"
            f" flatten(transform(sequence(1, length({col_sql}) - 1),"
            f" i -> transform(sequence(i + 1, length({col_sql})),"
            f" j -> concat(substring({col_sql}, 1, i - 1),"
            f" substring({col_sql}, i + 1, j - i - 1),"
            f" substring({col_sql}, j + 1))))))"
        )
        return f"concat({d1}, {d2})"
    d1 = (
        f"list_prepend({col_sql},"
        f" list_transform(range(1, length({col_sql}) + 1),"
        f" i -> substr({col_sql}, 1, i - 1) || substr({col_sql}, i + 1)))"
    )
    if depth == 1:
        return d1
    # DuckDB's range(a, b) is empty when a >= b — no length guard needed
    d2 = (
        f"flatten(list_transform(range(1, length({col_sql})),"
        f" i -> list_transform(range(i + 1, length({col_sql}) + 1),"
        f" j -> substr({col_sql}, 1, i - 1)"
        f" || substr({col_sql}, i + 1, j - i - 1)"
        f" || substr({col_sql}, j + 1))))"
    )
    return f"list_concat({d1}, {d2})"


def _signature_hashes(
    df: DataFrame, key_col: str, name_col: str, sigs_sql: str, k: str = "k", n: str = "n"
) -> DataFrame:
    """(k, n, hv): one row per DISTINCT blocking signature of each name
    (``sigs_sql``: deletion variants or segments over ``name_col``).

    array_distinct BEFORE the explode: deleting any character of a run
    of equal characters yields the SAME variant (a name with a 7-zero
    run has 7 identical variants), and duplicate signatures multiply
    join output quadratically per pair (7×7 rows that the later
    distinct collapses — measured 19× on customer names). The SET is
    what blocking needs; duplicates carry nothing. Blocking joins on
    the 64-bit HASH of the signature, not the string: the shuffle moves
    8-byte keys instead of ~L-char strings (measured 13% whole-query at
    sf0.1); equal signatures hash equal so recall is untouched, and a
    hash collision only adds a candidate pair that the levenshtein
    verify prunes — correctness is unaffected."""
    return df.selectExpr(
        f"`{key_col}` AS {k}", f"`{name_col}` AS {n}", f"explode(array_distinct({sigs_sql})) AS s"
    ).selectExpr(k, n, "xxhash64(s) AS hv")


#: deepest edit budget served by segment blocking: the probe fan-out
#: grows O(d²·(2d+1)) per string and the verify band widens with d —
#: past this, candidate volume swamps any blocking win.
MAX_SEGMENT_DIST = 6


def segment_signatures_frag(col_sql: str, side: str, max_dist: int) -> str:
    """PassJoin-style segment signatures as one Spark SQL fragment
    (public scheme: Li/Deng/Feng 2011 partition-based signatures; the
    q-gram/length-band family of entity-resolution blocking).

    A string of length L is partitioned into ``d+1`` even contiguous
    SEGMENTS. Pigeonhole: ≤ d edits can touch at most d segments, so
    any pair within edit distance d shares one segment VERBATIM, its
    position shifted by at most d (insertions/deletions before it).
    That turns blocking into an equi-join between

    - ``side='index'``: the string's own d+1 segments, tagged
      ``L:i:text`` — O(d) signatures per string;
    - ``side='probe'``: every substring that could equal segment i of
      a partner of length L2 ∈ [L−d, L+d] (the LENGTH BAND), start
      position within ±d of that segment's home — O(d²·(2d+1))
      signatures per string, INDEPENDENT of string length.

    This is the long-string complement to deletion neighborhoods:
    deletions cost O(L^d) variants (fine for short codes/names, ruinous
    at L≈100); segments cost O(d²) regardless of L but need segment
    entropy — a corpus whose strings share long constant prefixes
    degrades to big candidate buckets (verify still prunes correctly;
    it's a cost cliff, not a recall cliff)."""
    if side not in ("index", "probe"):
        raise ValueError("side must be 'index' or 'probe'")
    if not 1 <= max_dist <= MAX_SEGMENT_DIST:
        raise ValueError(f"max_dist must be in 1..{MAX_SEGMENT_DIST}")
    d, m, c = max_dist, max_dist + 1, col_sql
    if side == "index":
        return (
            f"transform(sequence(0, {d}), i ->"
            f" concat(cast(length({c}) as string), ':',"
            f" cast(i as string), ':',"
            f" substring({c}, ((i * length({c})) div {m}) + 1,"
            f" (((i + 1) * length({c})) div {m})"
            f" - ((i * length({c})) div {m}))))"
        )
    # probe: lo/hi are the clipped ±d start-position window of segment
    # i in a partner of length L2 (sequence() DESCENDS when lo > hi in
    # Spark, hence the explicit empty-array guard)
    lo = f"greatest(1, ((i * L2) div {m}) + 1 - {d})"
    hi = (
        f"least(length({c}) - ((((i + 1) * L2) div {m})"
        f" - ((i * L2) div {m})) + 1, ((i * L2) div {m}) + 1 + {d})"
    )
    return (
        f"flatten(transform("
        f"sequence(greatest(0, length({c}) - {d}), length({c}) + {d}),"
        f" L2 -> flatten(transform(sequence(0, {d}), i ->"
        f" if({hi} < {lo}, array(),"
        f" transform(sequence({lo}, {hi}), p ->"
        f" concat(cast(L2 as string), ':', cast(i as string), ':',"
        f" substring({c}, p, (((i + 1) * L2) div {m})"
        f" - ((i * L2) div {m})))))))))"
    )


def _probe_signatures(
    base: DataFrame, max_dist: int, allowed_lens: DataFrame | None = None
) -> DataFrame:
    """Probe-side segment signatures (k, n, s) — O(d²·(2d+1)) rows per
    string, generated via EXPLODE stages + a codegen'd projection, NOT
    the nested-HOF fragment: Catalyst evaluates HOF lambda bodies
    interpreted per ELEMENT (measured 2.5x whole-query on this very
    pipeline). The HOF fragment in :func:`segment_signatures_frag`
    remains the executable SPEC; a test pins this pipeline equal to it.
    Duplicate signatures per row are rare for entropic strings (only
    repeated substrings in-window) and the candidate .distinct()
    collapses their effect, so no per-row dedup shuffle is spent.

    ``allowed_lens`` (a 1-column ``L2`` frame of the partner lengths
    that actually occur) prunes the length band against the REALIZED
    length histogram right after the first explode — for a
    fixed-length corpus that drops 2d/(2d+1) of all probe rows before
    any further work. The frame is bounded by the number of distinct
    string lengths, so the forced broadcast is safe."""
    d, m = max_dist, max_dist + 1
    staged = base.select(
        "k",
        "n",
        F.explode(
            F.expr(
                f"sequence(greatest(0, length(n) - {d}), length(n) + {d})"
            )
        ).alias("L2"),
    )
    if allowed_lens is not None:
        staged = staged.join(F.broadcast(allowed_lens), "L2", "semi")
    return (
        staged
        .select(
            "k", "n", "L2", F.explode(F.expr(f"sequence(0, {d})")).alias("i")
        )
        .select(
            "k",
            "n",
            "L2",
            "i",
            F.expr(f"((i * L2) div {m}) + 1").alias("st"),
            F.expr(
                f"(((i + 1) * L2) div {m}) - ((i * L2) div {m})"
            ).alias("ln"),
        )
        .filter(
            F.expr(
                f"least(length(n) - ln + 1, st + {d}) >= greatest(1, st - {d})"
            )
        )
        .select(
            "k",
            "n",
            "L2",
            "i",
            "ln",
            F.explode(
                F.expr(
                    f"sequence(greatest(1, st - {d}),"
                    f" least(length(n) - ln + 1, st + {d}))"
                )
            ).alias("p"),
        )
        .select(
            "k",
            "n",
            F.expr(
                "concat(cast(L2 as string), ':', cast(i as string), ':',"
                " substring(n, p, ln))"
            ).alias("s"),
        )
    )


#: skew ratio (top bucket / uniform expectation) above which a corpus
#: is considered segment-degenerate; 8 separates the measured regimes
#: by orders of magnitude (entropic corpora sit near 1-3, a constant-
#: prefix corpus reaches ~n/segments).
SEGMENT_SKEW_RATIO = 8.0


def segment_skew_probe(
    df: DataFrame,
    name_col: str,
    max_dist: int,
    sample: int = 4096,
) -> dict:
    """Cheap diagnostic for the long-shared-prefix COST CLIFF of
    segment blocking (module docstring: segments need ENTROPY — a
    corpus whose strings share long constant prefixes funnels most
    rows into a few signature buckets, and candidate volume grows with
    the SQUARE of bucket size; recall is never affected, only cost).

    One bounded job over a deterministic ``sample`` of rows (hash-
    ordered TakeOrdered, so the probe is stable run-to-run): build the
    index-side signatures, bucket them, and compare the top bucket to
    the uniform expectation. Returns ``{signatures,
    distinct_signatures, top_bucket, expected_bucket, skew,
    degenerate}`` — ``skew = top_bucket / expected_bucket``,
    ``degenerate = skew > SEGMENT_SKEW_RATIO and top_bucket > 2``.
    A degenerate probe means: shorten max_dist, use deletion blocking
    (d <= 2, length-robust), or strip the constant prefix before
    joining."""
    base = (
        df.select(F.col(name_col).alias("n"))
        .orderBy(F.xxhash64(name_col))
        .limit(sample)
    )
    sigs = base.select(
        F.explode(
            F.array_distinct(
                F.expr(segment_signatures_frag("n", "index", max_dist))
            )
        ).alias("s")
    )
    row = (
        sigs.groupBy("s")
        .count()
        .agg(
            F.sum("count").alias("total"),
            F.count(F.lit(1)).alias("distinct"),
            F.max("count").alias("top"),
        )
        .collect()[0]
    )
    total = row["total"] or 0
    distinct = row["distinct"] or 0
    top = row["top"] or 0
    expected = total / distinct if distinct else 0.0
    skew = (top / expected) if expected else 0.0
    return {
        "signatures": total,
        "distinct_signatures": distinct,
        "top_bucket": top,
        "expected_bucket": expected,
        "skew": skew,
        "degenerate": skew > SEGMENT_SKEW_RATIO and top > 2,
    }


def _warn_if_degenerate(df: DataFrame, name_col: str, max_dist: int):
    """Run :func:`segment_skew_probe` and emit the cost-cliff
    UserWarning when the corpus is segment-degenerate (long shared
    prefixes → few huge candidate buckets — cost, never recall)."""
    stats = segment_skew_probe(df, name_col, max_dist)
    if stats["degenerate"]:
        import warnings

        warnings.warn(
            "segment blocking is degenerate on this corpus: top "
            f"signature bucket holds {stats['top_bucket']} of "
            f"{stats['signatures']} sampled signatures "
            f"({stats['skew']:.1f}x the uniform expectation — "
            f"threshold {SEGMENT_SKEW_RATIO}). Long shared "
            "prefixes funnel rows into few buckets and candidate "
            "volume grows quadratically with bucket size. Consider "
            "max_dist <= 2 (deletion blocking), stripping the "
            "constant prefix, or pre-bucketing by a higher-entropy "
            "key.",
            stacklevel=3,
        )


def fuzzy_self_join_segments(
    df: DataFrame,
    key_col: str,
    name_col: str,
    max_dist: int,
    skew_probe: bool = False,
) -> DataFrame:
    """Segment-blocked fuzzy self-join — same output contract as
    :func:`fuzzy_self_join` ((k1 < k2, n1, n2, dist)), complete for any
    ``max_dist`` ≤ MAX_SEGMENT_DIST by the pigeonhole argument in
    :func:`segment_signatures_frag`. The join is ASYMMETRIC (probe
    substrings vs index segments), so candidates are generated in both
    directions and canonicalized to k1 < k2 before the distinct.

    ``skew_probe=True`` runs :func:`segment_skew_probe` first (one
    bounded job) and emits a UserWarning when the corpus is segment-
    degenerate (long shared prefixes → few huge candidate buckets —
    a cost cliff, never a recall loss). Off by default: the probe is
    an extra job, and the caller who knows the corpus is entropic
    shouldn't pay it."""
    if not 1 <= max_dist <= MAX_SEGMENT_DIST:
        raise ValueError(
            f"max_dist must be in 1..{MAX_SEGMENT_DIST} for segment"
            " blocking"
        )
    if skew_probe:
        _warn_if_degenerate(df, name_col, max_dist)
    from amadeus_spark.cache import tracked_persist

    d, m = max_dist, max_dist + 1
    # one source scan: both sides read the persisted (k, n) frame
    base = tracked_persist(
        df.select(F.col(key_col).alias("k"), F.col(name_col).alias("n"))
    )
    # index side: d+1 short signatures per row — the HOF fragment is
    # fine here (O(d) elements)
    idx = _signature_hashes(
        base, "k", "n", segment_signatures_frag("n", "index", max_dist)
    ).alias("b")
    lens = base.select(F.length("n").alias("L2")).distinct()
    prb = (
        _probe_signatures(base, max_dist, allowed_lens=lens)
        .select("k", "n", F.xxhash64("s").alias("hv"))
        .alias("a")
    )
    cand = (
        prb.join(
            idx,
            (F.col("a.hv") == F.col("b.hv")) & (F.col("a.k") != F.col("b.k")),
        )
        .select(
            F.least("a.k", "b.k").alias("k1"),
            F.greatest("a.k", "b.k").alias("k2"),
            F.when(F.col("a.k") < F.col("b.k"), F.col("a.n"))
            .otherwise(F.col("b.n"))
            .alias("n1"),
            F.when(F.col("a.k") < F.col("b.k"), F.col("b.n"))
            .otherwise(F.col("a.n"))
            .alias("n2"),
        )
        .distinct()
    )
    # banded levenshtein in the codegen'd Project + nondeterministic
    # pin, exactly as fuzzy_self_join (the two measured traps)
    return cand.selectExpr(
        "k1", "k2", "n1", "n2", f"levenshtein(n1, n2, {max_dist}) AS dist"
    ).where(_KEEP_VERIFIED)


def fuzzy_self_join(
    df: DataFrame,
    key_col: str,
    name_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Pairs (k1 < k2) whose names are within ``max_dist``. Returns
    (k1, k2, n1, n2, dist).

    ``max_dist`` ∈ {1, 2} uses d-deletion blocking (COMPLETE for
    distance ≤ d — module docstring has the alignment argument; O(L^d)
    variants per string). ``max_dist`` ∈ [3, MAX_SEGMENT_DIST] routes
    to :func:`fuzzy_self_join_segments` — pigeonhole segment blocking,
    complete for any d at O(d²) signatures per string (deletion depth
    3 would cost O(L³) variants). Budgets beyond MAX_SEGMENT_DIST are
    refused rather than silently under-recalled. d=2 deletion
    candidates are only bounded within distance 4 by the shared
    variant, so the banded ``levenshtein ≤ 2`` verify does
    proportionally more pruning."""
    if 3 <= max_dist <= MAX_SEGMENT_DIST:
        return fuzzy_self_join_segments(df, key_col, name_col, max_dist)
    if max_dist not in (1, 2):
        raise ValueError(
            f"max_dist must be in 1..{MAX_SEGMENT_DIST}: deeper budgets"
            " would need wider blocking (recall would silently drop"
            " otherwise)"
        )
    vars_df = _signature_hashes(
        df, key_col, name_col, deletion_variants_frag(name_col, "spark", depth=max_dist)
    )
    # Bucket-group pair generation instead of a vars⋈vars self-join
    # (r16, the minhash_lsh_pairs shape): the join scanned the variant
    # subtree twice (hence the old persist), shuffled both sides, and
    # still needed the trailing distinct. ONE groupBy(hv) computes the
    # variants once — the persist disappears with the second consumer —
    # and per-bucket pairs explode out of the grouped list (see
    # dedup.bucket_pairs). Two rows of one key share a bucket through a
    # cross-variant hash collision or a duplicate key — the helper's
    # k1 != k2 guard keeps them out, exactly like the old a.k < b.k.
    cand = bucket_pairs(vars_df, ["hv"], "k", ("k1", "k2"), payload=("n", "n1", "n2"))
    # Two measured traps (2.7× combined, sf0.1 customer names):
    # 1. threshold-banded levenshtein(n1, n2, d) early-exits rows far
    #    apart (returns -1) instead of filling the full DP matrix;
    # 2. a plain `.filter(dist <= d)` predicate is DETERMINISTIC, so
    #    Catalyst pushes it THROUGH the distinct into the join
    #    condition, where levenshtein runs INTERPRETED per matched row
    #    (the codegen'd Project evaluates the same call 5× faster).
    #    OR-ing an always-false nondeterministic clause pins the filter
    #    above the Project without changing its result; the plan test
    #    asserts no levenshtein ever appears in a join condition.
    return cand.selectExpr(
        "k1", "k2", "n1", "n2", f"levenshtein(n1, n2, {max_dist}) AS dist"
    ).where(_KEEP_VERIFIED)


def fuzzy_lookup_join_segments(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    left_name: str,
    right_key: str,
    right_name: str,
    max_dist: int,
    skew_probe: bool | None = None,
) -> DataFrame:
    """Cross-table fuzzy lookup via PassJoin segment blocking — the
    d=3..MAX_SEGMENT_DIST complement to :func:`fuzzy_lookup_join`'s
    deletion blocking, same output contract (lk, rk, ln, rn, dist).

    ``skew_probe``: run :func:`segment_skew_probe` on the RIGHT
    (index) side first and warn if it is segment-degenerate. Default
    ``None`` = ON for ``max_dist >= 5`` (probe fan-out is O(d²·(2d+1))
    per left row, so a degenerate index at d=5..6 is the expensive
    regime; the index side is user-supplied dictionaries where long-
    shared-prefix corpora — URLs, file paths — are common), OFF below
    (the probe is a bounded extra job; at small d the cliff is
    shallow). Pass an explicit bool to override either way.

    One-directional completeness (the classic PassJoin shape): for any
    pair within edit distance d, at least one of the RIGHT string's
    d+1 segments is untouched by an optimal alignment and therefore
    appears VERBATIM in the left string, position-shifted by at most
    d — so indexing the right side's segments and probing the left
    side's windowed substrings misses nothing. Probe fan-out is
    O(d²·(2d+1)) per left row independent of string length, pruned
    against the RIGHT side's realized length histogram (bounded
    distinct lengths → safe broadcast). No persist: unlike the
    self-join, each side is scanned exactly once."""
    if not 1 <= max_dist <= MAX_SEGMENT_DIST:
        raise ValueError(
            f"max_dist must be in 1..{MAX_SEGMENT_DIST} for segment"
            " blocking"
        )
    if skew_probe is None:
        skew_probe = max_dist >= 5
    if skew_probe:
        _warn_if_degenerate(right, right_name, max_dist)
    idx = _signature_hashes(
        right, right_key, right_name,
        segment_signatures_frag(right_name, "index", max_dist), "rk", "rn",
    )
    lens = right.select(F.length(right_name).alias("L2")).distinct()
    prb = _probe_signatures(
        left.select(
            F.col(left_key).alias("k"), F.col(left_name).alias("n")
        ),
        max_dist,
        allowed_lens=lens,
    ).select(
        F.col("k").alias("lk"),
        F.col("n").alias("ln"),
        F.xxhash64("s").alias("hv"),
    )
    cand = prb.join(idx, "hv").select("lk", "rk", "ln", "rn").distinct()
    return cand.selectExpr(
        "lk", "rk", "ln", "rn", f"levenshtein(ln, rn, {max_dist}) AS dist"
    ).where(_KEEP_VERIFIED)


def fuzzy_lookup_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    left_name: str,
    right_key: str,
    right_name: str,
    max_dist: int = 1,
) -> DataFrame:
    """Cross-TABLE fuzzy lookup — the classic SymSpell dictionary shape
    (probe table vs corpus/dictionary): every left row matched to the
    right rows whose name is within ``max_dist``. Returns
    (lk, rk, ln, rn, dist).

    Same deletion-neighborhood blocking as :func:`fuzzy_self_join`
    (complete for d <= depth by the same alignment argument — the two
    sides of the alignment don't care which table a string came from),
    same O(n·L^d) explode, one variant equi-join, banded levenshtein
    verify in the codegen'd Project. When the right side is a bounded
    dictionary (the SymSpell case), its exploded variant frame is small
    and AQE broadcasts it — the probe side then never shuffles.
    ``max_dist`` in [3, MAX_SEGMENT_DIST] routes to
    :func:`fuzzy_lookup_join_segments` (PassJoin), mirroring
    :func:`fuzzy_self_join`'s routing."""
    if 3 <= max_dist <= MAX_SEGMENT_DIST:
        return fuzzy_lookup_join_segments(
            left, right, left_key, left_name, right_key, right_name,
            max_dist,
        )
    if max_dist not in (1, 2):
        raise ValueError(
            f"max_dist must be in 1..{MAX_SEGMENT_DIST}: deeper budgets"
            " would need wider blocking (recall would silently drop"
            " otherwise)"
        )
    lvars = _signature_hashes(
        left, left_key, left_name,
        deletion_variants_frag(left_name, "spark", depth=max_dist), "lk", "ln",
    )
    rvars = _signature_hashes(
        right, right_key, right_name,
        deletion_variants_frag(right_name, "spark", depth=max_dist), "rk", "rn",
    )
    cand = lvars.join(rvars, "hv").select("lk", "rk", "ln", "rn").distinct()
    return cand.selectExpr(
        "lk", "rk", "ln", "rn", f"levenshtein(ln, rn, {max_dist}) AS dist"
    ).where(_KEEP_VERIFIED)


def fuzzy_match_stats(
    df: DataFrame,
    key_col: str,
    name_col: str,
    group_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Gate-shaped summary: per group (of the LOWER-keyed side), the
    number of fuzzy pairs and the number of distinct members with at
    least one fuzzy neighbor. All-BIGINT output."""
    pairs = fuzzy_self_join(df, key_col, name_col, max_dist)
    left = df.selectExpr(f"`{key_col}` AS k1", f"`{group_col}` AS grp")
    return (
        pairs.join(left, "k1")
        .groupBy("grp")
        .agg(F.expr("count(1) AS n_pairs"), F.expr("count(DISTINCT k1) AS n_members_matched"))
        .orderBy("grp")
    )


def fuzzy_match_oracle(
    table: str,
    key_col: str,
    name_col: str,
    group_col: str,
    max_dist: int = 1,
) -> str:
    """DuckDB twin of fuzzy_match_stats — identical variant set,
    candidate join, and levenshtein verify. (For an INDEPENDENT check
    that doesn't share the blocking scheme, see the brute-force oracle
    used by the d=2 gate query — feasible because the oracle runs at
    small sf.)"""
    v = deletion_variants_frag(name_col, "duckdb", depth=max_dist)
    return f"""
WITH vars AS (
  SELECT {key_col} AS k, {name_col} AS n, unnest(list_distinct({v})) AS v
  FROM {table}
), cand AS (
  SELECT DISTINCT a.k AS k1, b.k AS k2, a.n AS n1, b.n AS n2
  FROM vars a JOIN vars b ON a.v = b.v AND a.k < b.k
), pairs AS (
  SELECT k1, k2 FROM cand WHERE levenshtein(n1, n2) <= {max_dist}
)
SELECT t.{group_col} AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT p.k1) AS BIGINT) AS n_members_matched
FROM pairs p JOIN {table} t ON p.k1 = t.{key_col}
GROUP BY 1 ORDER BY grp
"""
