"""Similarity search over embedding columns (array<float>).

Two paths, per SURVEY/BASELINE's LLM-pipeline mandate:

- **Brute-force cosine top-k** (baseline): broadcast the (small) query
  set against the full corpus — one scan, broadcast-nested-loop join,
  per-query top-k via window. Exact; the plan is the right one at scale
  *when queries are few* (queries broadcast, corpus never shuffles).
- **Random-hyperplane LSH ANN** (scale path): each vector gets a
  ``n_planes``-bit bucket from the signs of dot products with fixed
  hyperplanes (Charikar SimHash for cosine). Join queries↔corpus on
  equal bucket → candidates shrink ~2^-n_planes; verify with exact
  cosine. One shuffle keyed by bucket id. An IVF refinement would
  replace random planes with k-means centroids; same join shape.

All arithmetic is fixed-order (zip_with/aggregate left-to-right) so the
DuckDB oracle (list_transform/list_reduce, same order) matches
bit-for-bit — dot products are deterministic, not "approximately equal".

Hyperplane constants are generated from a fixed seed and embedded as
literals in BOTH dialects.
"""

from __future__ import annotations

import json
import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from amadeus_spark.cache import tracked_persist
from amadeus_spark.functions.dedup import bands_cte_duck, bucket_pairs

EMB_DIM = 64
N_PLANES = 8
_rng = random.Random(777)
#: fixed random hyperplanes (unit-free; sign test only needs direction)
HYPERPLANES = [
    [round(_rng.gauss(0.0, 1.0), 6) for _ in range(EMB_DIM)] for _ in range(N_PLANES)
]


def dot_frag(a: str, b: str) -> tuple[str, str]:
    """Fixed-order dot product of two float arrays as double."""
    spark = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        f" cast(0.0 as double), (acc, x) -> acc + x)"
    )
    duck = (
        f"list_reduce(list_transform(range(1, len({a}) + 1),"
        f" i -> cast({a}[i] as double) * cast({b}[i] as double)), (acc, x) -> acc + x)"
    )
    return spark, duck


def _plane_literal_spark(plane: list[float]) -> str:
    return "array(" + ", ".join(f"cast({v} as double)" for v in plane) + ")"


def _plane_literal_duck(plane: list[float]) -> str:
    return "[" + ", ".join(f"cast({v} as double)" for v in plane) + "]"


def _bucket_exprs(vec: str, planes: list[list[float]]) -> tuple[str, str]:
    """Sign-bit bucket id over ``planes``: bit j set iff dot(vec, plane_j) >= 0."""
    sparks, ducks = [], []
    for j, plane in enumerate(planes):
        ds_s = (
            f"aggregate(zip_with({vec}, {_plane_literal_spark(plane)},"
            f" (x, y) -> cast(x as double) * y), cast(0.0 as double), (acc, x) -> acc + x)"
        )
        dd_s = (
            f"list_reduce(list_transform(range(1, len({vec}) + 1),"
            f" i -> cast({vec}[i] as double) * ({_plane_literal_duck(plane)})[i]),"
            f" (acc, x) -> acc + x)"
        )
        sparks.append(f"(case when {ds_s} >= 0 then {1 << j} else 0 end)")
        ducks.append(f"(case when {dd_s} >= 0 then {1 << j} else 0 end)")
    return "(" + " + ".join(sparks) + ")", "(" + " + ".join(ducks) + ")"


def bucket_frag(vec: str) -> tuple[str, str]:
    """LSH bucket id over the shared N_PLANES hyperplanes (ann_lsh_topk)."""
    return _bucket_exprs(vec, HYPERPLANES)


#: Banded hyperplane LSH for embedding near-dup detection: ND_BANDS
#: independent bucket tables of ND_BITS sign bits each (OR across bands,
#: the Charikar analog of MinHash banding). Candidate probability for a
#: pair at angle θ is 1-(1-p^ND_BITS)^ND_BANDS with p = 1-θ/π.
#: 8×4 is tuned for the testdata's moderate-cosine regime (the synthetic
#: embeddings contain no true near-dups; max pairwise cosine ≈ 0.51):
#: ~70% candidate recall at cosine 0.3. At corpus scale, size
#: ND_BITS ≈ log2(N / target_bucket_size) to bound buckets and raise
#: ND_BANDS to keep recall at the operating threshold — the knobs move,
#: the plan shape (ids-only equi-join, distinct, exact verify) does not.
ND_BANDS = 8
ND_BITS = 4
_rng_nd = random.Random(778)
ND_PLANES = [
    [[round(_rng_nd.gauss(0.0, 1.0), 6) for _ in range(EMB_DIM)] for _ in range(ND_BITS)]
    for _ in range(ND_BANDS)
]


def band_buckets_frag(vec: str) -> tuple[list[str], list[str]]:
    """Per-band bucket-id expressions (one per ND_BANDS) in both dialects.
    The DuckDB list is the oracle; the Spark list is the executable spec
    that :func:`band_buckets_spark` is pinned equal to (a test compares
    them on the sf0.01 embeddings)."""
    sparks, ducks = [], []
    for band in ND_PLANES:
        s, d = _bucket_exprs(vec, band)
        sparks.append(s)
        ducks.append(d)
    return sparks, ducks


#: ND_PLANES as ONE Spark literal: ``from_json`` over a string constant
#: folds at optimization (the optimized plan carries the parsed array,
#: no per-row parse), and analyzing it costs ~15× less than the 2,048
#: ``cast(v as double)`` literals of the per-plane form. Bit-equal: both
#: round the same decimal text to the nearest double.
_ND_PLANES_SPARK = (
    f"from_json('{json.dumps(ND_PLANES)}', 'array<array<array<double>>>')"
)


def band_buckets_spark(vec: str) -> str:
    """All ND_BANDS bucket ids as one ``array<int>`` expression: one
    ``transform`` over the folded plane table, bit j of a band's id set
    iff dot(vec, plane_j) >= 0 — the values of :func:`band_buckets_frag`
    (same fixed-order dot product)."""
    return (
        f"transform({_ND_PLANES_SPARK}, planes -> aggregate(sequence(0, {ND_BITS - 1}), 0,"
        f" (b, j) -> b + if(aggregate(zip_with({vec}, planes[j], (x, y) -> cast(x as double) * y),"
        f" cast(0.0 as double), (acc, x) -> acc + x) >= 0, shiftleft(1, j), 0)))"
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    ds, _ = dot_frag(vec_col, vec_col)
    return df.withColumn("norm", F.expr(f"sqrt({ds})"))


def cosine_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: (q_id, n_id, cosine) for each query
    id. Broadcast queries × scan corpus; per-query top-k window."""
    base = with_norm(df.select(id_col, vec_col), vec_col)
    q = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("norm").alias("q_norm"),
    )
    c = base.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        F.col("norm").alias("n_norm"),
    )
    ds, _ = dot_frag("q_vec", "n_vec")
    joined = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
        .withColumn("cosine", F.expr(f"{ds} / (q_norm * n_norm)"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "n_id", "cosine")
        .orderBy("q_id", F.desc("cosine"), "n_id")
    )


def cosine_topk_oracle(
    table: str, query_ids: list[int], k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    _, dd_self = dot_frag(vec_col, vec_col)
    _, dd = dot_frag("q_vec", "n_vec")
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH base AS MATERIALIZED (
  SELECT {id_col} AS id, {vec_col} AS vec, sqrt({dd_self}) AS norm
  FROM {table}
), q AS (
  SELECT id AS q_id, vec AS q_vec, norm AS q_norm FROM base WHERE id IN ({ids})
), c AS (
  SELECT id AS n_id, vec AS n_vec, norm AS n_norm FROM base
), scored AS (
  SELECT q_id, n_id, {dd} / (q_norm * n_norm) AS cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY {dd} / (q_norm * n_norm) DESC, n_id) AS rn
  FROM c JOIN q ON q_id <> n_id
)
SELECT q_id, n_id, cosine FROM scored WHERE rn <= {k}
ORDER BY q_id, cosine DESC, n_id
"""


def ann_lsh_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN via random-hyperplane LSH: candidates restricted to the query's
    bucket, then exact cosine top-k within. Returns (q_id, n_id, cosine)."""
    bs, _ = bucket_frag(vec_col)
    base = with_norm(df.select(id_col, vec_col), vec_col).withColumn(
        "bucket", F.expr(bs)
    )
    q = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("norm").alias("q_norm"),
        F.col("bucket").alias("q_bucket"),
    )
    c = base.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        F.col("norm").alias("n_norm"),
        F.col("bucket").alias("n_bucket"),
    )
    ds, _ = dot_frag("q_vec", "n_vec")
    joined = (
        c.join(
            F.broadcast(q),
            (F.col("q_bucket") == F.col("n_bucket")) & (F.col("q_id") != F.col("n_id")),
        )
        .withColumn("cosine", F.expr(f"{ds} / (q_norm * n_norm)"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "n_id", "cosine")
        .orderBy("q_id", F.desc("cosine"), "n_id")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.45,
    id_mod: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family), candidate-
    pruned by banded hyperplane LSH — the same two-stage shape as
    minhash_lsh_pairs, never an all-pairs join.

    Physical plan at scale: project ND_BANDS bucket ids per vector →
    posexplode to (id, band_id, bucket) — ids only, vectors never ride
    the band shuffle → per-bucket self-join emits candidates → distinct
    → join vectors back (shuffle on id) → exact cosine verify. The old
    ``id_a < id_b`` non-equi join planned as BroadcastNestedLoopJoin,
    O(n²) pairs; this is equi-joined and near-linear. A pair is missed
    only when ALL ND_BANDS band buckets differ — probability
    (1-p^ND_BITS)^ND_BANDS, vanishing for true near-dups. The DuckDB
    oracle applies the identical banding so parity stays exact.

    vec_id % id_mod == 0 sampling keeps the sf0.01 oracle cheap."""
    base = tracked_persist(
        df.where(f"`{id_col}` % {id_mod} = 0").selectExpr(
            f"`{id_col}`", f"`{vec_col}`", f"sqrt({dot_frag(vec_col, vec_col)[0]}) AS norm"
        )
    )  # 3 consumers: band stage + both sides of the verify join
    bands = base.selectExpr(
        f"`{id_col}` AS id", f"posexplode({band_buckets_spark(vec_col)}) AS (band_id, bucket)"
    )
    # bucket-group pair generation (r16, the minhash_lsh_pairs shape):
    # the self-join evaluated the interpreted band-projection HOFs on
    # BOTH sides (r15's persist attempt was worse — the cache barrier
    # cost more than it saved; this computes them once with no cache at
    # all), and the skew-guard Window folds into a size() filter on the
    # grouped list before any pair is emitted. Ids only ride the lists —
    # the vector-carrying twin of this rewrite in semantic_dedup_stats
    # measured WORSE and was reverted (r16 negative: collect_list of
    # embeddings + sorted slice costs more than the cell self-join it
    # replaces at sampled-cell scale).
    cand = bucket_pairs(
        bands, ["band_id", "bucket"], "id", ("id_a", "id_b"), max_bucket_size=max_bucket_size
    )
    va = base.selectExpr(f"`{id_col}` AS id_a", f"`{vec_col}` AS va", "norm AS na")
    vb = base.selectExpr(f"`{id_col}` AS id_b", f"`{vec_col}` AS vb", "norm AS nb")
    ds, _ = dot_frag("va", "vb")
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .selectExpr("id_a", "id_b", f"{ds} / (na * nb) AS cosine")
        .where(f"cosine >= {threshold}")
        .orderBy("id_a", "id_b")
    )


def embedding_neardup_oracle(
    table: str,
    threshold: float = 0.45,
    id_mod: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> str:
    """DuckDB twin of embedding_neardup_pairs — identical banding/cap."""
    _, dd_self = dot_frag(vec_col, vec_col)
    _, band_d = band_buckets_frag("vec")
    _, dd = dot_frag("va", "vb")
    bands_cte = bands_cte_duck(band_d, "id", "bucket", "base", max_bucket_size)
    return f"""
WITH base AS MATERIALIZED (
  SELECT {id_col} AS id, {vec_col} AS vec, sqrt({dd_self}) AS norm
  FROM {table} WHERE {id_col} % {id_mod} = 0
), {bands_cte}, cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.id < b.id
), pairs AS (
  SELECT id_a, id_b, va.vec AS va, vb.vec AS vb, va.norm AS na, vb.norm AS nb
  FROM cand JOIN base va ON va.id = cand.id_a JOIN base vb ON vb.id = cand.id_b
)
SELECT id_a, id_b, {dd} / (na * nb) AS cosine
FROM pairs WHERE {dd} / (na * nb) >= {threshold}
ORDER BY id_a, id_b
"""


def _nearest_cells(vecs: "np.ndarray", centroids: "np.ndarray", a: int):
    """(n, a) nearest-centroid indices; stable argsort so equal
    distances break ties by cell index — deterministic across runs."""
    import numpy as np

    # matmul form of squared distance (|v|^2 term dropped — constant per
    # row, can't change the argsort): no (n, k, d) broadcast temp
    d2 = (centroids**2).sum(axis=1)[None, :] - 2.0 * (vecs @ centroids.T)
    return np.argsort(d2, axis=1, kind="stable")[:, :a]


def _fit_cells(
    base: DataFrame, vec_col: str, n_cells: int, seed: int,
    train_rows: int = 4096, iters: int = 8,
) -> "np.ndarray":
    """Routing centroids via driver-side Lloyd k-means on a BOUNDED
    collected sample (``limit(train_rows)`` — a row cap, not a
    fraction, so the collect is O(train_rows*d) at ANY corpus size).
    This is the faiss posture: IVF centroids train on thousands of
    vectors regardless of corpus scale; a distributed fit is a
    multi-pass job that buys a routing structure nothing (measured:
    the pyspark.ml KMeans fit cost ~4 s of tiny-job overhead on
    local[32] for identical recall).

    iters=8: centroids are a *routing* structure, not the answer —
    k-means past a few iterations moves cell boundaries, not recall
    (pinned by test_ivf_recall_vs_bruteforce). Deterministic: seeded
    init, fixed iteration order."""
    import numpy as np

    rows = base.select(vec_col).limit(train_rows).collect()
    x = np.array([np.asarray(r[vec_col], dtype=float) for r in rows])
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(x), size=min(n_cells, len(x)), replace=False)
    c = x[idx].copy()
    if len(c) < n_cells:  # degenerate tiny corpus: pad with jitter
        pad = c[rng.integers(0, len(c), n_cells - len(c))]
        c = np.vstack([c, pad + rng.normal(0, 1e-6, pad.shape)])
    for _ in range(iters):
        d2 = (c**2).sum(axis=1)[None, :] - 2.0 * (x @ c.T)
        assign = d2.argmin(axis=1)
        counts = np.bincount(assign, minlength=n_cells)
        sums = np.zeros_like(c)
        np.add.at(sums, assign, x)
        nz = counts > 0  # empty cell keeps its previous centroid
        c[nz] = sums[nz] / counts[nz, None]
    return c


def _assign_pairs(
    base: DataFrame, id_col: str, vec_col: str,
    centroids: "np.ndarray", n_assign: int,
) -> DataFrame:
    """Map-side (id, cell) multi-assignment: each corpus vector is
    indexed under its ``n_assign`` nearest cells (IVF soft assignment —
    the standard recall knob that works WITHOUT probing more cells: a
    true neighbor sitting just across a Voronoi boundary is still found
    because it is indexed on both sides). Costs n_assign× index rows,
    never an extra shuffle; vectors themselves stay in ``base`` (at
    scale the cell is a partition column and this is the write path)."""
    import numpy as np
    import pandas as pd

    def _go(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack([np.asarray(v, dtype=float) for v in pdf[vec_col]])
            cells = _nearest_cells(vecs, centroids, n_assign)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy().repeat(n_assign),
                    "cell": cells.ravel().astype("int32"),
                }
            )

    return base.select(id_col, vec_col).mapInPandas(
        _go, schema=f"{id_col} long, cell int"
    )


def ivf_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    n_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_rows: int = 4096,
    max_iter: int = 8,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means cells replace random hyperplanes.

    Index build = sampled KMeans fit (:func:`_fit_cells`), then every
    vector is indexed map-side under its ``n_assign`` nearest cells
    (:func:`_assign_pairs` — soft assignment, the recall knob that
    doesn't widen the probe). Search = nearest ``n_probe`` cells per
    query (centroid distances on the driver — centroids are model
    state, n_cells×dim floats), then exact cosine top-k within the
    probed cells only; pairs reachable through two shared cells are
    deduplicated before scoring.

    vs ann_lsh_topk: cells adapt to the data distribution (higher recall
    at the same candidate budget); cost is the (sampled) training pass.
    No DuckDB oracle (KMeans isn't SQL) — checked by recall tests."""
    import numpy as np

    # base feeds FOUR consumers (train sample, KMeans fit passes, the
    # query-row collect, the cell-assignment scan) — persist it or the
    # scan+norm subtree re-executes per consumer (the signature-frame
    # trap; measured ~1.6× on this query alone).
    base = tracked_persist(with_norm(df.select(id_col, vec_col), vec_col))
    centroids = _fit_cells(base, vec_col, n_cells, seed, train_rows, max_iter)
    pairs = _assign_pairs(base, id_col, vec_col, centroids, n_assign)

    # query rows come straight off the persisted base — their probe cells
    # are computed driver-side from the centroids, so running a full
    # assignment scan just to read back <=len(query_ids) rows (as an
    # earlier revision did) paid a whole extra pass for nothing.
    q_rows = base.filter(F.col(id_col).isin(query_ids)).collect()
    probe_pairs = []  # (q_id, cell) for the n_probe nearest cells
    for r in q_rows:
        v = np.array(r[vec_col], dtype=float)[None, :]
        for cell in _nearest_cells(v, centroids, n_probe)[0]:
            probe_pairs.append((int(r[id_col]), int(cell)))
    probes = df.sparkSession.createDataFrame(probe_pairs, "q_id long, cell int")

    q = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("norm").alias("q_norm"),
    )
    cand_ids = (
        pairs.join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col("q_id"))
        .select("q_id", F.col(id_col).alias("n_id"))
        .distinct()  # multi-assign can route one pair via several cells
    )
    nb = base.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        F.col("norm").alias("n_norm"),
    )
    cand = cand_ids.join(nb, "n_id")
    ds, _ = dot_frag("q_vec", "n_vec")
    scored = cand.join(F.broadcast(q), "q_id").withColumn(
        "cosine", F.expr(f"{ds} / (q_norm * n_norm)")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "n_id", "cosine")
        .orderBy("q_id", F.desc("cosine"), "n_id")
    )


def semantic_dedup_stats(
    df: DataFrame,
    threshold: float = 0.45,
    n_cells: int = 16,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_cell_size: int | None = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public): cluster embeddings with k-means, compare
    pairs ONLY within a cluster, and drop every vector that has a
    more-senior (lower-id) neighbor above the cosine threshold — the
    paper's keep-one-representative rule made deterministic by id
    order. Per label: n_vecs, n_pairs, n_dropped (all BIGINT).

    Scale shape: the full pairwise comparison SemDeDup avoids is
    restored as a per-CELL self-join — O(Σ |cell|²), controlled by
    sizing n_cells so n/k stays bounded (the paper runs 50k clusters
    for LAION-scale corpora). ``max_cell_size`` additionally caps any
    runaway cell (hash-deterministic subset — a skew guard like the
    MinHash bucket cap; capped members simply aren't dedup candidates,
    documented recall trade). The cell fit/assignment reuse the IVF
    machinery (bounded driver-side k-means, map-side assignment); the
    join shuffles ids + vectors once, keyed by cell.

    Rows-only by nature (k-means isn't SQL); semantics pinned by a
    brute-force within-cluster test."""
    base = tracked_persist(with_norm(df.select(id_col, vec_col, label_col), vec_col))
    centroids = _fit_cells(base, vec_col, n_cells, seed, 4096, 8)
    pairs = _assign_pairs(base, id_col, vec_col, centroids, 1)
    cells = base.join(pairs, id_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
        F.col("norm").alias("nrm"), F.col(label_col).alias("lbl"), "cell",
    )
    if max_cell_size is not None:
        w = Window.partitionBy("cell").orderBy(
            F.xxhash64("id"), F.asc("id")
        )
        cells = (
            cells.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_cell_size)
            .drop("__rn")
        )
    # the cell frame feeds BOTH sides of the self-join — persist, or the
    # assignment join + cap window execute twice (multi-consumer rule)
    cells = tracked_persist(cells)
    a = cells.alias("a")
    b = cells.alias("b")
    ds, _ = dot_frag("a.vec", "b.vec")
    sim_pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .withColumn("cosine", F.expr(f"{ds} / (a.nrm * b.nrm)"))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.id").alias("keep"),
            F.col("b.id").alias("drop"),
            F.col("b.lbl").alias("lbl"),
        )
    )
    per_label_pairs = sim_pairs.groupBy("lbl").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("drop").alias("n_dropped"),
    )
    totals = base.groupBy(F.col(label_col).alias("lbl")).agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    return (
        totals.join(per_label_pairs, "lbl", "left")
        .select(
            F.col("lbl").alias(label_col),
            "n_vecs",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        )
        .orderBy(label_col)
    )


def ann_lsh_oracle(
    table: str, query_ids: list[int], k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    _, dd_self = dot_frag(vec_col, vec_col)
    _, bd = bucket_frag(vec_col)
    _, dd = dot_frag("q_vec", "n_vec")
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH base AS MATERIALIZED (
  SELECT {id_col} AS id, {vec_col} AS vec, sqrt({dd_self}) AS norm, {bd} AS bucket
  FROM {table}
), q AS (
  SELECT id AS q_id, vec AS q_vec, norm AS q_norm, bucket AS q_bucket FROM base WHERE id IN ({ids})
), c AS (
  SELECT id AS n_id, vec AS n_vec, norm AS n_norm, bucket AS n_bucket FROM base
), scored AS (
  SELECT q_id, n_id, {dd} / (q_norm * n_norm) AS cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY {dd} / (q_norm * n_norm) DESC, n_id) AS rn
  FROM c JOIN q ON q_bucket = n_bucket AND q_id <> n_id
)
SELECT q_id, n_id, cosine FROM scored WHERE rn <= {k}
ORDER BY q_id, cosine DESC, n_id
"""


def _pq_train(resid: "np.ndarray", m_sub: int, n_codes: int, seed: int, iters: int = 12):
    """Per-subspace k-means codebooks over residual vectors (driver-side
    numpy on a BOUNDED sample — codebooks are index state like the IVF
    centroids, never a data pass). Returns [m_sub, n_codes, d_sub]."""
    import numpy as np

    n, d = resid.shape
    d_sub = d // m_sub
    rng = np.random.default_rng(seed)
    books = np.empty((m_sub, n_codes, d_sub))
    for m in range(m_sub):
        x = resid[:, m * d_sub : (m + 1) * d_sub]
        idx = rng.choice(n, size=min(n_codes, n), replace=False)
        c = x[idx].copy()
        if len(c) < n_codes:  # degenerate tiny corpus: pad with jitter
            pad = c[rng.integers(0, len(c), n_codes - len(c))]
            c = np.vstack([c, pad + rng.normal(0, 1e-6, pad.shape)])
        for _ in range(iters):
            # matmul form + bincount means: no (n, k, d_sub) broadcast
            # temp and no per-code Python loop (measured 3.7 s -> ~50 ms
            # at n_codes=256)
            d2 = (c**2).sum(axis=1)[None, :] - 2.0 * (x @ c.T)
            assign = d2.argmin(axis=1)
            counts = np.bincount(assign, minlength=n_codes)
            sums = np.zeros_like(c)
            np.add.at(sums, assign, x)
            nz = counts > 0  # empty code keeps its previous centroid
            c[nz] = sums[nz] / counts[nz, None]
        books[m] = c
    return books


def ivf_pq_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    n_assign: int = 3,
    m_sub: int = 8,
    n_codes: int = 256,
    refine: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_rows: int = 4096,
    max_iter: int = 8,
    pq_train_rows: int = 2048,
) -> DataFrame:
    """IVF-PQ ANN (Jégou et al.'s inverted file + product quantization —
    the standard billion-scale layout): coarse k-means cells route the
    search exactly like :func:`ivf_topk`, with ``n_assign``-way soft
    assignment (each vector indexed — and PQ-encoded — under its
    n_assign nearest cells, so a neighbor just across a Voronoi
    boundary is still reachable at the same n_probe); WITHIN probed
    cells, distances are computed against m_sub-byte PQ CODES of the
    residual (vec − centroid) via an ADC lookup table, and only the top
    ``k·refine`` ADC candidates per query are re-ranked with exact
    cosine. Recall knobs compose: n_probe widens the query side,
    n_assign widens the index side (n_assign× code rows — codes are
    m_sub bytes, so even 3-way assignment keeps the index ~10× smaller
    than raw vectors); both are pinned monotone by the recall sweep
    test.

    Why it matters at 100 TB: a 64-dim float32 vector is 256 bytes; its
    PQ code is m_sub bytes (32× per indexed row here) — the probed slice of the corpus
    is scanned as codes, and raw vectors are touched only for the
    k·refine finalists. The heavy stage (encode) is map-side Arrow
    batches against broadcast codebooks — no shuffle beyond IVF's
    cell-probe join. Codebooks/centroids are driver-bounded index state
    (n_cells·d + m_sub·n_codes·d/m_sub floats).

    Rows-only by nature (k-means + PQ aren't SQL); recall vs exact
    cosine and determinism are pinned by tests/test_similarity.py."""
    import numpy as np
    import pandas as pd

    base = tracked_persist(with_norm(df.select(id_col, vec_col), vec_col))
    centroids = _fit_cells(base, vec_col, n_cells, seed, train_rows, max_iter)

    # PQ codebooks from a bounded residual sample (limit() is a real
    # row cap, not a fraction — the collect is O(pq_train_rows·d));
    # residuals are taken against the PRIMARY (nearest) cell, computed
    # driver-side from the collected sample.
    sample = base.select(vec_col).limit(pq_train_rows).collect()
    svecs = np.array([np.asarray(r[vec_col], dtype=float) for r in sample])
    resid = svecs - centroids[_nearest_cells(svecs, centroids, 1)[:, 0]]
    books = _pq_train(resid, m_sub, n_codes, seed)
    d = centroids.shape[1]
    d_sub = d // m_sub

    def _encode(batches):
        # multi-assignment happens HERE, fused with encoding: each
        # vector emits n_assign (cell, codes) rows, codes taken against
        # THAT cell's residual — one map-side pass, no extra shuffle.
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack([np.asarray(v, dtype=float) for v in pdf[vec_col]])
            cells = _nearest_cells(vecs, centroids, n_assign)
            flat_cells = cells.ravel()
            res = np.repeat(vecs, n_assign, axis=0) - centroids[flat_cells]
            codes = np.empty((len(res), m_sub), dtype=np.int32)
            for m in range(m_sub):
                x = res[:, m * d_sub : (m + 1) * d_sub]
                # matmul form: |x|^2 is constant per row for the argmin
                d2 = (books[m] ** 2).sum(axis=1)[None, :] - 2.0 * (x @ books[m].T)
                codes[:, m] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "n_id": pdf[id_col].to_numpy().repeat(n_assign),
                    "cell": flat_cells.astype("int32"),
                    "codes": list(codes.tolist()),
                }
            )

    encoded = base.select(id_col, vec_col).mapInPandas(
        _encode, schema="n_id long, cell int, codes array<int>"
    )

    # probe cells per query (driver-side centroid distances, as ivf_topk)
    q_rows = base.filter(F.col(id_col).isin(query_ids)).collect()
    q_vecs = {int(r[id_col]): np.asarray(r[vec_col], dtype=float) for r in q_rows}
    probe_pairs = []
    for qid, v in q_vecs.items():
        for cell in _nearest_cells(v[None, :], centroids, n_probe)[0]:
            probe_pairs.append((qid, int(cell)))
    probes = df.sparkSession.createDataFrame(probe_pairs, "q_id long, cell int")

    # ADC tables per (query, probed cell): [m_sub, n_codes] partial
    # squared distances of the query residual to every codeword
    adc: dict[tuple[int, int], np.ndarray] = {}
    for qid, cell in probe_pairs:
        qres = q_vecs[qid] - centroids[cell]
        t = np.empty((m_sub, n_codes))
        for m in range(m_sub):
            qs = qres[m * d_sub : (m + 1) * d_sub]
            t[m] = ((books[m] - qs) ** 2).sum(axis=1)
        adc[(qid, cell)] = t

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"q_id": [], "n_id": [], "adc": []})
                continue
            out = np.empty(len(pdf))
            for i, (qid, cell, codes) in enumerate(
                zip(pdf["q_id"], pdf["cell"], pdf["codes"])
            ):
                t = adc[(int(qid), int(cell))]
                out[i] = t[np.arange(m_sub), np.asarray(codes)].sum()
            yield pd.DataFrame(
                {"q_id": pdf["q_id"], "n_id": pdf["n_id"], "adc": out}
            )

    cand = (
        encoded.join(F.broadcast(probes), "cell")
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "cell", "n_id", "codes")
        .mapInPandas(_score, schema="q_id long, n_id long, adc double")
        # multi-assign can reach one (q, n) pair through several shared
        # cells with different residual codes: keep the best (lowest)
        # ADC estimate so duplicates can't crowd the shortlist
        .groupBy("q_id", "n_id")
        .agg(F.min("adc").alias("adc"))
    )
    wadc = Window.partitionBy("q_id").orderBy(F.asc("adc"), F.asc("n_id"))
    shortlist = (
        cand.withColumn("rn", F.row_number().over(wadc))
        .filter(F.col("rn") <= k * refine)
        .select("q_id", "n_id")
    )

    # exact-cosine re-rank of the shortlist (raw vectors touched only here)
    q = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("norm").alias("q_norm"),
    )
    nb = base.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        F.col("norm").alias("n_norm"),
    )
    ds, _ = dot_frag("q_vec", "n_vec")
    scored = (
        shortlist.join(nb, "n_id")
        .join(F.broadcast(q), "q_id")
        .withColumn("cosine", F.expr(f"{ds} / (q_norm * n_norm)"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "n_id", "cosine")
        .orderBy("q_id", F.desc("cosine"), "n_id")
    )


def semantic_decontamination_stats(
    df: DataFrame,
    threshold: float = 0.45,
    probe_mod: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """SEMANTIC benchmark decontamination — the embedding-side member of
    the decontamination family (lexical doc-level decontamination_stats,
    span-level span_decontaminate, map-side bloom_decontamination): a
    corpus vector is contaminated when its cosine to ANY probe vector
    (``id % probe_mod == 0`` stands in for the benchmark's embedded
    eval set) reaches the threshold — paraphrased eval questions that
    share no n-gram still land here. Output per label: n_corpus,
    n_contaminated.

    Physical plan: banded hyperplane LSH exactly as
    embedding_neardup_pairs, but the band join is PROBE x CORPUS
    instead of a self-join — the probe side is tiny (benchmarks), so
    its band frame broadcasts and the corpus never shuffles for the
    candidate stage; exact-cosine verify on candidates only; one
    distinct + aggregate. A probe-corpus pair is missed only if all
    ND_BANDS buckets differ (the documented LSH recall bound)."""
    base = tracked_persist(
        with_norm(df.select(id_col, vec_col, label_col), vec_col)
    )
    bands_all = base.selectExpr(
        f"`{id_col}` AS id", f"posexplode({band_buckets_spark(vec_col)}) AS (band_id, bucket)"
    )
    probe_bands = bands_all.filter(F.col("id") % probe_mod == 0).select(
        F.col("id").alias("pid"), "band_id", "bucket"
    )
    corpus_bands = bands_all.filter(F.col("id") % probe_mod != 0)
    cand = (
        corpus_bands.join(F.broadcast(probe_bands), ["band_id", "bucket"])
        .select("id", "pid")
        .distinct()
    )
    vc = base.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("va"),
        F.col("norm").alias("na"), F.col(label_col).alias("lbl"),
    )
    vp = base.select(
        F.col(id_col).alias("pid"), F.col(vec_col).alias("vb"),
        F.col("norm").alias("nb"),
    )
    ds, _ = dot_frag("va", "vb")
    contaminated = (
        cand.join(vc, "id")
        .join(F.broadcast(vp), "pid")
        .filter(F.expr(f"{ds} / (na * nb)") >= threshold)
        .select("id", "lbl")
        .distinct()
        .groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    totals = (
        base.filter(F.col(id_col) % probe_mod != 0)
        .groupBy(F.col(label_col).alias("lbl"))
        .agg(F.count(F.lit(1)).alias("n_corpus"))
    )
    return (
        totals.join(contaminated, "lbl", "left")
        .select(
            F.col("lbl").cast("bigint").alias(label_col),
            "n_corpus",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        )
        .orderBy(label_col)
    )


def semantic_decontamination_oracle(
    table: str,
    threshold: float = 0.45,
    probe_mod: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> str:
    """DuckDB twin — identical banding, fixed-order dot products."""
    _, dd_self = dot_frag(vec_col, vec_col)
    _, band_d = band_buckets_frag("vec")
    _, dd = dot_frag("vc.vec", "vp.vec")
    band_selects = "\n  UNION ALL ".join(
        f"SELECT id, lbl, {j} AS band_id, {frag} AS bucket FROM base"
        for j, frag in enumerate(band_d)
    )
    return f"""
WITH base AS MATERIALIZED (
  SELECT {id_col} AS id, {vec_col} AS vec, {label_col} AS lbl,
         sqrt({dd_self}) AS norm
  FROM {table}
), bands AS (
  {band_selects}
), cand AS (
  SELECT DISTINCT c.id, p.id AS pid
  FROM bands c JOIN bands p
    ON c.band_id = p.band_id AND c.bucket = p.bucket
  WHERE c.id % {probe_mod} <> 0 AND p.id % {probe_mod} = 0
), verified AS (
  SELECT DISTINCT cand.id, vc.lbl
  FROM cand
  JOIN base vc ON vc.id = cand.id
  JOIN base vp ON vp.id = cand.pid
  WHERE {dd} / (vc.norm * vp.norm) >= {threshold}
), contaminated AS (
  SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_contaminated
  FROM verified GROUP BY lbl
)
SELECT CAST(t.lbl AS BIGINT) AS {label_col},
       CAST(t.n_corpus AS BIGINT) AS n_corpus,
       COALESCE(c.n_contaminated, 0) AS n_contaminated
FROM (SELECT lbl, COUNT(*) AS n_corpus FROM base
      WHERE id % {probe_mod} <> 0 GROUP BY lbl) t
LEFT JOIN contaminated c ON t.lbl = c.lbl
ORDER BY {label_col}
"""
