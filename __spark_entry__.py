"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (the reference README's headline shape:
read parquet → derive cols → group → top-k by distinct count) on sf0.001.
``queries()`` — one entry per implemented operator from SURVEY.md §2.
``oracle_sql()`` — DuckDB-equivalent SQL per query (same aliases!).

Float discipline: money sums go through exact integer micro-units
(round(value*1e6) → long sum → /1e6) in BOTH engines — order-independent
and bit-identical across engines (see _money_sum). LIMIT queries always
carry a deterministic tie-break.
"""

from __future__ import annotations

import os

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amadeus_spark.functions import dedup, dsir, gopher, retrieval, similarity, text
from amadeus_spark.functions import media_golden as _media_golden
from amadeus_spark.sources import pg_golden as _pg_golden
from amadeus_spark.sources import wds_golden as _wds_golden
from amadeus_spark.operators import (
    aggregates,
    fuzzy,
    joins,
    sampling,
    sketches,
    storage,
    timeseries,
)
from amadeus_spark.operators import nested as _nested

#: Hard cap on LSH band-bucket size in registered MinHash queries (one
#: boilerplate bucket of d docs emits O(d²) candidates; at corpus scale a
#: single such bucket dominates the stage). Applied identically in BOTH
#: dialects so parity stays exact — see dedup.minhash_lsh_pairs.
LSH_MAX_BUCKET = 500


def _tune(spark: SparkSession) -> None:
    """Runtime confs safe to set on the driver's session: size shuffles
    to the actual core count (the 200 default is wrong for local[N]) and
    enable AQE coalescing. All are runtime-settable SQL confs."""
    par = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(par))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from amadeus_spark.tables import read_parquet, table_path

    _tune(spark)
    return read_parquet(spark, table_path(sf_dir, name))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: top-100 suppliers by distinct parts shipped (the
    reference's ``most_distinct`` shape, par_stream.rs:351-372) on
    sf0.001."""
    lineitem = _t(spark, "/root/testdata/sf0.001", "lineitem")
    return sketches.most_distinct(lineitem, "l_suppkey", "l_partkey", 100)


# --------------------------------------------------------------------------
# queries() / oracle_sql() — names must line up 1:1; aliases must match.
# --------------------------------------------------------------------------

def _money_sum(col: F.Column) -> F.Column:
    """Order-independent money sum in exact integer micro-units:
    per-row round(value*1e6) (values have <= 6 decimal digits, so the
    double product sits ~1e-5 from an integer — never on a rounding
    boundary), summed as long (exact, order-independent), then one
    double division. Bit-identical to the oracle because BOTH engines
    run the same long-sum/1e6 expression; measured 2.1x faster than the
    decimal(18,6) cast-sum it replaces. Long headroom: sums stay exact
    to ~9.2e18 micro-units (~9.2e12 in money units).""" 
    return F.sum(F.round(col * 1e6).cast("long")) / F.lit(1e6)


def _local_rows_df(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Collected result rows as a LOCAL relation (``SELECT ... FROM
    VALUES``) instead of ``spark.createDataFrame`` — the classic-mode
    createDataFrame path is RDD-backed (``Scan ExistingRDD``), so every
    downstream action on the returned frame launches one Spark job of
    pure launch floor (~0.2 s/query on the bench box, paid once per
    eager lifecycle query by the driver's final collect; see
    plans/r16/lifecycle_job_ledger_before.json). A VALUES relation
    collects driver-side with no job. Rendering is exact: doubles go
    through CAST('repr' AS DOUBLE) (shortest-repr round-trips under
    IEEE correctly-rounded parsing), strings escape backslash+quote,
    NULLs cast to the column type. Only the declared output types
    (BIGINT/DOUBLE/STRING/DATE/BOOLEAN) are rendered; anything else
    falls back to createDataFrame unchanged — including a DDL whose
    types carry commas (``decimal(18,6)``, ``map<string,bigint>``), which
    the comma split below cannot parse."""
    if not rows:
        return spark.createDataFrame([], ddl)

    def lit(v, typ: str) -> str:
        if v is None:
            return f"CAST(NULL AS {typ})"
        if typ == "BIGINT":
            return f"CAST({int(v)} AS BIGINT)"
        if typ == "DOUBLE":
            return f"CAST('{float(v)!r}' AS DOUBLE)"
        if typ == "BOOLEAN":
            return "TRUE" if v else "FALSE"
        if typ == "STRING":
            s = str(v).replace("\\", "\\\\").replace("'", "\\'")
            return f"'{s}'"
        if typ == "DATE":
            return f"DATE'{v.isoformat()}'"
        raise TypeError(typ)

    try:
        fields = []
        for part in ddl.split(","):
            name, typ = part.strip().rsplit(" ", 1)
            fields.append((name.strip(), typ.strip().upper()))
        tuples = [
            "(" + ", ".join(
                lit(v, fields[i][1]) for i, v in enumerate(tuple(r))
            ) + ")"
            for r in rows
        ]
    except (TypeError, ValueError):
        return spark.createDataFrame(rows, ddl)
    cols = ", ".join(f"`{n}`" for n, _ in fields)
    # Column NAMES and TYPES are identical to the createDataFrame
    # return; only Spark-side nullability flags differ (VALUES infers
    # non-null) — the driver's schema compare is Spark-vs-DuckDB, so
    # nullability is not part of it.
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(tuples)} AS t({cols})"
    )


# --- §2.5 sketches ---------------------------------------------------------


def q_most_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """most_distinct (par_stream.rs:351-372): top-10 suppliers by distinct
    part count (exact mode; approx mode is bench-only)."""
    return sketches.most_distinct(_t(spark, sf_dir, "lineitem"), "l_suppkey", "l_partkey", 10)


def q_most_frequent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """most_frequent (par_stream.rs:334-348): top-10 parts by line count."""
    return sketches.most_frequent(_t(spark, sf_dir, "lineitem"), "l_partkey", 10)


# --- §2.4 aggregations -----------------------------------------------------


def q_summary_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fork/tuple-sink one-pass multi-aggregate (par_sink/tuple.rs):
    count+sum+mean+stddev_pop+min+max of l_quantity in one scan."""
    li = _t(spark, sf_dir, "lineitem")
    c = F.col("l_quantity")
    return li.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(c).cast("double").alias("total"),
        F.avg(c).alias("mean"),
        F.round(F.stddev_pop(c), 4).alias("stddev"),
        F.min(c).alias("min_val"),
        F.max(c).alias("max_val"),
    )


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram (par_sink/histogram.rs): value→count sorted by value."""
    return aggregates.histogram(_t(spark, sf_dir, "lineitem"), "l_returnflag")


def q_group_by_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group_by(sink) generality (par_sink/group_by.rs) as TPC-H Q1:
    grouped multi-aggregate incl. derived expressions."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            _money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            _money_sum(disc_price).alias("sum_disc_price"),
            _money_sum(charge).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (par_sink/max.rs): customer name with highest acctbal
    and lowest acctbal, one pass (acctbal ties broken by name via struct
    ordering is not needed: acctbal is continuous; keep key in the result)."""
    cu = _t(spark, sf_dir, "customer")
    return cu.agg(
        F.max_by("c_name", "c_acctbal").alias("richest"),
        F.min_by("c_name", "c_acctbal").alias("poorest"),
        F.max("c_acctbal").alias("max_bal"),
        F.min("c_acctbal").alias("min_bal"),
    )


# --- §2.3 joins ------------------------------------------------------------


def q_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inner_join (broadcast, par_stream/join.rs:71-125): revenue per
    nation — fact table joins broadcast dims; two-level dim chain."""
    cu = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    od = _t(spark, sf_dir, "orders")
    enriched = joins.inner_join(
        od, cu.withColumnRenamed("c_custkey", "o_custkey"), on="o_custkey"
    )
    enriched = joins.inner_join(
        enriched, na.withColumnRenamed("n_nationkey", "c_nationkey"), on="c_nationkey"
    )
    return (
        enriched.groupBy("n_name")
        .agg(
            _money_sum(F.col("o_totalprice")).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("n_name")
    )


def q_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_join (par_stream/join.rs:14-67): every customer with order
    count, including customers with no orders (empty-iter semantics →
    count 0)."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    j = joins.left_join(cu.select("c_custkey", "c_name"), od.select("c_custkey", "o_orderkey"), on="c_custkey", broadcast_right=False)
    return (
        j.groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("c_custkey")
    )


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi/left_anti (beyond reference): customers with ≥1 order vs
    none, counted in one output row. Both branches union into ONE
    conditional aggregate so the whole query is a single job (the
    previous two eager .count() actions ran two barriers; measured 2.3x
    slower at sf0.1). Only the key column flows into the joins."""
    cu = _t(spark, sf_dir, "customer").select("c_custkey")
    od = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    s = joins.semi_join(cu, od, on="c_custkey").select(F.lit(1).alias("has"))
    a = joins.anti_join(cu, od, on="c_custkey").select(F.lit(0).alias("has"))
    return s.unionAll(a).agg(
        F.count(F.when(F.col("has") == 1, 1)).alias("with_orders"),
        F.count(F.when(F.col("has") == 0, 1)).alias("without_orders"),
    )


# --- §2.2 transforms / §2.6 set ops, top-n --------------------------------


def q_map_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map+filter (par_stream.rs:79-104): derive revenue per line, keep
    high-discount lines; aggregates to keep output small."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_discount") >= 0.05)
        .withColumn("rev", F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            _money_sum(F.col("rev")).alias("total_rev"),
        )
    )


def q_flat_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flat_map (par_stream.rs:88-95) → explode: tokenize documents on
    single spaces, count token occurrences, top-20 tokens."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
    return (
        tok.filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(20)
    )


def q_chain_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chain (par_stream.rs:129-135) = union-all of two streams, then a
    histogram over the combined stream proves no dedup happened."""
    od = _t(spark, sf_dir, "orders")
    hi = od.filter(F.col("o_totalprice") > 100000).select("o_orderstatus")
    lo = od.filter(F.col("o_totalprice") <= 150000).select("o_orderstatus")
    both = hi.unionAll(lo)
    return both.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("cnt")).orderBy("o_orderstatus")


def q_sort_n_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sort_n_by (amadeus-streaming/src/sort.rs) → TakeOrderedAndProject:
    top-15 orders by totalprice, tie-break orderkey."""
    od = _t(spark, sf_dir, "orders")
    return sampling.sort_n_by(
        od.select("o_orderkey", "o_totalprice"),
        15,
        F.desc("o_totalprice"),
        F.asc("o_orderkey"),
    )


def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample_unstable exact-k semantics (amadeus-streaming/src/sample.rs:
    125-185), made engine-reproducible: order by md5(salt||key) — a fixed
    uniform permutation — take k. Cross-checkable in any SQL engine."""
    od = _t(spark, sf_dir, "orders")
    return sampling.deterministic_sample(od.select("o_orderkey", "o_custkey"), "o_orderkey", 25)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-5-per-language document sample (class-balance primitive):
    one window shuffle, engine-reproducible md5 permutation."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        docs.select("doc_id", "lang"), "lang", "doc_id", 5
    ).orderBy("lang", "doc_id")


def q_all_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """all/any short-circuit ∀/∃ (par_sink/all.rs, any.rs) as one row."""
    li = _t(spark, sf_dir, "lineitem")
    all_pos = aggregates.all_match(li, F.col("l_quantity") > 0)
    any_big = aggregates.any_match(li, F.col("l_quantity") > 1000)
    return _local_rows_df(spark, [(all_pos, any_big)], "all_qty_positive boolean, any_qty_over_1000 boolean")


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect / except (SURVEY §2.6 — absent in the reference, Spark-
    native): customers appearing in both high- and low-value order sets,
    and only-high."""
    od = _t(spark, sf_dir, "orders")
    # One declarative plan, no eager .count() jobs: INTERSECT/EXCEPT
    # DISTINCT on a single key ≡ per-key membership flags + one
    # conditional aggregate (same rewrite as semi_anti_join, 2.3×).
    # One scan, map-side partial max, one shuffle on custkey.
    flags = od.groupBy("o_custkey").agg(
        F.max((F.col("o_totalprice") > 150000).cast("int")).alias("has_hi"),
        F.max((F.col("o_totalprice") <= 150000).cast("int")).alias("has_lo"),
    )
    return flags.agg(
        F.sum(((F.col("has_hi") == 1) & (F.col("has_lo") == 1)).cast("bigint")).alias("in_both"),
        F.sum(((F.col("has_hi") == 1) & (F.col("has_lo") == 0)).cast("bigint")).alias("only_high"),
    )


def q_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct + count (Spark-native set op; reference lacks distinct —
    SURVEY §2.6): distinct (custkey, orderstatus) pairs."""
    od = _t(spark, sf_dir, "orders")
    return od.select("o_custkey", "o_orderstatus").distinct().agg(
        F.count(F.lit(1)).alias("n_distinct_pairs")
    )


# --- TPC-H-shape analytical queries (multi-join planning evidence) ---------


def q_tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer⋈orders⋈lineitem, filter both sides of the
    join, revenue per order, top-10. Exercises join ordering + pushdown
    through a 3-way join with a post-agg top-n."""
    cu = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.groupBy("l_orderkey")
        .agg(_money_sum(rev).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate — the query whose whole
    cost is the scan; pushdown + pruning must leave nothing else."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


def q_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join (two facts, four dims) with the
    local-supplier constraint (c_nationkey = s_nationkey) folded into
    the supplier join. nation/region/supplier broadcast (true dims);
    the lineitem-orders-customer fact chain is left to Catalyst/AQE."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region")
    j = (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(su),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(re), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.groupBy("n_name")
        .agg(_money_sum(rev).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate subquery driving a
    fact-fact join, top-100 by price. The quantity aggregate runs FIRST
    (one shuffle on l_orderkey, map-side partials) so only qualifying
    orders — a tiny fraction — reach the joins; the naive plan joins
    everything then filters. LIMIT carries a total tie-break."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    sums = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    j = sums.join(od, F.col("l_orderkey") == F.col("o_orderkey")).join(
        cu, F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        j.select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            # string, not DATE: pandas widens DuckDB DATE back to a
            # midnight timestamp, so the stringified compare would differ
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


def q_supplier_part_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way join with two broadcast dims: revenue share per supplier
    nation restricted to large parts — Q8-lite market-share shape."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    pa = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 25)
    j = (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.groupBy("n_name")
        .agg(
            _money_sum(rev).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("n_name")
    )


# --- TPC-H subquery-shape pack (round 4) -----------------------------------
# The classic decision-support shapes the reference's users write by hand
# (SURVEY §2.6 "beyond" scope): correlated aggregates, EXISTS/NOT EXISTS,
# scalar subqueries, disjunctive pushdown — each re-planned Spark-first
# (aggregate-below-join instead of per-row correlation, broadcast dims,
# exact integer micro-unit money math shared with the DuckDB oracle).
# Tables here are TPC-H-lite (no partsupp, no commit/receipt dates), so
# each query keeps the PLAN SHAPE of its namesake with filters adapted
# to the columns that exist.


def q_tpch_q2_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier): per-part minimum supply price
    with the suppliers achieving it, restricted to a region. partsupp is
    derived from lineitem as (partkey, suppkey) -> min unit price; the
    correlated `= (SELECT MIN(..) WHERE partkey = ..)` subquery becomes
    a window-min over the offer frame (one extra shuffle on partkey, no
    per-row subquery). Unit price is floored to integer micro-units so
    the equality join is exact in both engines (floor of the same IEEE
    double is bit-identical; round() could straddle a .5 boundary).
    The part filter commutes with the per-part MIN (it prunes whole
    partkeys, never individual offers), so a broadcast semi-join pushes
    it BELOW the offer aggregation — the fact table shrinks ~25x before
    the first shuffle (3.3 s -> sub-second at sf0.1; at 100 TB this is
    the difference between aggregating the corpus and aggregating the
    selection)."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    pa = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") >= 40) & (F.col("p_type") == "STANDARD")
    )
    pruned = li.join(
        F.broadcast(pa.select(F.col("p_partkey").alias("pk"))),
        F.col("l_partkey") == F.col("pk"),
        "left_semi",
    )
    offers = pruned.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 1e6).cast("long")
        ).alias("cost_us")
    )
    w = Window.partitionBy("l_partkey")
    best = offers.withColumn("min_us", F.min("cost_us").over(w)).filter(
        F.col("cost_us") == F.col("min_us")
    )
    j = (
        best.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(re), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        j.select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            (F.col("cost_us") / F.lit(1e6)).alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


def q_tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS): orders in a quarter having at least one
    returned lineitem, counted per priority. The correlated EXISTS is a
    LEFT SEMI join — one shuffle, no duplicate inflation (the naive
    inner-join+distinct pays a second shuffle to de-dup)."""
    od = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        od.join(li, od.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between two nations): revenue by
    (supplier nation, customer nation, ship year) for either direction of
    the NATION_1 <-> NATION_2 pair. nation joins broadcast twice under
    different aliases; the pair filter lands after both so Catalyst can
    push each side's IN-list into its dim scan."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    n1 = na.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = na.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(_money_sum(rev).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (market share): NATION_3 suppliers' share of
    ASIA-customer revenue per order year. Numerator (conditional) and
    denominator ride ONE aggregate pass as exact micro-unit longs; the
    share is a single double division of identical longs — no
    per-branch scans, no float summation."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region")
    ncust = na.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    nsupp = na.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev_us = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6
    ).cast("long")
    j = (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(ncust), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(re), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nsupp), F.col("s_nationkey") == F.col("s_nk"))
        .filter(F.col("r_name") == "ASIA")
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", rev_us).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("__n"),
            F.sum(rev_us).alias("__d"),
        )
        .select(
            "o_year", (F.col("__n") / F.col("__d")).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (group total vs global-total scalar subquery):
    per-part shipped value from NATION_2 suppliers, keeping parts whose
    value exceeds 1/500 of the nation's total. The global total is a
    1-row aggregate of the per-part frame broadcast back onto it (the
    per-part aggregate is persisted so its lineitem scan+shuffle runs
    once for both consumers) — an empty-partitionBy window here would
    funnel every per-part row through ONE task, the classic 100×-scale
    killer. The threshold compare is an exact integer cross-multiply
    (value_us * 500 > total_us) so the boundary cannot drift."""
    from amadeus_spark.cache import tracked_persist

    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    val_us = F.round(F.col("l_extendedprice") * 1e6).cast("long")
    j = li.join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey")).join(
        F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey")
    )
    per_part = tracked_persist(
        j.groupBy("l_partkey").agg(F.sum(val_us).alias("value_us"))
    )
    total = per_part.agg(F.sum("value_us").alias("total_us"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_us") * 500 > F.col("total_us"))
        .select("l_partkey", (F.col("value_us") / F.lit(1e6)).alias("value"))
        .orderBy(F.desc("value"), "l_partkey")
    )


def q_tpch_q20_excess_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (nested aggregate semi-join chain): suppliers in
    EUROPE who dominate some part — their shipped quantity of a part
    exceeds 1/8 of its corpus-wide total (the data's supplier-per-part
    fan-out makes the classic 50% vacuous; the PLAN is the point). Per-(part,supplier) and per-part
    aggregates share the first shuffle's output — per_ps feeds both the
    per-part rollup and the dominance join, so it persists through the
    tracked registry (without that the whole lineitem scan+aggregate
    re-executes per consumer); the dominance filter is integer
    (8*q_ps > q_p, quantities are integer-valued); qualifying suppliers
    reach the dim join via a distinct semi-join. No correlated probe."""
    from amadeus_spark.cache import tracked_persist

    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    qty = F.sum(F.col("l_quantity").cast("long"))
    per_ps = tracked_persist(
        li.groupBy("l_partkey", "l_suppkey").agg(qty.alias("q_ps"))
    )
    per_p = per_ps.groupBy("l_partkey").agg(
        F.sum("q_ps").cast("long").alias("q_p")
    )
    dominant = (
        per_ps.join(per_p, "l_partkey")
        .filter(F.col("q_ps") * 8 > F.col("q_p"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        su.join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(re), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


def q_tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit per supplier nation
    and order year over parts matching a name pattern. partsupp's
    supplycost is proxied by p_retailprice/100 per unit (the plan — fact
    x 2 broadcast dims x substring filter — is what matters). Profit
    stays in integer micro-units until the final division."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    pa = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") / 100.0 * F.col("l_quantity")
    )
    j = (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(_money_sum(amount).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def q_tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by
    revenue lost to returns in a quarter. Orders filter pushes to the
    scan; customer/nation broadcast; LIMIT carries a total tie-break."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    od = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-04-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    cu = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_money_sum(rev).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q_tpch_q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (conditional counts after a fact-fact join):
    lineitems shipped in 1996 grouped by linestatus (shipmode proxy),
    counting high- vs low-priority orders via CASE inside SUM — one
    aggregate pass, no second join or filter stage."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    od = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q_tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (distribution of a distribution): orders per
    customer via LEFT OUTER join (customers with none count as 0), then
    the histogram of those counts. Two shuffles by construction —
    customer key, then count value."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        cu.join(od, cu.c_custkey == od.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (conditional share): % of one month's revenue from
    PROMO parts. Numerator and denominator are exact micro-unit longs
    from ONE aggregate pass; the single final double division of
    identical longs is bit-identical across engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    pa = _t(spark, sf_dir, "part")
    rev_us = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6
    ).cast("long")
    promo = F.when(F.col("p_type") == "PROMO", rev_us).otherwise(F.lit(0).cast("long"))
    return (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(promo).alias("__p"),
            F.sum(rev_us).alias("__t"),
        )
        .select(
            F.coalesce(
                F.lit(100.0) * F.col("__p") / F.col("__t"), F.lit(0.0)
            ).alias("promo_pct")
        )
    )


def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (scalar MAX subquery over a derived view): the
    supplier(s) whose quarterly revenue equals the maximum. The revenue
    view is computed ONCE (persisted — it feeds both the max and the
    equality filter); the `= (SELECT MAX(..))` becomes a 1-row MAX
    aggregate broadcast back onto the view instead of a second scan of
    lineitem — or an empty-partitionBy window, which would sort the
    whole post-agg frame through one task at scale. Revenue is an exact
    micro-unit long, so the max-equality never hits float ties."""
    from amadeus_spark.cache import tracked_persist

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    su = _t(spark, sf_dir, "supplier")
    rev_us = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6
    ).cast("long")
    revs = tracked_persist(
        li.groupBy("l_suppkey").agg(F.sum(rev_us).alias("rev_us"))
    )
    best = revs.join(
        F.broadcast(revs.agg(F.max("rev_us").alias("max_us")))
    ).filter(F.col("rev_us") == F.col("max_us"))
    return (
        best.join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_us") / F.lit(1e6)).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q_tpch_q16_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (NOT IN anti-join + grouped COUNT DISTINCT):
    supplier variety per (brand, type, size) over the lineitem-derived
    partsupp, excluding certain brands/types and suppliers on the
    complaint list (negative balance proxy). The NOT IN subquery is a
    broadcast LEFT ANTI join; distinct (part, supp) pairs come free from
    the count-distinct aggregate (no separate distinct shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 9, 15, 20, 25, 30, 35))
    )
    bad_sup = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    ps = li.select("l_partkey", "l_suppkey").join(
        F.broadcast(bad_sup), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        ps.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .select(
            "p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"),
            "supplier_cnt",
        )
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(50)
    )


def q_tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated scalar AVG): yearly revenue from
    orders below 20% of a part's average quantity. The per-part
    correlated subquery becomes aggregate-below-join: per-part averages
    are computed once (over lineitems of the brand's parts only — a
    broadcast semi-join prunes first), broadcast back, and the filter
    compares in one pass; the pruned `branded` frame feeds both the avg
    aggregate and the scoring join, so it persists through the tracked
    registry. l_quantity is integer-valued, so avg = exact long sum /
    count is bit-identical across engines and the 0.2*avg boundary
    cannot flip."""
    from amadeus_spark.cache import tracked_persist

    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#5").select(
        "p_partkey"
    )
    branded = tracked_persist(
        li.join(
            F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
        )
    )
    avgs = branded.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    small = branded.join(
        F.broadcast(avgs), F.col("l_partkey") == F.col("a_partkey")
    ).filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    return small.agg(
        F.coalesce(
            F.sum(F.round(F.col("l_extendedprice") * 1e6).cast("long"))
            / F.lit(7e6),
            F.lit(0.0),
        ).alias("avg_yearly")
    )


def q_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive multi-attribute predicate): revenue
    from three OR-ed (brand, size, quantity) windows. One broadcast-hash
    join; the OR-of-ANDs predicate evaluates post-join in one codegen'd
    stage (per-branch unions would scan three times)."""
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.coalesce(_money_sum(rev), F.lit(0.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS + NOT EXISTS self-joins): suppliers solely
    responsible for returns in finished multi-supplier orders. The two
    correlated self-joins on lineitem collapse into per-order distinct
    supplier counts computed once each (EXISTS other supplier <=>
    n_suppliers > 1; NOT EXISTS other returning supplier <=> exactly one
    distinct returning supplier, which l1 itself is) — BOTH counts come
    from ONE groupBy(l_orderkey) with a conditional count-distinct, so
    lineitem is scanned twice total (l1 branch + counts branch) instead
    of three times, and the correlation costs one shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    su = _t(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    counts = li.groupBy(F.col("l_orderkey").alias("k_all")).agg(
        F.count_distinct("l_suppkey").alias("n_sup"),
        F.count_distinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_ret"),
    )
    j = (
        l1.join(od, l1.l_orderkey == od.o_orderkey, "left_semi")
        .join(counts, F.col("l_orderkey") == F.col("k_all"))
        .filter((F.col("n_sup") > 1) & (F.col("n_ret") == 1))
    )
    return (
        j.join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def q_tpch_q22_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (scalar AVG subquery + anti-join): customers
    richer than the positive-balance average who never ordered, per
    nation. The scalar average broadcasts as a 1-row frame; the
    `c_acctbal > avg` compare is done in exact integer cross-multiplied
    form (acct_us * n > total_us) so the boundary cannot drift between
    engines (double sums are order-dependent; long sums are not).
    "Never ordered" is Q22's 7-year window adapted to the data's date
    range: no order since 2000-01-01 (every customer has SOME order in
    this dataset, so the unwindowed anti-join is vacuously empty).
    NOT EXISTS(recent orders) is a LEFT ANTI join."""
    cu = _t(spark, sf_dir, "customer")
    od = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    acct_us = F.round(F.col("c_acctbal") * 1e6).cast("long")
    thresh = (
        cu.filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(acct_us).alias("total_us"),
            F.count(F.lit(1)).alias("n_pos"),
        )
    )
    rich = (
        cu.join(F.broadcast(thresh))
        .filter(acct_us * F.col("n_pos") > F.col("total_us"))
        .join(od, cu.c_custkey == od.o_custkey, "left_anti")
    )
    return (
        rich.groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _money_sum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("nationkey")
    )


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (beyond the reference; linear interpolation —
    same formula as SQL quantile_cont so the oracle matches exactly).
    percentile_approx is the t-digest scale path, bench-only."""
    od = _t(spark, sf_dir, "orders")
    # round(4): Spark interpolates lower*(1-d)+higher*d, DuckDB
    # lower+d*(higher-lower) — algebraically equal but can differ in the
    # last ulp; rounding removes the engine-dependent digit.
    # one array-argument percentile: three scalar calls each buffer the
    # full value set independently (measured 3-4x slower at sf0.1)
    return od.agg(
        F.expr("percentile(o_totalprice, array(0.5D, 0.9D, 0.99D))").alias("__ps")
    ).select(
        F.round(F.expr("__ps[0]"), 4).alias("p50"),
        F.round(F.expr("__ps[1]"), 4).alias("p90"),
        F.round(F.expr("__ps[2]"), 4).alias("p99"),
    )


def q_percentile_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles — the 100 TB scale path for
    q_percentiles/q_equidepth_histogram: percentile_approx is a
    MERGEABLE quantile sketch (Greenwald-Khanna summaries), so partials
    combine map-side and no task ever buffers the value set — exact
    percentile() must. Rows-only by nature (sketch internals differ
    engine-to-engine); tests/test_oracle.py pins each estimate inside a
    ±1% band around the exact percentile, the same acceptance posture
    as the HLL/CMS sketches."""
    od = _t(spark, sf_dir, "orders")
    return od.agg(
        F.expr(
            "percentile_approx(o_totalprice, array(0.5D, 0.9D, 0.99D), 10000)"
        ).alias("__ps")
    ).select(
        F.expr("__ps[0]").alias("p50"),
        F.expr("__ps[1]").alias("p90"),
        F.expr("__ps[2]").alias("p99"),
    )


# --- grouping sets / pivot / dynamic-JSON / UDAF ---------------------------


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rollup (SURVEY §2.6, absent in reference — Spark-native): subtotals
    per (returnflag, linestatus), per returnflag, and grand total.
    NULL group markers coalesced to 'ALL' for engine-portable output."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "cnt",
            "sum_qty",
        )
        .orderBy("rf", "ls")
    )


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cube: all grouping-set combinations over (status, priority)."""
    od = _t(spark, sf_dir, "orders")
    return (
        od.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "cnt",
        )
        .orderBy("status", "priority")
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal features with REAL decode (functions/multimodal.py):
    deterministic PPM/PNG/JPEG/WAV/RAWV payloads → Arrow-batched
    distributed decode + feature extraction → per-kind stats. The
    ORACLE is literal VALUES (functions/media_golden.expected_features)
    with the feature element recomputed inline on closed-form rasters/
    tones, never via the decode kernels under test (lossy JPEG rows
    frozen + drift-pinned); feat3_sum is floor(feature·1e6) summed as
    BIGINT so the hash is exact — a decode regression flips the gate."""
    from amadeus_spark.functions import multimodal

    media = multimodal.make_real_media(spark, 64)
    feats = multimodal.extract_features(media, fake=False)
    j = feats.join(media.select("media_id", "kind"), "media_id")
    return (
        j.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").alias("total_bytes"),
            F.min("sha256").alias("min_sha"),
            F.sum(
                F.floor(F.element_at("feature", 3).cast("double") * 1e6)
            )
            .cast("bigint")
            .alias("feat3_sum"),
        )
        .orderBy("kind")
    )


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling end-to-end (functions/multimodal.py):
    metadata-only frame-index plan (no payload read) joined back to
    payloads, per-selected-frame RAWV decode in mapInPandas — only the
    chosen frames' rasters materialize. The ORACLE is literal VALUES
    (functions/media_golden.expected_frame_sample): the fixture frames
    are constant rasters, so the sampled channel-0 mean is closed form
    — independent of decode_rawv_frame AND image_features."""
    from amadeus_spark.functions import multimodal

    media = multimodal.make_real_media(spark, 64)
    vids = media.filter(F.col("kind") == "video")
    frames = multimodal.sample_frames(vids, every_n=2)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.avg(F.element_at("feature", 3).cast("double")), 4).alias(
                "avg_r_mean"
            ),
        )
        .orderBy("media_id")
    )


def q_mp4_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-BMFF (MP4) demux + frame-sampling plan (functions/mp4.py —
    pure-Python container parse, no codec): per deterministic synthetic
    video, the selected frames' byte ranges and timestamps via the
    sample tables (stts/stsz/stsc/stco/stss), and for FRAGMENTED files
    via trex defaults + moof/tfhd/trun runs (the DASH/CMAF layout
    streaming corpora actually use). The ranged-read plan is the 100 TB
    primitive — fetch (offset,size) windows, never whole files.
    The ORACLE is literal VALUES (functions/media_golden.
    expected_mp4_plan): offsets replayed via an independent TOP-LEVEL
    box walk + closed-form frame sizes — the sample tables the demuxer
    resolves are never read by the replay."""
    from amadeus_spark.functions import media_golden, multimodal

    df = spark.createDataFrame(
        [(mid, bytearray(p)) for mid, p in media_golden.mp4_fixture_rows()],
        "media_id long, payload binary",
    )
    plan = multimodal.mp4_frame_sample_plan(df, every_n=5)
    return plan.select(
        "media_id",
        "frame_idx",
        F.round("t_s", 6).alias("t_s"),
        "offset",
        "size",
        "keyframe",
    ).orderBy("media_id", "frame_idx")


def q_mp3_segment_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-audio frame-index + segment-sampling plan (functions/mp3.py
    — pure-Python header walk, no codec): per deterministic synthetic
    stream, ~1-second segments' byte ranges and timestamps. The audio
    twin of mp4_frame_plan. The ORACLE is literal VALUES (functions/
    media_golden.expected_mp3_plan): pure ISO 11172-3 frame-length
    arithmetic cumsum'd over the fixture parameters — no byte parsed,
    the header walk runs only on the Spark side."""
    from amadeus_spark.functions import media_golden, multimodal

    df = spark.createDataFrame(
        [(mid, bytearray(p)) for mid, p in media_golden.mp3_fixture_rows()],
        "media_id long, payload binary",
    )
    plan = multimodal.mp3_segment_sample_plan(df, segment_s=1.0, every_n=2)
    return plan.select(
        "media_id",
        "segment_idx",
        F.round("t_start_s", 6).alias("t_start_s"),
        F.round("duration_s", 6).alias("duration_s"),
        "offset",
        "size",
    ).orderBy("media_id", "segment_idx")


def q_nested_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested List data round-trip (SURVEY §1.2, value.rs:148-153;
    reference nested fixtures tests/parquet.rs:113-290): collect_list →
    array HOFs (element_at/aggregate/filter) → posexplode back → flat
    stats (operators/nested.py)."""
    from amadeus_spark.operators import nested

    return nested.nested_array_ops(_t(spark, sf_dir, "lineitem"))


def q_nested_struct_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested Map/Group data (value.rs:148-153): struct → map_from_entries
    → map_keys/map_values/element_at → flat stats (operators/nested.py)."""
    from amadeus_spark.operators import nested

    return nested.nested_struct_map(_t(spark, sf_dir, "lineitem"))


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot: order counts + money sums by status columns per priority."""
    od = _t(spark, sf_dir, "orders")
    return (
        od.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .withColumnsRenamed({"F": "n_f", "O": "n_o", "P": "n_p"})
        .orderBy("o_orderpriority")
    )


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic Value/JSON cells (SURVEY §1.2: Value::Json → string +
    extraction on use): pull props.k out of the events JSON column and
    aggregate — schema-on-read over a dynamic column."""
    ev = _ev(spark, sf_dir)
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("bigint"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic Value cells through Spark 4 VARIANT (SURVEY §1.2 /
    reference value.rs:148-153, the r3 verdict's 'native mapping' item):
    parse the JSON cell once into a binary variant, extract typed leaves
    with try_variant_get (bigint AND lenient string views of the same
    leaf), and count distinct per-row dynamic shapes. The shape key is
    the SORTED top-level key list — deliberately not schema_of_variant
    vs json_structure, whose type-equivalence classes differ between
    engines (DuckDB types a negative int BIGINT but a positive one
    UBIGINT and preserves key order; Spark is sign-insensitive and
    key-sorts), so that pair only agreed by accident of the current
    testdata. Same aggregation shape as json_props; the DuckDB oracle
    extracts from the JSON string."""
    from amadeus_spark.sources.readers import variant_cells

    ev = _ev(spark, sf_dir)
    v = variant_cells(ev, "props")
    return (
        v.select(
            "event_type",
            F.expr("try_variant_get(v, '$.k', 'bigint')").alias("k"),
            F.expr("cast(try_variant_get(v, '$.k', 'string') as string)").alias(
                "ks"
            ),
            F.expr(
                "coalesce(array_join(array_sort(json_object_keys(props)), ','), '')"
            ).alias("vshape"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.max(F.length("ks")).cast("bigint").alias("max_k_digits"),
            F.countDistinct("vshape").cast("bigint").alias("n_shapes"),
        )
        .orderBy("event_type")
    )


def q_fold_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fold/CombinerSync as pandas UDAF (operators/udaf.py): per-flag
    custom sum + mean over integral-valued quantities (exact, so the SQL
    oracle matches digit-for-digit)."""
    from amadeus_spark.operators import udaf

    li = _t(spark, sf_dir, "lineitem")
    return udaf.grouped_custom_agg(li, "l_returnflag", "l_quantity")


# --- approximate variants (no SQL oracle — sketch estimates; the driver
# records rows-only checks for these, per the contract) ---------------------


def q_compensated_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kahan/Welford parity path (reference par_sink/mean.rs:47-69,
    stddev.rs:46-72): fsum-exact per-partition partials + Chan merge in
    deterministic partition order — see operators/aggregates.py.
    Rows-only by nature: the POINT is a summation tighter than either
    engine's plain double sum, so neither DuckDB's SUM(double) nor a
    rounding trick is a valid oracle; tests/test_compensated.py pins it
    against math.fsum ground truth instead (including the adversarial
    sequence where plain avg collapses to ~0)."""
    li = _t(spark, sf_dir, "lineitem")
    return aggregates.compensated_moments(li, "l_extendedprice")


def q_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (functions/bloom.py) — the map-side
    scale path for probe sets too big to broadcast as a join relation.
    SELF-CHECKING output: n_missed (exactly-contaminated docs the bloom
    does not flag) is forced to 0 by the no-false-negative guarantee,
    and n_exact matches dedup.decontamination_stats (asserted in
    tests/test_bloom.py). Rows-only: membership rides on xxhash64,
    which DuckDB does not implement."""
    from amadeus_spark.functions import bloom

    docs = _t(spark, sf_dir, "documents")
    return bloom.decontamination_bloom_stats(spark, docs)


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """most_distinct approx mode: HLL++ rsd=0.05 (reference HLL ε→p,
    distinct.rs:152-166). Estimates differ engine-to-engine by design."""
    return sketches.most_distinct(
        _t(spark, sf_dir, "lineitem"), "l_suppkey", "l_partkey", 10, error_rate=0.05
    )


def q_most_frequent_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """most_frequent in true sketch form (functions/sketch_lib.py):
    per-partition CMS+TopK partials, driver union — the reference's
    algorithm (top.rs spec, conservative update). Rows-only check:
    estimates are CMS upper bounds, not SQL-reproducible."""
    from amadeus_spark.functions.sketch_lib import most_frequent_sketch

    ev = _ev(spark, sf_dir)
    top = most_frequent_sketch(ev, "event_type", 5, probability=0.99, tolerance=0.0001)
    return _local_rows_df(spark, top or [("<empty>", 0)], "event_type string, est_freq bigint")


def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample_unstable(k) (sample.rs:125-185): exact-k uniform reservoir;
    seeded rand is Spark-internal so no cross-engine oracle."""
    od = _t(spark, sf_dir, "orders")
    return sampling.reservoir_sample(od.select("o_orderkey"), 50, seed=42)


def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline in one declarative plan:
    quality-filter documents → remove MinHash-LSH near-duplicates (keep
    the lower doc_id of each pair) → per-language corpus stats. The
    composition every stage was built for; each stage is the operator
    verified individually elsewhere."""
    docs = _t(spark, sf_dir, "documents")
    # stage the token count once: the quality ratio consumes it here and
    # the final agg sums it over survivors — without the staged column
    # the agg re-tokenizes every surviving doc from raw text
    staged = docs.withColumn(
        "__ntok", F.expr("size(filter(split(text, ' '), x -> x != ''))")
    )
    quality = (
        F.expr("cast(" + text.stopword_count_sql("text") + " as double)")
        / F.col("__ntok").cast("double")
    )
    kept = staged.withColumn("__q", quality).filter(F.col("__q") >= 0.05)
    # dedup AFTER the quality filter (standard pipeline order): the
    # MinHash stage — the expensive one — only sees surviving docs
    pairs = dedup.minhash_lsh_pairs(
        kept, "doc_id", "text", threshold=0.8, max_bucket_size=LSH_MAX_BUCKET
    )
    drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    # no broadcast hint: the drop list is O(corpus duplicates) — unbounded
    # at scale (billions of ids at realistic dup rates). AQE picks
    # broadcast at runtime when it happens to be small.
    surviving = kept.join(drop, "doc_id", "left_anti")
    return (
        surviving.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__ntok").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


# --- event-time / window operators (events table) -------------------------


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amadeus_spark.tables import load_events

    return load_events(spark, sf_dir)


#: gap_fill gate query: keep only high-value events so ~60% of the
#: 15-min grid buckets are EMPTY and the LOCF/interpolation paths do
#: real work (the raw stream is dense at every resolution).
GAP_FILL_MIN_VALUE = 15.0


def q_gap_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable gap-filling (operators/timeseries.py — the
    time_bucket_gapfill + locf + interpolate shape; q_time_rollup is
    the continuous-aggregate half): per event_type, a dense 15-minute
    grid anchored at the key's first observation, deterministic
    last-in-bucket values, LOCF and linear interpolation via
    ignore-nulls windows. Bucket indices are RELATIVE integers so
    session-timezone offsets cancel; the lerp expression shape is
    token-identical in both dialects for bit-exact doubles."""
    ev = _ev(spark, sf_dir).filter(F.col("value") > GAP_FILL_MIN_VALUE)
    return timeseries.gap_fill(ev)


def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell-style fuzzy entity matching (operators/fuzzy.py):
    customers whose names are within edit distance 1, blocked by
    deletion-neighborhood equi-join (O(n·L) variants, no all-pairs,
    plan-tested no-cartesian), levenshtein-verified, summarized per
    market segment. Hash-exact: both engines implement levenshtein
    with unit costs."""
    cust = _t(spark, sf_dir, "customer")
    return fuzzy.fuzzy_match_stats(
        cust, "c_custkey", "c_name", "c_mktsegment"
    )


#: account-code population for the d=2 fuzzy join: 8 random-looking
#: decimal digits derived from c_custkey via the portable hash32 (the
#: url_dedup precedent for synthesizing a column the testdata lacks).
#: 8 digits is the demo sweet spot: ~2.6k genuine d≤2 pairs at sf0.1
#: (clerical-error account matching), not the ~4M degenerate pairs that
#: TPC-H's sequential zero-padded c_name ids produce at d=2.
FUZZY_CODE_MOD = 100_000_000


def _fuzzy_code_frags() -> tuple[str, str]:
    from amadeus_spark.functions.dedup import hash32_frag

    hs, hd = hash32_frag(
        "cast(c_custkey as string)", "CAST(c_custkey AS VARCHAR)"
    )
    return (
        f"lpad(cast({hs} % {FUZZY_CODE_MOD} as string), 8, '0')",
        f"lpad(CAST({hd} % {FUZZY_CODE_MOD} AS VARCHAR), 8, '0')",
    )


def q_fuzzy_code_match_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-2 fuzzy self-join (operators/fuzzy.py): SymSpell
    depth-2 deletion neighborhoods (provably complete for d ≤ 2, module
    docstring) turned into one variant equi-join — O(n·L²) exploded
    rows, no all-pairs stage — then banded levenshtein ≤ 2 verify.
    The ORACLE is deliberately a BRUTE-FORCE cross-levenshtein (feasible
    at oracle sf): it shares no blocking code with the Spark side, so a
    blocking recall bug cannot hide in a shared fragment."""
    sfrag, _ = _fuzzy_code_frags()
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.expr(sfrag).alias("code"), "c_mktsegment"
    )
    return fuzzy.fuzzy_match_stats(
        cust, "c_custkey", "code", "c_mktsegment", max_dist=2
    )


#: d=3 fuzzy gate constants, shared by BOTH dialects (iron rule 7):
#: 16-char codes (two full-entropy 8-digit hash halves — segment
#: blocking needs segment entropy) with PLANTED near-dup structure:
#: customers in the same div-4 group share a base code and member
#: r = c_custkey % 4 mutates the first r of these three positions, so
#: every within-group pair differs at ≤ 3 positions (edit distance ≤ 3
#: by construction); cross-group pairs are random 16-digit strings.
FUZZY16_MUT_POS = (4, 9, 14)
FUZZY16_HALF_MOD = 100_000_000


def _fuzzy16_mutation_steps() -> list[tuple[int, str]]:
    """(position, digit-salt) per mutation step — one constant list
    drives both dialects' surgery."""
    return [(p, f"fzM{i}") for i, p in enumerate(FUZZY16_MUT_POS, 1)]


def _fuzzy16_spark(cust: DataFrame) -> DataFrame:
    """(c_custkey, code, c_mktsegment) with the planted-near-dup code,
    Spark side. Base and mutation digits are STAGED as columns (the
    CLAUDE.md no-CSE rule: inlining the md5 base into three nested
    mutations would re-evaluate it per reference)."""
    from amadeus_spark.functions.dedup import hash32_frag

    g = "cast(c_custkey div 4 as string)"
    h1, _ = hash32_frag(f"concat('fzA', {g})", "")
    h2, _ = hash32_frag(f"concat('fzB', {g})", "")
    out = cust.withColumn(
        "b",
        F.expr(
            f"concat(lpad(cast({h1} % {FUZZY16_HALF_MOD} as string), 8, '0'),"
            f" lpad(cast({h2} % {FUZZY16_HALF_MOD} as string), 8, '0'))"
        ),
    )
    prev = "b"
    for i, (pos, salt) in enumerate(_fuzzy16_mutation_steps(), 1):
        hx, _ = hash32_frag(
            f"concat('{salt}', cast(c_custkey as string))", ""
        )
        out = out.withColumn(
            f"m{i}",
            F.expr(
                f"concat(substring({prev}, 1, {pos - 1}),"
                f" cast({hx} % 10 as string), substring({prev}, {pos + 1}))"
            ),
        )
        prev = f"m{i}"
    return out.select(
        "c_custkey",
        F.expr(
            "CASE c_custkey % 4 WHEN 0 THEN b WHEN 1 THEN m1"
            " WHEN 2 THEN m2 ELSE m3 END"
        ).alias("code"),
        "c_mktsegment",
    )


def _fuzzy16_duck_cte() -> str:
    """DuckDB CTE chain ending in c(k, n, grp) — same constants, same
    surgery, staged through CTEs for the same no-CSE reason."""
    from amadeus_spark.functions.dedup import hash32_frag

    g = "CAST(c_custkey // 4 AS VARCHAR)"
    _, h1 = hash32_frag("", f"('fzA' || {g})")
    _, h2 = hash32_frag("", f"('fzB' || {g})")
    digit_parts = []
    for i, (_, salt) in enumerate(_fuzzy16_mutation_steps(), 1):
        _, hx = hash32_frag("", f"('{salt}' || CAST(c_custkey AS VARCHAR))")
        digit_parts.append(f"CAST({hx} % 10 AS VARCHAR) AS x{i}")
    digit_cols = ", ".join(digit_parts)
    steps = []
    prev = "b"
    for i, (pos, _) in enumerate(_fuzzy16_mutation_steps(), 1):
        steps.append(
            f"c{i} AS (SELECT *, substr({prev}, 1, {pos - 1}) || x{i} ||"
            f" substr({prev}, {pos + 1}) AS m{i} FROM c{i - 1})"
        )
        prev = f"m{i}"
    return f"""
g AS (
  SELECT c_custkey, c_mktsegment,
         lpad(CAST({h1} % {FUZZY16_HALF_MOD} AS VARCHAR), 8, '0')
           || lpad(CAST({h2} % {FUZZY16_HALF_MOD} AS VARCHAR), 8, '0') AS b,
         {digit_cols}
  FROM customer
), c0 AS (SELECT * FROM g),
{', '.join(steps)},
c AS (
  SELECT c_custkey AS k, c_mktsegment AS grp,
         CASE c_custkey % 4 WHEN 0 THEN b WHEN 1 THEN m1
              WHEN 2 THEN m2 ELSE m3 END AS n
  FROM c{len(FUZZY16_MUT_POS)}
)"""


def q_fuzzy_code_match_d3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-3 fuzzy self-join (operators/fuzzy.py): PIGEONHOLE
    SEGMENT BLOCKING (PassJoin family — d+1 even segments, length-band
    + ±d position-window substring probes, one variant equi-join),
    complete for d ≤ 3 at O(d²) signatures per string where depth-3
    deletion neighborhoods would cost O(L³) variants. Banded
    levenshtein ≤ 3 verify in the codegen'd Project. The ORACLE is a
    BRUTE-FORCE cross-levenshtein (feasible at oracle sf): it shares
    no blocking code with the Spark side, so a blocking recall bug
    cannot hide in a shared fragment (the fuzzy_code_match_d2
    discipline)."""
    cust = _fuzzy16_spark(_t(spark, sf_dir, "customer"))
    return fuzzy.fuzzy_match_stats(
        cust, "c_custkey", "code", "c_mktsegment", max_dist=3
    )


def q_fuzzy_dict_lookup_d3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table fuzzy LOOKUP at edit distance 3
    (operators/fuzzy.fuzzy_lookup_join_segments — the SymSpell
    dictionary shape at PassJoin depth): every customer's planted
    16-digit code probed against the DICTIONARY of base codes (the
    unmutated group representatives, c_custkey % 4 = 0), one-
    directional segment blocking (right side's segments indexed,
    left side's windowed substrings probed — complete per-pair by
    pigeonhole on the dictionary string). Per market segment: pair
    count, matched-probe count, exact levenshtein mass. The ORACLE is
    a brute-force probe×dictionary cross-levenshtein sharing no
    blocking code (the fuzzy_code_match_d3 independence discipline).
    The synthesized frame feeds the probe side, the dictionary AND
    the group rejoin — persisted, so customer is file-scanned once."""
    from amadeus_spark.cache import tracked_persist

    cust = tracked_persist(_fuzzy16_spark(_t(spark, sf_dir, "customer")))
    dico = cust.filter("c_custkey % 4 = 0").select(
        F.col("c_custkey").alias("dk"), F.col("code").alias("dn")
    )
    pairs = fuzzy.fuzzy_lookup_join(
        cust, dico, "c_custkey", "code", "dk", "dn", max_dist=3
    )
    grp = cust.select(
        F.col("c_custkey").alias("lk"), F.col("c_mktsegment").alias("grp")
    )
    return (
        pairs.join(grp, "lk")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_distinct("lk").alias("n_probes_matched"),
            F.sum("dist").cast("bigint").alias("sum_dist"),
        )
        .orderBy("grp")
    )


def q_postgres_copy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY BINARY wire decoder under the gate WITHOUT a server
    (sources/pg_golden.py): decode the COMMITTED golden byte stream
    (documented PGCOPY format — signature, flags, per-tuple field
    count, length-prefixed send() payloads; reference transfer
    mechanism amadeus-postgres/src/lib.rs:245) through
    postgres_copy._decode_pg_binary and project to gate-safe types
    (dates/timestamps → ISO string / epoch-µs offset). The oracle is
    the expected values as plain literals derived from the same
    GOLDEN_ROWS constant; a test pins fixture bytes == the encoder's
    output so the committed artifact can't drift. Driver-side decode
    of a 612-byte stream — parallelism is not the point here; the
    distributed COPY path (per-range psql tasks in mapInPandas) is
    read_postgres_copy."""
    from amadeus_spark.sources import pg_golden as G
    from amadeus_spark.sources.postgres_copy import _decode_pg_binary

    with open(G.golden_fixture_path(), "rb") as f:
        raw = f.read()
    pdf = _decode_pg_binary(raw, G.GOLDEN_SCHEMA)
    pdf = pdf.astype(object).where(pdf.notna(), None)
    rows = [G._project(tuple(r)) for r in pdf.itertuples(index=False)]
    return _local_rows_df(spark, sorted(rows, key=lambda r: r[0]),
                          G.OUT_SCHEMA)


def q_webdataset_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard indexing under the gate via the committed
    golden shards (sources/webdataset.py + wds_golden.py): run the
    REAL distributed index path (one task per shard, header-hopping
    tar parse, executor-side opens) over fixtures/wds/ and emit the
    member-level byte-range plan. The oracle is the expected rows as
    plain literals, derived by REPLAYING the tar layout arithmetic
    from the same GOLDEN constant — independent of the parser under
    test; a drift test pins fixture bytes == builder output. This is
    the LAION/img2dataset shard-ingest front door: a 100 TB image-text
    corpus arrives as exactly these tars, and indexing must cost
    O(members), not O(bytes)."""
    from amadeus_spark.sources import webdataset as W
    from amadeus_spark.sources import wds_golden as WG

    _tune(spark)
    paths = [os.path.join(WG.fixture_dir(), s) for s in WG.GOLDEN]
    idx = W.read_webdataset_index(spark, paths)
    return idx.withColumn(
        "shard", F.element_at(F.split("shard", "/"), -1)
    ).orderBy("shard", "offset")


def q_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset WRITE side (sources/webdataset.write_webdataset_shards
    — the img2dataset output half): shard the GOLDEN members through
    the REAL distributed writer (two-level size-balanced cut, one task
    per shard, GNU-longname-capable deterministic tar emission,
    write-time index + parquet sidecars), then RE-INDEX the written
    tars with the distributed parser and emit that. The oracle replays
    the layout CONTRACT sequentially (wds_golden.expected_written_index
    — global key order, cumulative-bytes cuts, within-shard ordering,
    tar header arithmetic), independent of the distributed cumsum, the
    writer's bookkeeping AND the parser — three mechanisms pinned by
    one expectation. Write-time index == re-index is separately pinned
    by tests. Materializes eagerly BY NATURE (a writer is an action —
    the cdc_apply posture); shards live under a per-call tempdir
    removed before returning."""
    import glob as _glob
    import shutil
    import tempfile

    from amadeus_spark.sources import webdataset as W
    from amadeus_spark.sources import wds_golden as WG

    _tune(spark)
    rows = [
        (k, s, bytearray(c)) for k, s, c in WG.writer_members()
    ]
    df = spark.createDataFrame(
        rows, "sample_key string, slot string, content binary"
    )
    tmp = tempfile.mkdtemp(prefix="amadeus_wds_rt_")
    try:
        W.write_webdataset_shards(
            df, tmp, target_shard_bytes=WG.WRITE_TARGET
        ).count()
        shards = sorted(_glob.glob(os.path.join(tmp, "*.tar")))
        # GOLDEN-FIXTURE-ONLY collect-and-rewrap: the re-index must
        # outlive the per-call tempdir the shards live in, and the
        # member set is the bounded committed golden (dozens of rows).
        # Do NOT copy this shape into a query over sf-scale data —
        # storage queries there return the lazy frame and let the
        # driver collect (the cdc_apply posture).
        got = W.read_webdataset_index(spark, shards).collect()
        out = [
            (
                os.path.basename(r["shard"]),
                r["member"],
                r["sample_key"],
                r["slot"],
                r["offset"],
                r["size"],
            )
            for r in got
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _local_rows_df(
        spark,
        sorted(out, key=lambda r: (r[0], r[4])),
        ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in W.INDEX_SCHEMA.fields
        ),
    )


#: cohort gate query: rare events (value > 28) spread users' first-seen
#: period across the timeline; 1-day periods give a real retention
#: triangle (dense raw events put every user in cohort 0).
COHORT_MIN_VALUE = 28.0
COHORT_PERIOD_US = 24 * 3600 * 1_000_000


def q_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour RANGE-frame aggregates per event
    (operators/timeseries.rolling_window_stats): time-based sliding
    count + exact micro-unit sum, offsets relative to each key's min
    ts (timezone-proof), peers-on-ties per SQL RANGE semantics —
    the temporal-frame complement to q_window_functions' row frames.
    Keyed per (event_type, user_id): RANGE frames cannot shard, so
    the series key must be FINE for the partition count to grow with
    the data (the sequence_packing lesson)."""
    return timeseries.rolling_window_stats(_ev(spark, sf_dir))


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step conversion funnel view→click→purchase within 24 h
    (operators/timeseries.funnel): per-stage converted-user counts and
    exact integer-µs total entry→step latency. Stage frames shrink
    monotonically (one row per converted user), so every join after
    the first is against an ever-smaller set — no windows, no
    event-side state."""
    return timeseries.funnel(_ev(spark, sf_dir))


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle (operators/timeseries.cohort_retention)
    over rare (value > 28) events at 1-day periods: users grouped by
    first-seen period, counted in each later active period. Global
    anchor via 1-row aggregate broadcast (the Q11 pattern — no empty
    partitionBy window); all-integer output."""
    ev = _ev(spark, sf_dir).filter(F.col("value") > COHORT_MIN_VALUE)
    return timeseries.cohort_retention(ev, period_us=COHORT_PERIOD_US)


def q_event_anomaly_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.stream_static_enrich under the gate:
    per-user value profiles built from the first ~2/3 of the event
    history score the final third — an event is anomalous when its
    value exceeds 2x the user's historical mean. The mean never
    materializes as a float: the flag compare is the exact integer
    cross-multiply v_us * n > 2 * sum_us (user row counts are positive,
    so the inequality direction is preserved), and the output is pure
    counts. Cold-start users (no history) pass through unflagged."""
    ev = _ev(spark, sf_dir)
    cutoff = F.to_date(F.col("ts")) >= F.lit("2024-01-21")
    v_us = F.round(F.col("value") * 1e6).cast("long")
    hist = (
        ev.filter(~cutoff)
        .groupBy(F.col("user_id").alias("h_user"))
        .agg(F.sum(v_us).alias("sum_us"), F.count(F.lit(1)).alias("n_hist"))
    )
    cur = ev.filter(cutoff)
    j = cur.join(hist, cur.user_id == F.col("h_user"), "left")
    anomalous = v_us * F.col("n_hist") > 2 * F.col("sum_us")
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum(F.when(anomalous, 1).otherwise(0)).cast("long").alias("n_anomalous"),
            F.sum(F.when(F.col("n_hist").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_coldstart"),
        )
        .orderBy("event_type")
    )


def q_grouped_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-N (top-3 parts per supplier nation by revenue) — the
    per-key ranking every reporting pipeline writes: one aggregate on
    (nation, part) then a rank window over the small post-agg frame
    (never over raw rows); revenue in exact micro-units so rank ties
    cannot drift, with a partkey tie-break for determinism."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    rev_us = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6
    ).cast("long")
    per = (
        li.join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "l_partkey")
        .agg(F.sum(rev_us).alias("rev_us"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("rev_us"), F.asc("l_partkey")
    )
    return (
        per.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select(
            "n_name", "rnk", "l_partkey",
            (F.col("rev_us") / F.lit(1e6)).alias("revenue"),
        )
        .orderBy("n_name", "rnk")
    )


def q_group_sink_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composable per-group sinks (operators/group_sink.py — the
    reference's group_by(nested sink), par_sink/group_by.rs:23-392):
    per customer nation, ONE pass computes a count sink, an exact
    money-sum sink, a deterministic exact-5 sample sink, and a top-3
    by-balance sink, via the two-level push/merge tree (bounded state
    per partition at every stage — no window, no whole-group
    collection). Arrays are projected to comma-joined strings for the
    scalar-only output contract."""
    from amadeus_spark.operators import group_sink as gs

    cu = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    j = cu.join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
    out = gs.group_by_sink(
        j,
        ["n_name"],
        {
            "n_customers": gs.count(),
            "total_acctbal": gs.money_sum("c_acctbal"),
            "sample_custkeys": gs.sample_k("c_custkey", 5, salt="gbs"),
            "top_custkeys": gs.top_n("c_acctbal", "c_custkey", 3),
        },
    )
    joined = lambda c: F.expr(  # noqa: E731
        f"array_join(transform({c}, x -> cast(x as string)), ',')"
    ).alias(c)
    return out.select(
        "n_name",
        "n_customers",
        "total_acctbal",
        joined("sample_custkeys"),
        joined("top_custkeys"),
    ).orderBy("n_name")


def q_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite (functions/quality.py, the deequ
    shape): row predicates + key uniqueness fold into ONE conditional
    aggregate over a single lineitem scan; the orders foreign key is
    one anti-join. Constants chosen so some checks PASS (0) and some
    FAIL (>0) — an all-zero report can't tell a working validator from
    a broken one."""
    from amadeus_spark.functions import quality

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    return quality.expectation_report(
        li,
        predicates={
            "qty_in_1_50": F.col("l_quantity").between(1, 50),
            "qty_in_1_40": F.col("l_quantity").between(1, 40),  # fails
            "discount_le_10pct": F.col("l_discount") <= 0.10,
            "orderkey_not_null": F.col("l_orderkey").isNotNull(),
            "returnflag_in_domain": F.col("l_returnflag").isin("A", "N", "R"),
        },
        unique_keys={"line_identity_unique": ["l_orderkey", "l_linenumber"]},
        foreign_keys={"orderkey_fk_orders": (od, "l_orderkey", "o_orderkey")},
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-biased deterministic exact-k sample (sampling.py; beyond
    the reference's unweighted reservoir, sample.rs:125-185): orders
    sampled proportionally-ish to o_totalprice via hash/weight ranking
    — exact across engines because the rank is one IEEE division of an
    integer hash (pow()'s libm rounding would not be)."""
    od = _t(spark, sf_dir, "orders")
    return sampling.weighted_sample(od, "o_orderkey", "o_totalprice", 25).select(
        "o_orderkey", "o_totalprice"
    )


def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bucket) histogram via decile CUT POINTS +
    map-side bucketing (the storage.py z-order pattern): one aggregate
    computes the 9 interior deciles, broadcast back onto the scan, and
    each row's bucket is 1 + count(cuts below it) — pure codegen'd
    comparisons, ONE shuffle (the final tiny groupBy). The previous
    global-ntile window sorted EVERY row through a single task — the
    canonical 100×-scale killer. Cut points are computed over exact
    integer micro-units so both engines interpolate identical doubles
    (q_percentiles proved percentile ≡ quantile_cont bit-for-bit).
    Ties at a cut land in the lower bucket in both engines. At 100 TB
    the exact-percentile agg becomes percentile_approx (registered as
    the `percentile_band` scale path) — the bucketing plan is
    unchanged."""
    od = _t(spark, sf_dir, "orders").withColumn(
        "v_us", F.round(F.col("o_totalprice") * 1e6).cast("long")
    )
    ps = ", ".join(f"{k / 10:.1f}D" for k in range(1, 10))
    cuts = od.agg(F.expr(f"percentile(v_us, array({ps}))").alias("__cuts"))
    bucket = F.lit(1)
    for k in range(1, 10):
        bucket = bucket + F.when(
            F.col("v_us") > F.element_at(F.col("__cuts"), k), 1
        ).otherwise(0)
    return (
        od.join(F.broadcast(cuts))
        .withColumn("bucket", bucket.cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


def q_scd2_user_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type 2 from the events change log (operators/scd.py): per
    user, consecutive same-type events collapse into one episode with a
    1-based sequence number and the microsecond gap to the next episode
    (-1 while current). Two window passes over one (user)-partitioned
    sort — no self-join. The oracle mirrors clause for clause."""
    from amadeus_spark.operators.scd import scd2_from_changelog

    ev = _ev(spark, sf_dir)
    out = scd2_from_changelog(
        ev, ["user_id"], "ts", ["event_type"], "event_id"
    )
    return out.orderBy("user_id", "seq")


def q_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation — the reference's flagship CloudFront
    query shape (examples/cloudfront_logs.rs:33-40: truncate_minutes(60)
    → group_by → count) on the events table."""
    ev = _ev(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _money_sum(F.col("value")).alias("total_value"),
        )
        .orderBy("hour", "event_type")
        .limit(100)
    )


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (beyond the reference;
    the timeseries-DB continuous-aggregate pattern): the hourly
    aggregate is computed ONCE from raw events, and the day resolution
    merges the hourly partials (sum-of-sums) instead of rescanning raw —
    at 100 TB the raw table is read once regardless of how many
    resolutions are served. Partials are kept as exact integer
    micro-units so the merge is bit-identical to a direct day-level
    aggregation (the oracle's formulation). Hourly frame feeds two
    consumers, so it is persisted — through the tracked registry, so
    long-lived sessions can release it (the round-3 advice leak class;
    a bare .persist() here was the last unregistered one)."""
    from amadeus_spark.cache import tracked_persist

    ev = _ev(spark, sf_dir)
    hourly = tracked_persist(
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 1e6).cast("long")).alias("v_us"),
        )
    )

    def _summarize(frame: DataFrame, resolution: str) -> DataFrame:
        return frame.groupBy("event_type").agg(
            F.lit(resolution).alias("resolution"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("n").alias("n_events"),
            (F.sum("v_us") / F.lit(1e6)).alias("total_value"),
        )

    daily = hourly.groupBy(
        F.date_trunc("day", F.col("bucket")).alias("bucket"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("v_us").alias("v_us"))
    out = _summarize(hourly, "hour").unionByName(_summarize(daily, "day"))
    return out.select(
        "resolution", "event_type", "n_buckets", "n_events", "total_value"
    ).orderBy("resolution", "event_type")


def q_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/analytic/frame window functions (absent in the reference,
    SURVEY §2.6): row_number, lag, running sum per user ordered by time."""
    ev = _ev(spark, sf_dir)
    ev.createOrReplaceTempView("__events_w")
    return spark.sql(
        """
        SELECT user_id, event_id, rn, prev_value, running_value
        FROM (
            SELECT user_id, event_id,
                   row_number() OVER w AS rn,
                   coalesce(lag(value) OVER w, cast(-1 as double)) AS prev_value,
                   sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS running_value
            FROM __events_w
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ) WHERE user_id < 5 AND rn <= 3
        ORDER BY user_id, rn
        """
    )


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows in batch (gaps-and-islands, 30-min gap) — batch
    twin of streaming session_window; per-user session counts."""
    ev = _ev(spark, sf_dir)
    ev.createOrReplaceTempView("__events_s")
    return spark.sql(
        """
        WITH e AS (
          SELECT user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          FROM __events_s
        ), f AS (
          SELECT user_id, ts,
                 CASE WHEN prev_ts IS NULL
                           OR ts > prev_ts + INTERVAL 30 MINUTES THEN 1
                      ELSE 0 END AS new_sess
          FROM e
        )
        SELECT user_id, sum(new_sess) AS n_sessions, count(*) AS n_events
        FROM f GROUP BY user_id ORDER BY user_id
        """
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (timeseries; beyond the reference): for each purchase,
    the same user's latest click at-or-before it; corpus-level stats so
    output is compact. Gap summed in exact integer microseconds."""
    ev = _ev(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    j = joins.asof_join(
        purchases,
        clicks,
        on_keys=["user_id"],
        left_time="ts",
        right_time="ts",
        direction="backward",
        left_id_cols=["event_id"],
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.count("r_ts").alias("n_matched"),
        # timestampdiff is wall-clock exact and works on TIMESTAMP_NTZ
        # (unix_micros rejects NTZ); matches DuckDB epoch_us(a)-epoch_us(b).
        F.sum(F.expr("timestampdiff(MICROSECOND, r_ts, ts)")).alias("total_gap_us"),
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join (beyond the reference; standard in timeseries
    engines): count/revenue of lineitems shipped within 30 days after
    each sampled order's date — a pure interval join with NO equi key,
    which OSS Spark would otherwise plan as BroadcastNestedLoopJoin.
    The binned plan (joins.range_join) explodes intervals to ~2-3
    16-day bins and equi-joins on the bin, staying shuffle-based at any
    scale."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    od = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
    ivals = orders.filter(F.col("o_orderkey") % 997 == 0).select(
        F.col("o_orderkey").alias("ival_id"),
        od.alias("lo"),
        (od + F.lit(30)).alias("hi"),
    )
    pts = li.select(
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01")).alias("pt"),
        F.col("l_extendedprice"),
    )
    j = joins.range_join(pts, ivals, "pt", "lo", "hi", bin_width=16)
    return (
        j.groupBy("ival_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _money_sum(F.col("l_extendedprice")).alias("sum_price"),
        )
        .orderBy("ival_id")
    )


def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join (operators/storage.py): lineitem x
    supplier revenue by nation through an explicit 8-way salt. The salt
    spreads any hot supplier key over 8 reducers; multiplicity is exact
    (each left row meets exactly its salt's replica) so the aggregate is
    hash-identical to the plain join the oracle runs."""
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"),
        F.col("s_nationkey").cast("bigint").alias("s_nationkey"),
    )
    j = storage.salted_join(li, supp, "l_suppkey", n_salts=8)
    return (
        j.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _money_sum(F.col("l_extendedprice")).alias("revenue"),
        )
        .orderBy("s_nationkey")
    )


# --- LLM-pipeline: text analysis ------------------------------------------

_SIM_QUERY_IDS = [0, 1, 2, 3, 4]


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword token counting + rolling-hash fingerprinting
    (functions/text.py): per language, whitespace vs subword token
    totals and distinct order-sensitive fingerprints — one projection,
    one groupBy, all Catalyst (regexp_extract_all + HOF fold, no
    Python)."""
    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "lang",
        text.bpe_token_count(F.col("text")).cast("bigint").alias("__bpe"),
        F.expr("filter(split(text, ' '), x -> x != '')").alias("__toks"),
    ).select(
        "lang",
        "__bpe",
        F.size("__toks").cast("bigint").alias("__ws"),
        text.rolling_fingerprint("__toks").alias("__fp"),
    )
    return (
        staged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__ws").alias("ws_tokens"),
            F.sum("__bpe").alias("bpe_tokens"),
            F.countDistinct("__fp").alias("n_distinct_fp"),
        )
        .orderBy("lang")
    )


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring per language (functions/text.py):
    whole corpus in one projection + one groupBy."""
    docs = _t(spark, sf_dir, "documents")
    # staged: tokenize/count once per row as columns (the inlined
    # composite recomputes the split per sub-expression — measured ~2×)
    per_doc = docs.select(
        "lang",
        F.expr("size(filter(split(text, ' '), x -> x != ''))").alias("n_tokens"),
        text.stopword_count("text").alias("__stop"),
        text.punct_count("text").alias("__punct"),
        F.length("text").alias("__nchar"),
    ).withColumn(
        "q",
        F.expr(
            "cast(__stop as double) / cast(n_tokens as double) * 0.5"
            " + least(cast(n_tokens as double) / 100.0, 1.0) * 0.3"
            " + (1.0 - cast(__punct as double) / cast(__nchar as double)) * 0.2"
        ),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.col("q").cast("decimal(18,9)")).cast("double").alias("quality_sum"),
        )
        .orderBy("lang")
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic n-gram language-ID histogram (functions/text.py lang_id)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(text.lang_id("text").alias("pred_lang"))
        .groupBy("pred_lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("pred_lang")
    )


#: committed PII fixture (scripts/make_pii_fixture.py): planted emails/
#: phones/IPv4 in clean text — the synthetic documents table has no PII,
#: which would make this gate check degenerate.
_PII_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "pii_docs.parquet"
)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII exposure report (the always-on first scrubbing stage of a
    training-data pipeline): per-language docs containing each PII class
    + total redacted characters. Regex patterns are portable between
    Java regex and RE2 (character classes + bounded quantifiers only) so
    the DuckDB oracle applies the identical rewrite."""
    _tune(spark)
    docs = spark.read.parquet(_PII_FIXTURE)
    return text.pii_stats(docs)


_XML_FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "xml_docs"
)
_XML_TRUTH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "xml_docs_truth.parquet"
)


def q_html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (functions/html.py): every document is
    wrapped in a deterministic synthetic page (script/style/comment
    blocks, nested tags, entities — both dialects build the SAME page),
    the dual-dialect regex pipeline extracts the text, and the check is
    strict: per-lang doc/char/token counts PLUS a content checksum —
    the SUM of a per-row hash32(doc_id ‖ extracted text) — so one
    character of Java-vs-RE2 divergence anywhere in the corpus flips
    the value. The sum is order-independent and MERGEABLE (partial
    aggregation map-side), unlike a collect-and-concat digest, which
    would buffer every extracted string of a language in one
    aggregation state — the low-cardinality-key blowup this round
    removed from sequence_packing. This is the Common Crawl ingestion
    step between the WARC source's Webpage.contents and the text
    operators."""
    from amadeus_spark.functions import html
    from amadeus_spark.functions.dedup import hash32_frag

    docs = _t(spark, sf_dir, "documents")
    ext = docs.select(
        "doc_id",
        "lang",
        html.html_to_text(html.wrap_as_html(F.col("text"))).alias("txt"),
    )
    hs, _ = hash32_frag("concat(cast(doc_id as string), '\\u0001', txt)", "")
    ntok = "size(filter(split(txt, '\\\\s+'), x -> x != ''))"
    return (
        ext.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("txt")).cast("long").alias("total_chars"),
            F.sum(F.expr(ntok)).cast("long").alias("total_tokens"),
            F.sum(F.expr(hs)).cast("long").alias("content_sum"),
        )
        .orderBy("lang")
    )


#: target corpus composition for the mixture-resampling gate query —
#: ONE constant drives both dialects (iron rule 7)
MIXTURE_WEIGHTS = {"en": 0.4, "zh": 0.2, "es": 0.2, "de": 0.1, "fr": 0.1}
MIXTURE_K = 150


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture resampling (operators/sampling.py): draw
    exactly round(150·w) documents per language so the output corpus
    hits the target composition regardless of input skew — the
    training-data mixture primitive. Selection is the fixed md5
    permutation per stratum (one window shuffle, quota as a broadcast
    CASE); strict hash over every sampled row."""
    from amadeus_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    out = sampling.mixture_sample(docs, "lang", "doc_id", MIXTURE_K, MIXTURE_WEIGHTS)
    return out.select("lang", "doc_id").orderBy("lang", "doc_id")


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (operators/sampling.py): epoch-keyed
    hash assigns every document a (shard, position); any worker can
    recompute its slice bit-exactly — the training-data ordering
    primitive. Gate check: per-shard count plus an ORDER-SENSITIVE
    checksum (sum of pos·hash32(doc_id)) so a single transposition
    anywhere flips the value; strict hash vs the DuckDB twin."""
    from amadeus_spark.functions.dedup import hash32_frag
    from amadeus_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    out = sampling.epoch_shuffle(docs, "doc_id", n_shards=16, epoch=3)
    hs, _ = hash32_frag("concat('ck', cast(doc_id as string))", "")
    return (
        out.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("pos") * F.expr(hs)).cast("long").alias("order_sum"),
        )
        .orderBy("shard")
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup (functions/urls.py): deterministic raw
    URL variants are derived from documents (same construction in both
    dialects — case/port/tracking-param/param-order noise over a shared
    page identity), canonicalized with the dual-dialect pipeline, and
    grouped: distinct raw forms collapse onto each canonical URL. The
    crawl-frontier dedup primitive; pure Catalyst regex/array exprs, one
    shuffle."""
    from amadeus_spark.functions import urls

    docs = _t(spark, sf_dir, "documents")
    raw = F.expr(
        """CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN concat('http://example.com/page/', CAST(doc_id % 50 AS STRING))
            WHEN 1 THEN concat('HTTP://EXAMPLE.COM:80/page/', CAST(doc_id % 50 AS STRING), '?utm_source=feed')
            WHEN 2 THEN concat('http://example.com/page/', CAST(doc_id % 50 AS STRING), '?b=2&a=1&gclid=', CAST(doc_id AS STRING))
            ELSE concat('http://example.com/page/', CAST(doc_id % 50 AS STRING), '?a=1&b=2')
        END"""
    )
    return (
        docs.select(raw.alias("raw_url"))
        .select("raw_url", urls.canonicalize_url(F.col("raw_url")).alias("canon"))
        .groupBy("canon")
        .agg(
            F.count(F.lit(1)).alias("n_fetches"),
            F.count_distinct("raw_url").alias("n_raw_forms"),
        )
        .orderBy("canon")
    )


def q_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source e2e (beyond the reference's format family; Spark 4
    built-in): read a 3-file XML directory with an explicit schema,
    aggregate per item name. The oracle reads the generator's parquet
    TWIN of the same records, so the check is parser-independent ground
    truth (the warc_stats pattern) — entity unescaping ('&amp;', angle
    brackets) must round-trip exactly for the hash to match."""
    from pyspark.sql import types as T

    from amadeus_spark.sources.readers import read_xml

    _tune(spark)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("qty", T.LongType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    df = read_xml(spark, _XML_FIXTURE_DIR, row_tag="item", schema=schema)
    return (
        df.groupBy("name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("qty").cast("long").alias("total_qty"),
            _money_sum(F.col("price") * F.col("qty")).alias("total_value"),
        )
        .orderBy("name")
    )


_LINE_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "line_docs.parquet"
)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup (RefinedWeb/CCNet boilerplate scrub):
    lines repeated across >= 3 docs removed everywhere, docs reassembled
    in order, per-doc stats + cleaned-text md5. Runs on the committed
    multi-line fixture (the driver's documents.parquet is single-line,
    so line structure must be planted — same pattern as pii_docs)."""
    _tune(spark)
    docs = spark.read.parquet(_LINE_FIXTURE)
    return dedup.line_dedup_stats(docs)


def q_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span stats (Lee et al. substring-dedup
    shape at SPAN_K(=8)-token-shingle granularity, functions/dedup.py):
    which
    token spans are shared across >=2 docs, per language — the quantity
    a span-removal pass would delete. One staged shingle-hash frame
    feeds dup table, interval-union window (per-doc key) and totals."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicated_span_stats(docs)


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 3-token
    shingle with the probe set (doc_id % 97 == 0 stands in for the
    benchmark corpus) are flagged, per language. Probe hash set
    broadcasts; corpus explodes shingle hashes through a LEFT SEMI
    join — no corpus-side join shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.decontamination_stats(docs)


def q_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality filter (CCNet/KenLM perplexity-filter shape):
    per-language doc counts, docs flagged for high mean inverse
    conditional bigram frequency (the transcendental-free surprisal
    proxy — log() rounds differently across libm builds, so a
    hash-exact gate can't use it), corpus mean and per-doc max."""
    docs = _t(spark, sf_dir, "documents")
    return text.bigram_surprisal_stats(docs)


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition quality rules (Gopher/MassiveText
    family, token form): per-language doc counts, flag counts for
    boilerplate (top-2-gram coverage) and low diversity (distinct-token
    ratio), with exact extrema — no float summation anywhere."""
    docs = _t(spark, sf_dir, "documents")
    return text.repetition_stats(docs)


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-shape quality rules (Rae et al. 2021 §A1.1 —
    word-count/mean-word-length bounds, symbol and bullet/ellipsis
    ratios, alphabetic-word fraction, stopword presence): per-language
    pass counts per rule + docs passing all rules. Map-only codegen'd
    projection, one count aggregate, all-BIGINT output
    (functions/gopher.py; dual-dialect from one constant set)."""
    docs = _t(spark, sf_dir, "documents")
    return gopher.gopher_report(docs)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval (functions/retrieval.py): BM25-shape top-20
    for a fixed bag-of-terms query — the sparse half of hybrid search
    next to the embedding ANN family. Rational idf core (no ln — libm
    rounding differs across builds; perplexity_filter precedent);
    per-term exact conditional sums + fixed-order addition chain make
    the double scores bit-identical across engines; full (score DESC,
    doc_id) tie-break under the LIMIT."""
    docs = _t(spark, sf_dir, "documents")
    return retrieval.bm25_topk(spark, docs)


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-context assembly: contiguous greedy packing of documents
    into fixed token-capacity bins per (language stream, id-mod shard)
    (window cumsum → floor-divide; exactly mirrored in the DuckDB
    oracle). The shard key keeps window parallelism at corpus scale —
    a handful of language streams alone would serialize the packer."""
    docs = _t(spark, sf_dir, "documents")
    return text.sequence_packing(docs, capacity=2048, n_shards=64)


def q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content fingerprint (functions/dedup.py):
    corpus-level unique/dropped stats."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup_stats(docs, "doc_id", text.fingerprint(F.col("text")))


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard verified (threshold 0.8)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.8, max_bucket_size=LSH_MAX_BUCKET
    )


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: SimHash pairs → connected
    components (iterative min-label propagation; DuckDB oracle runs the
    same closure as a recursive CTE) → per-cluster keep/drop stats.
    The missing last step of a real dedup pipeline — per-pair drops
    under-merge chains a-b, b-c. SimHash is the pair generator here
    (cheapest of the three near-dup families — the clustering operator
    is generator-agnostic; minhash_lsh_pairs plugs in identically)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=8, limit=200)
    return dedup.neardup_cluster_stats(pairs, "doc_a", "doc_b")


def q_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-doc selection per near-dup cluster (functions/dedup.py
    cluster_keep_best_stats — the RefinedWeb/FineWeb keep-one-
    representative step): SimHash pairs → connected components → keep
    the longest doc per cluster (ties toward the lowest id) via a
    single partial-aggregable padded-key MIN — no per-cluster window,
    so a web-scale boilerplate cluster combines map-side. The DuckDB
    oracle re-runs the closure as a recursive CTE and the identical
    argmax encoding."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=8, limit=200)
    return dedup.cluster_keep_best_stats(docs, pairs)


def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (functions/dedup.py): split is
    a hash of the near-dup CLUSTER representative, so near-duplicates
    never straddle train and test (the eval-contamination a per-doc
    hash split bakes in). Same SimHash pair generator as
    neardup_clusters; the DuckDB oracle re-runs the closure as a
    recursive CTE and the identical md5 bucketing."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=8, limit=200)
    return dedup.cluster_safe_split_stats(docs, pairs)


#: token budgets for q_token_budget_sample — bind at sf0.01 (en holds
#: ~11.8k tokens, others ~3.5-4.1k) and harder at every larger sf.
_TB_BUDGETS = {"en": 5000, "de": 2000, "es": 2000, "fr": 2000, "zh": 2000}


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture (operators/sampling.py): per-language token
    quotas via a two-level sharded cumsum (no whole-stratum window);
    the oracle runs the one-level cumsum, so the hash compare verifies
    the decomposition itself. Output: kept docs/tokens per language."""
    docs = _t(spark, sf_dir, "documents")
    ts, _ = dedup.toks_frag("text")
    d = docs.select(
        "lang", "doc_id", F.size(F.expr(ts)).cast("long").alias("n_tok")
    )
    kept = sampling.token_budget_sample(d, "lang", "doc_id", "n_tok", _TB_BUDGETS)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tok").cast("long").alias("tokens_kept"),
        )
        .orderBy("lang")
    )


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics (operators/aggregates.py): per event_type,
    user_id key-count skew metrics — the profiling pass that sizes
    salting/AQE thresholds before a big shuffle. WindowGroupLimit-safe
    top-k branch; one shuffle builds the key frame."""
    return aggregates.key_skew_profile(
        _ev(spark, sf_dir), "event_type", "user_id", top_k=10
    )


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the STREAMING incremental near-dup filter
    (streaming/corpus.py): stateless HOF MinHash signatures (bit-equal
    to the batch explode+agg plan, pinned by test), band equi-join
    against the corpus index, exact-Jaccard verify — the directed flag
    relation is exactly minhash_lsh_pairs symmetrized, which is what
    the oracle asserts."""
    from amadeus_spark.streaming import corpus as _sc

    docs = _t(spark, sf_dir, "documents")
    # the arriving micro-batch: 1/5 of the corpus checked against the
    # FULL historical index (the real incremental shape — the whole
    # table on the stateless side would just re-run minhash_lsh twice)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    bands, shingles = _sc.corpus_band_index(docs)
    # the stateless chain emits one row PER MATCHING BAND; the stream
    # collapses them in watermark state, the batch twin with a distinct
    return (
        _sc.neardup_flags(batch, bands, shingles, 0.8, ts_col=None)
        .distinct()
        .orderBy("doc_id", "corpus_id")
    )


#: hard-negative mining probe docs (a training micro-batch)
_HN_QUERY_IDS = [0, 7, 21, 42, 97]


def q_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-side benchmark decontamination (similarity.py): corpus
    vectors within cosine 0.4 of any probe vector (vec_id %% 97 == 0),
    candidates from the banded hyperplane LSH (probe bands broadcast),
    exact-cosine verified; per-label counts. Completes the
    decontamination family (lexical doc/span, Bloom, semantic)."""
    return similarity.semantic_decontamination_stats(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (functions/retrieval.py): per query doc the
    top-5 highest-BM25 OTHER docs — micro-unit integer scores so the
    dynamic per-query term sums stay order-independent (iron rule 2);
    WindowGroupLimit-safe per-query top-k."""
    return retrieval.hard_negatives(
        _t(spark, sf_dir, "documents"), _HN_QUERY_IDS, k=5
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (dedup.snapshot_diff_stats): per-language
    added/removed/changed/unchanged counts between the documents table
    and a deterministically synthesized next snapshot — the refresh
    bookkeeping an incremental pipeline reads first."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.snapshot_diff_stats(docs, dedup.snapshot_b_frame(docs))


#: time-travel gate constants — ONE set drives the Spark table builds
#: AND the oracle's relational snapshot reconstruction (iron rule 7).
_TT_VAL = "CAST(o_custkey AS BIGINT)"
_TT_BASE = "o_orderkey % 5 = 0"  # v0: append
_TT_W1 = "o_orderkey % 5 = 1"  # v1: append
#: v2 upsert: updates half of base (%10=0) AND inserts absent keys (%5=2)
_TT_UP = "o_orderkey % 10 = 0 OR o_orderkey % 5 = 2"
_TT_DELTA = 7


def q_time_travel_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp time travel end-to-end through real storage
    (operators/versioned.py version_as_of / read_version(as_of_ts) over
    the manifest ts field, new r11): commit three deterministic waves
    of orders to a scratch table (append, append, half-update +
    absent-key-insert upsert), take each commit's wall-clock ts from
    history(), then resolve FIVE probe instants — each commit's exact
    ts plus both midpoints — and aggregate every resolved snapshot's
    content. The probe->version mapping is deterministic by
    construction (at-or-before semantics: exact ts hits its own commit,
    midpoints hit the earlier one), so the oracle reconstructs each
    version relationally and joins it to the STATIC expected mapping —
    a version_as_of regression (off-by-one, wrong comparison) breaks
    the hash. Materializes eagerly BY NATURE (commits are actions; the
    cdc_apply posture); scratch table under a per-call tempdir."""
    import shutil
    import tempfile

    from amadeus_spark.operators import versioned as V

    orders = _t(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="amadeus_tt_")
    try:
        root = os.path.join(tmp, "vt")
        V.commit_append(
            spark,
            root,
            orders.filter(_TT_BASE)
            .selectExpr("o_orderkey AS k", f"{_TT_VAL} AS val")
            .repartitionByRange(4, "k"),
            ["k"],
        )
        V.commit_append(
            spark,
            root,
            orders.filter(_TT_W1).selectExpr(
                "o_orderkey AS k", f"{_TT_VAL} AS val"
            ),
        )
        V.commit_upsert(
            spark,
            root,
            orders.filter(_TT_UP).selectExpr(
                "o_orderkey AS k", f"{_TT_VAL} + {_TT_DELTA} AS val"
            ),
            "k",
        )
        ts = [h["ts"] for h in V.history(spark, root)]
        probes = [
            (0, ts[0]),
            (1, (ts[0] + ts[1]) / 2),
            (2, ts[1]),
            (3, (ts[1] + ts[2]) / 2),
            (4, ts[2]),
        ]
        frames = []
        for pid, at in probes:
            ver = V.version_as_of(spark, root, at)
            frames.append(
                V.read_version(spark, root, ver)
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("val").cast("bigint").alias("sum_val"),
                    F.min("k").cast("bigint").alias("min_k"),
                    F.max("k").cast("bigint").alias("max_k"),
                )
                .select(
                    F.lit(pid).cast("bigint").alias("probe"),
                    F.lit(ver).cast("bigint").alias("version"),
                    "n_rows",
                    "sum_val",
                    "min_k",
                    "max_k",
                )
            )
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        rows = out.orderBy("probe").collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _local_rows_df(spark, rows, "probe bigint, version bigint, n_rows bigint, sum_val bigint, "
        "min_k bigint, max_k bigint")



#: DML gate constants — one set drives the Spark commits AND the
#: oracle's relational reconstruction (iron rule 7).
_DML_VAL = "CAST(o_custkey AS BIGINT)"
_DML_BASE = "o_orderkey % 4 = 1"
_DML_UPD_PRED = "k % 9 = 2"
_DML_UPD_SET = "val + k"  # sees the PRE-update row by SQL UPDATE semantics
_DML_DEL_PRED = "val % 7 = 3"
#: the merge-on-read legs (mode="dv", r11 session 2): a DV DELETE then
#: a DV UPDATE chained on the rewrite legs' state — the deletion-vector
#: anti-join read path must reproduce plain SQL semantics to hash-match
_DML_DEL2_PRED = "k % 11 = 4"
_DML_UPD2_PRED = "val % 13 = 6"
_DML_UPD2_SET = "val - k"


def q_dml_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate UPDATE + DELETE DML end-to-end through real storage
    (operators/versioned.py commit_update_where / commit_delete_where,
    new r11 — Delta's UPDATE/DELETE WHERE, the GDPR-takedown shape):
    commit a base snapshot of orders, UPDATE a key-pattern slice (the
    SET expression reads the pre-update row), DELETE a value-pattern
    slice of the post-update state (so the delete predicate depends on
    the update having applied correctly), then aggregate the FINAL
    PARQUET STATE. Since r11 session 2 two MERGE-ON-READ legs chain on
    top (mode="dv": a deletion-vector DELETE, then a DV UPDATE whose
    post-images append while the pre-images DV-delete in place), so
    the final read crosses the DV anti-join path. The oracle
    reconstructs all four statements relationally (CASE for updates,
    NOT coalesce(p, false) for keep sides), so touched-file discovery,
    partial-file rewrite, carry-by-reference, DV capture/apply and all
    four commits must reproduce exact SQL DML semantics to hash-match.
    Materializes eagerly BY NATURE (commits are actions; the cdc_apply
    posture)."""
    import shutil
    import tempfile

    from amadeus_spark.operators import versioned as V

    orders = _t(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="amadeus_dml_")
    try:
        root = os.path.join(tmp, "vt")
        V.commit_append(
            spark,
            root,
            orders.filter(_DML_BASE)
            .selectExpr("o_orderkey AS k", f"{_DML_VAL} AS val")
            .repartitionByRange(4, "k"),
            ["k"],
        )
        V.commit_update_where(
            spark, root, _DML_UPD_PRED, {"val": _DML_UPD_SET}
        )
        V.commit_delete_where(spark, root, _DML_DEL_PRED)
        # merge-on-read legs: DELETE then UPDATE via deletion vectors —
        # no file rewrites; the final read goes through the DV anti-join
        V.commit_delete_where(spark, root, _DML_DEL2_PRED, mode="dv")
        V.commit_update_where(
            spark, root, _DML_UPD2_PRED, {"val": _DML_UPD2_SET}, mode="dv"
        )
        rows = (
            V.read_version(spark, root)
            .groupBy(F.expr("k % 5").alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("val").cast("bigint").alias("sum_val"),
                F.min("k").cast("bigint").alias("min_k"),
                F.max("k").cast("bigint").alias("max_k"),
            )
            .orderBy("grp")
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _local_rows_df(spark, rows, "grp bigint, n_rows bigint, sum_val bigint, "
        "min_k bigint, max_k bigint")


#: MERGE gate constants — one set drives the Spark clauses AND the
#: oracle's relational reconstruction (iron rule 7). Source keys
#: %8==1 are matched (⊂ base's %4==1), %8==2 are not-matched inserts;
#: 999 (odd — 1000 ≡ 0 mod 8 would make the residues unsatisfiable
#: inside base) picks the by-source delete/update rows.
_MG_BASE = "o_orderkey % 4 = 1"
_MG_VAL = "CAST(o_custkey AS BIGINT)"
_MG_SRC = "o_orderkey % 8 IN (1, 2)"
_MG_SVAL = "CAST(o_custkey % 1000 AS BIGINT) + 7"
_MG_DEL_MOD = 5  # matched delete: sval % 5 = 0
_MG_INS_MOD = 3  # first insert clause: sval % 3 = 0
_MG_NMBS_DEL = 7   # by-source delete: k % 999 = 7
_MG_NMBS_UPD = 13  # by-source update: k % 999 = 13
#: second merge (mode="dv", r11 session 2) — the deletion-vector merge
#: leg chained on the first merge's state; same constants drive the
#: relational reconstruction
_MG2_SRC = "o_orderkey % 16 IN (1, 10)"
_MG2_SVAL = "CAST(o_custkey % 500 AS BIGINT) + 3"
_MG2_DEL_MOD = 9   # matched delete: sval2 % 9 = 0
_MG2_NMBS_DEL = 77  # by-source delete: k % 999 = 77


def q_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General MERGE INTO end-to-end through real storage
    (operators/versioned.py commit_merge, new r11 — Delta's MERGE with
    the full clause surface): one commit exercises a CONDITIONAL
    matched delete, an unconditional matched update (SET sees both
    rows: t.val + s.sval), two ORDERED not-matched insert clauses
    (first-true wins), and not-matched-by-source delete + update —
    with changefeed capture ON; a SECOND merge then runs in
    MERGE-ON-READ mode (mode="dv" — only clause-changed rows leave
    their files via a deletion vector, post-images/inserts append), so
    the final state is read through the DV anti-join. Output = the
    final parquet state aggregated per key-group UNION both commits'
    change feeds aggregated per _change_type, so file pruning, clause
    resolution order, NULL condition semantics, DV staging AND the CDF
    pre/post splits must all reproduce the oracle's relational
    reconstruction to hash-match. Materializes eagerly BY NATURE
    (commits are actions; the cdc_apply posture)."""
    import shutil
    import tempfile

    from amadeus_spark.operators import versioned as V

    orders = _t(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="amadeus_mg_")
    try:
        root = os.path.join(tmp, "vt")
        V.commit_append(
            spark,
            root,
            orders.filter(_MG_BASE)
            .selectExpr("o_orderkey AS k", f"{_MG_VAL} AS val")
            .repartitionByRange(4, "k"),
            ["k"],
        )
        src = orders.filter(_MG_SRC).selectExpr(
            "o_orderkey AS k", f"{_MG_SVAL} AS sval"
        )
        v, _, _ = V.commit_merge(
            spark,
            root,
            src,
            "k",
            matched=[
                {"action": "delete",
                 "condition": f"s.sval % {_MG_DEL_MOD} = 0"},
                {"action": "update", "set": {"val": "t.val + s.sval"}},
            ],
            not_matched=[
                {"action": "insert",
                 "condition": f"sval % {_MG_INS_MOD} = 0",
                 "values": {"k": "k", "val": "sval"}},
                {"action": "insert",
                 "values": {"k": "k", "val": "sval * 2"}},
            ],
            not_matched_by_source=[
                {"action": "delete",
                 "condition": f"k % 999 = {_MG_NMBS_DEL}"},
                {"action": "update",
                 "condition": f"k % 999 = {_MG_NMBS_UPD}",
                 "set": {"val": "val + 1"}},
            ],
            changefeed=True,
        )
        # second merge in MERGE-ON-READ mode (deletion vectors): only
        # the clause-changed rows leave their files; the final read
        # crosses the DV anti-join, so dv-merge staging is externally
        # hash-checked too
        src2 = orders.filter(_MG2_SRC).selectExpr(
            "o_orderkey AS k", f"{_MG2_SVAL} AS sval2"
        )
        v2, _, _ = V.commit_merge(
            spark,
            root,
            src2,
            "k",
            matched=[
                {"action": "delete",
                 "condition": f"s.sval2 % {_MG2_DEL_MOD} = 0"},
                {"action": "update", "set": {"val": "t.val + s.sval2"}},
            ],
            not_matched=[
                {"action": "insert", "values": {"k": "k", "val": "sval2"}},
            ],
            not_matched_by_source=[
                {"action": "delete",
                 "condition": f"k % 999 = {_MG2_NMBS_DEL}"},
            ],
            changefeed=True,
            mode="dv",
        )
        aggs = [
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val").cast("bigint").alias("sum_val"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        ]
        state = (
            V.read_version(spark, root)
            .groupBy(F.expr("CAST(k % 5 AS STRING)").alias("grp"))
            .agg(*aggs)
            .select(F.lit("state").alias("section"), "grp", "n_rows",
                    "sum_val", "min_k", "max_k")
        )
        cdf = (
            V.table_changes(spark, root, v, v)
            .groupBy(F.col("_change_type").alias("grp"))
            .agg(*aggs)
            .select(F.lit("cdf").alias("section"), "grp", "n_rows",
                    "sum_val", "min_k", "max_k")
        )
        cdf2 = (
            V.table_changes(spark, root, v2, v2)
            .groupBy(F.col("_change_type").alias("grp"))
            .agg(*aggs)
            .select(F.lit("cdf2").alias("section"), "grp", "n_rows",
                    "sum_val", "min_k", "max_k")
        )
        rows = state.unionByName(cdf).unionByName(cdf2).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _local_rows_df(spark, rows, "section string, grp string, n_rows bigint, sum_val bigint, "
        "min_k bigint, max_k bigint")


#: RESTORE gate constants (iron rule 7). Base %4==3; the upsert wave
#: %6==1 half-updates (k≡7 mod 12 ⊂ base), half-inserts (k≡1 mod 12);
#: the delete wave is rolled back by the restore; wave2 lands after.
_RS_BASE = "o_orderkey % 4 = 3"
_RS_VAL = "CAST(o_custkey AS BIGINT)"
_RS_UP = "o_orderkey % 6 = 1"
_RS_UP_DELTA = 100
_RS_DEL_PRED = "val % 7 = 2"
_RS_W2 = "o_orderkey % 12 = 6"


def q_restore_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE VERSION AS OF end-to-end through real storage
    (operators/versioned.py restore_version, new r11 — Delta's
    RESTORE): append a base, upsert a wave (half updates / half
    inserts), DELETE a value-pattern slice, restore to the pre-delete
    version (a BY-REFERENCE relink — no data rewrite), then append a
    second wave on top of the restored state. Output = the final
    state aggregated per key-group plus the history's (version → op)
    sequence, so the restore must resurrect exactly the deleted rows
    (and no others), preserve history, and keep accepting commits.
    The oracle reconstructs v1 ∪ wave2 relationally and pins the op
    sequence as literals. Materializes eagerly BY NATURE (commits are
    actions; the cdc_apply posture)."""
    import shutil
    import tempfile

    from amadeus_spark.operators import versioned as V

    orders = _t(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="amadeus_rs_")
    try:
        root = os.path.join(tmp, "vt")
        V.commit_append(
            spark,
            root,
            orders.filter(_RS_BASE)
            .selectExpr("o_orderkey AS k", f"{_RS_VAL} AS val")
            .repartitionByRange(4, "k"),
            ["k"],
        )
        V.commit_upsert(
            spark,
            root,
            orders.filter(_RS_UP).selectExpr(
                "o_orderkey AS k", f"{_RS_VAL} + {_RS_UP_DELTA} AS val"
            ),
            "k",
        )
        V.commit_delete_where(spark, root, _RS_DEL_PRED)
        V.restore_version(spark, root, version=1)
        V.commit_append(
            spark,
            root,
            orders.filter(_RS_W2).selectExpr(
                "o_orderkey AS k", f"{_RS_VAL} AS val"
            ),
        )
        state_rows = (
            V.read_version(spark, root)
            .groupBy(F.expr("CAST(k % 5 AS STRING)").alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("val").cast("bigint").alias("sum_val"),
                F.min("k").cast("bigint").alias("min_k"),
                F.max("k").cast("bigint").alias("max_k"),
            )
            .select(F.lit("state").alias("section"), "grp", "n_rows",
                    "sum_val", "min_k", "max_k")
            .collect()
        )
        hist_rows = [
            ("hist", h["op"], h["version"], -1, -1, -1)
            for h in V.history(spark, root)
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _local_rows_df(
        spark,
        [tuple(r) for r in state_rows] + hist_rows,
        "section string, grp string, n_rows bigint, sum_val bigint, "
        "min_k bigint, max_k bigint",
    )


#: SCHEMA-EVOLUTION gate constants (iron rule 7): base %4==2 so source
#: keys %8==2 are matched and %8==5 are not-matched inserts; the NOTE
#: column does not exist in the table — the merge evolves it from the
#: source (Delta autoMerge), then an UPDATE evolves MARK from its SET
#: expression. One constant set drives both dialects.
_SE_BASE = "o_orderkey % 4 = 2"
_SE_VAL = "CAST(o_custkey AS BIGINT)"
_SE_SRC = "o_orderkey % 8 IN (2, 5)"
_SE_SVAL = "CAST(o_custkey % 800 AS BIGINT) + 11"
_SE_NOTE_MOD = 7
_SE_UPD_PRED = "k % 11 = 4"
_SE_MARK = "val % 10"


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE + UPDATE schema evolution end-to-end through real storage
    (operators/versioned.py commit_merge(evolve_schema=True) /
    commit_update_where(evolve_schema=True), new r12 — Delta's
    schema.autoMerge): the merge widens the table with the source's
    NOTE column (matched updates SET it, inserts carry it, carried
    files and pass-through rows read NULL through the manifest
    schema), then a predicate UPDATE widens it again with MARK whose
    type is inferred from the SET expression — with changefeed capture
    across BOTH evolutions, so pre-images must surface typed NULLs for
    columns born after their rows. Output = final state per key group
    UNION both commits' change feeds per _change_type; the oracle
    reconstructs the evolution relationally (CASE + NULL columns), so
    widen-only evolution, NULL backfill and the CDF splits must all
    reproduce exact Delta autoMerge semantics to hash-match.
    Materializes eagerly BY NATURE (commits are actions)."""
    import shutil
    import tempfile

    from amadeus_spark.operators import versioned as V

    orders = _t(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="amadeus_se_")
    try:
        root = os.path.join(tmp, "vt")
        V.commit_append(
            spark,
            root,
            orders.filter(_SE_BASE)
            .selectExpr("o_orderkey AS k", f"{_SE_VAL} AS val")
            .repartitionByRange(3, "k"),
            ["k"],
        )
        src = orders.filter(_SE_SRC).selectExpr(
            "o_orderkey AS k",
            f"{_SE_SVAL} AS sval",
            f"concat('p', CAST(o_orderkey % {_SE_NOTE_MOD} AS STRING))"
            " AS note",
        )
        v1, _, _ = V.commit_merge(
            spark,
            root,
            src,
            "k",
            matched=[{"action": "update",
                      "set": {"val": "t.val + s.sval",
                              "note": "s.note"}}],
            not_matched=[{"action": "insert",
                          "values": {"k": "k", "val": "sval",
                                     "note": "note"}}],
            changefeed=True,
            evolve_schema=True,
        )
        v2, _, _ = V.commit_update_where(
            spark, root, _SE_UPD_PRED, {"mark": _SE_MARK},
            changefeed=True, evolve_schema=True,
        )
        aggs = [
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val").cast("bigint").alias("sum_val"),
            F.count("note").cast("bigint").alias("n_note"),
            F.coalesce(F.sum("mark"), F.lit(0)).cast("bigint")
            .alias("sum_mark"),
        ]
        state = (
            V.read_version(spark, root)
            .groupBy(F.expr("CAST(k % 5 AS STRING)").alias("grp"))
            .agg(*aggs)
            .select(F.lit("state").alias("section"), "grp", "n_rows",
                    "sum_val", "n_note", "sum_mark")
        )
        cdf1 = (
            V.table_changes(spark, root, v1, v1)
            .groupBy(F.col("_change_type").alias("grp"))
            .agg(*aggs[:3])
            .select(F.lit("cdf").alias("section"), "grp", "n_rows",
                    "sum_val", "n_note",
                    F.lit(0).cast("bigint").alias("sum_mark"))
        )
        cdf2 = (
            V.table_changes(spark, root, v2, v2)
            .groupBy(F.col("_change_type").alias("grp"))
            .agg(*aggs)
            .select(F.lit("cdf2").alias("section"), "grp", "n_rows",
                    "sum_val", "n_note", "sum_mark")
        )
        rows = state.unionByName(cdf1).unionByName(cdf2).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _local_rows_df(spark, rows, "section string, grp string, n_rows bigint, sum_val bigint, "
        "n_note bigint, sum_mark bigint")


#: column_mapping gate constants — ONE set drives both dialects
_CM_BASE = "o_orderkey % 3 = 0"
_CM_VAL = "CAST(o_orderkey % 1000 AS BIGINT) * 3"
_CM_SRC = "o_orderkey % 6 < 2"
_CM_SVAL = "CAST(o_orderkey % 1000 AS BIGINT) * 5"
_CM_APP = "o_orderkey % 5 = 2"
_CM_AVAL = "CAST(o_orderkey % 1000 AS BIGINT) * 7"
_CM_TAG_MOD = 7


def _cm_tag(prefix: str, dialect: str) -> str:
    cast = "VARCHAR" if dialect == "duckdb" else "STRING"
    return (
        f"'{prefix}' || CAST(o_orderkey % {_CM_TAG_MOD} AS {cast})"
        if dialect == "duckdb"
        else f"concat('{prefix}', CAST(o_orderkey % {_CM_TAG_MOD} "
             f"AS {cast}))"
    )


def q_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column RENAME/DROP via column mapping end-to-end through real
    storage (operators/versioned.py rename_column/drop_column, new r13
    — Delta's columnMapping name mode): rename val→amount
    (metadata-only; the physical parquet name stays), upsert through
    the NEW name with changefeed, DROP tag (physical tombstoned), then
    re-ADD a column named tag whose fresh physical can never resurrect
    the dropped values. Output = final state (re-added tag is NULL for
    every pre-drop row), the TIME-TRAVEL read of v0 under its original
    name, and the upsert's change feed served under ENDING-version
    logical names (rows written before the rename unify by physical
    identity; the dropped tag leaves the feed). The oracle reconstructs
    the whole lifecycle relationally, so the mapping reads, tombstone
    freshness, CDF projection and time travel must all reproduce exact
    Delta columnMapping semantics to hash-match. Materializes eagerly
    BY NATURE (commits are actions)."""
    import shutil
    import tempfile

    from amadeus_spark.operators import versioned as V

    orders = _t(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="amadeus_cm_")
    try:
        root = os.path.join(tmp, "vt")
        V.commit_append(
            spark,
            root,
            orders.filter(_CM_BASE)
            .selectExpr(
                "o_orderkey AS k",
                f"{_CM_VAL} AS val",
                f"{_cm_tag('t', 'spark')} AS tag",
            )
            .repartitionByRange(3, "k"),
            ["k"],
        )
        V.rename_column(spark, root, "val", "amount")
        src = orders.filter(_CM_SRC).selectExpr(
            "o_orderkey AS k",
            f"{_CM_SVAL} AS amount",
            f"{_cm_tag('u', 'spark')} AS tag",
        )
        v2, _, _ = V.commit_upsert(spark, root, src, "k", changefeed=True)
        V.drop_column(spark, root, "tag")
        V.commit_append(
            spark,
            root,
            orders.filter(_CM_APP).selectExpr(
                "o_orderkey AS k",
                f"{_CM_AVAL} AS amount",
                f"{_cm_tag('w', 'spark')} AS tag",
            ),
        )
        grp5 = F.expr("CAST(k % 5 AS STRING)").alias("grp")
        state = (
            V.read_version(spark, root)
            .groupBy(grp5)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("amount").cast("bigint").alias("sum_a"),
                F.count("tag").cast("bigint").alias("n_tag"),
            )
            .select(F.lit("state").alias("section"), "grp", "n_rows",
                    "sum_a", "n_tag")
        )
        tt = (
            V.read_version(spark, root, 0)
            .groupBy(grp5)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("val").cast("bigint").alias("sum_a"),
                F.count("tag").cast("bigint").alias("n_tag"),
            )
            .select(F.lit("tt").alias("section"), "grp", "n_rows",
                    "sum_a", "n_tag")
        )
        cdf = (
            V.table_changes(spark, root, v2, v2)
            .groupBy(F.col("_change_type").alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("amount").cast("bigint").alias("sum_a"),
            )
            .select(F.lit("cdf").alias("section"), "grp", "n_rows",
                    "sum_a", F.lit(0).cast("bigint").alias("n_tag"))
        )
        rows = state.unionByName(tt).unionByName(cdf).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _local_rows_df(spark, rows, "section string, grp string, n_rows bigint, sum_a bigint, "
        "n_tag bigint")


def q_dv_debt_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV-debt observability end-to-end (operators/versioned.py
    history() dv_files/dv_rows running totals + optimize's
    purge_dv_over gate, new r12): four exact-range file commits, two
    deletion-vector DELETE waves, a DV UPDATE (post-images append,
    pre-images join the vector), then a debt-gated OPTIMIZE — a 0.99
    ratio gate must rewrite NOTHING (every file's debt is ~21%), a 0.0
    gate purges every DV physically. Output = per-version debt totals
    + the no-op probe + the final state per key group. GOLDEN-FIXTURE
    query: the table is a deterministic spark.range build
    (sf-independent BY DESIGN), and the oracle is a literal-VALUES
    replay computed by independent arithmetic (media_golden
    discipline), so the manifest totals, the purge gating and the DV
    anti-join reads must all reproduce the hand computation to
    hash-match."""
    import shutil
    import tempfile

    from amadeus_spark.operators import versioned as V

    tmp = tempfile.mkdtemp(prefix="amadeus_dvd_")
    try:
        root = os.path.join(tmp, "vt")
        for lo in (0, 100, 200, 300):
            V.commit_append(
                spark,
                root,
                spark.range(lo, lo + 100).selectExpr(
                    "id AS k", "id * 3 AS val").coalesce(1),
                ["k"],
            )
        V.commit_delete_where(spark, root, "k % 10 = 4", mode="dv")
        V.commit_delete_where(spark, root, "k % 10 = 8", mode="dv")
        V.commit_update_where(
            spark, root, "k % 100 = 1", {"val": "val + 1000"}, mode="dv"
        )
        # debt-gated no-op: no file's ratio clears 0.99
        cur = V.current_version(spark, root)
        noop_v, _, _ = V.optimize(
            spark, root, small_file_mb=1e-9, purge_dv_over=0.99)
        # ratio 0.0: every DV'd file purges (REORG APPLY PURGE)
        V.optimize(spark, root, small_file_mb=1e-9, purge_dv_over=0.0)
        debt_rows = [
            ("debt", f"v{h['version']}-{h['op']}", h["n_rows"],
             h["dv_files"], h["dv_rows"])
            for h in V.history(spark, root)
        ]
        debt_rows.append(
            ("gate", "noop99", 1 if noop_v == cur else 0, -1, -1))
        state_rows = (
            V.read_version(spark, root)
            .groupBy(F.expr("CAST(k % 5 AS STRING)").alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("val").cast("bigint").alias("sum_val"),
                F.max("k").cast("bigint").alias("max_k"),
            )
            .select(F.lit("state").alias("section"), "grp", "n_rows",
                    F.col("sum_val").alias("a"),
                    F.col("max_k").alias("b"))
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _local_rows_df(spark, [(s, g, n, a, b) for s, g, n, a, b in debt_rows]
        + [tuple(r) for r in state_rows], "section string, grp string, n_rows bigint, a bigint, b bigint")


def q_decon_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination (dedup.span_decontaminate):
    delete exactly the probe-overlapping token spans from corpus docs
    instead of flagging whole documents; probe set = doc_id %% 97 == 0
    (the decontamination_stats convention); cleaned text pinned
    per-char by md5."""
    return dedup.span_decontaminate(_t(spark, sf_dir, "documents"))


def q_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span REMOVAL (functions/dedup.py span_dedup_rewrite):
    the rewrite step of ExactSubstr dedup — every token covered by a
    cross-document duplicate shingle is deleted and the cleaned doc is
    pinned per-char by md5 (line_dedup discipline). Running-max
    coverage, no interval join."""
    return dedup.span_dedup_rewrite(_t(spark, sf_dir, "documents"))


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped importance selection (functions/dsir.py): hashed-
    unigram likelihood ratios against the lang='en' target, corpus-wide
    deterministic top-K, per-source selection report. The oracle
    re-runs the identical micro-unit ratio model in DuckDB."""
    return dsir.dsir_importance_stats(
        _t(spark, sf_dir, "documents"), "lang = 'en'"
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via byte banding + hamming verification."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=8, limit=20)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for 5 query vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, _SIM_QUERY_IDS, k=5)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN top-5 (bucketed candidates, exact verify)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_lsh_topk(emb, _SIM_QUERY_IDS, k=5)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means cell) ANN top-5 — rows-only by nature (KMeans cell
    assignment has no SQL oracle); recall vs exact cosine is pinned by
    tests/test_similarity.py instead."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, _SIM_QUERY_IDS, k=5)


#: stop-shingle document-frequency cap for the REGISTERED ngram_jaccard:
#: a shingle appearing in d docs emits O(d²) self-join rows, so an
#: uncapped boilerplate trigram dominates the stage at 100×. 5% is the
#: standard stop-gram ceiling; the oracle applies the identical constant
#: (dual-dialect rule: one constant, both dialects).
NGRAM_MAX_DF_FRAC = 0.05


def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-5 (functions/similarity.py): coarse k-means cells
    route the search; probed cells are scanned as m-byte PQ residual
    codes with ADC lookup distances (32x smaller per indexed row than raw vectors at
    64-dim float32), exact-cosine re-rank on the k*refine shortlist.
    Rows-only (k-means + PQ aren't SQL); recall vs brute force pinned by
    tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_topk(emb, _SIM_QUERY_IDS, k=5)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs via inverted shingle index (no O(n²)),
    with the df-cap ON (boilerplate shingles pruned before the
    self-join — the 100×-scale posture, not just available machinery)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, max_df_frac=NGRAM_MAX_DF_FRAC
    )


#: pyarrow-written nested fixture (scripts/make_nested_fixtures.py) —
#: exercises reader-level nested semantics (nullable inner elements,
#: null outer lists) through the driver gate, not just pytest.
_NESTED_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "nested_lists.parquet"
)


#: committed gzip CloudFront access-log fixture (W3C extended format,
#: scripts/make_cloudfront_fixture.py) — puts the cloudfront source
#: (amadeus-aws/src/cloudfront.rs parity) under the hash-checked gate.
_CF_FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "cloudfront")


def q_cloudfront_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CloudFront source e2e through the gate: read the gzip'd W3C logs
    (comment-line filtering, 26-field tab parse, '-'→NULL sentinel all
    exercised), aggregate per (edge, status). The n_no_referer column is
    non-trivially correct only if the NULL mapping matches the
    reference's Option<Url> decode (cloudfront.rs:86-110)."""
    from amadeus_spark.sources import cloudfront as _cf

    _tune(spark)
    df = _cf.read_cloudfront(spark, _CF_FIXTURE)
    # short-line normalization, mirrored exactly in the oracle (r3
    # advice): truncated pre-26-field lines and '-' sentinels decode to
    # NULL status/bytes — status groups under -1, all-NULL byte sums
    # surface as 0, and a missing referer counts as no-referer just like
    # a literal '-'.
    return (
        df.groupBy(
            "edge_location", F.coalesce("status", F.lit(-1)).alias("status")
        )
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.coalesce(F.sum("response_bytes"), F.lit(0)).alias("total_bytes"),
            F.countDistinct("remote_ip").alias("n_ips"),
            F.sum(F.col("referer").isNull().cast("bigint")).alias("n_no_referer"),
        )
        .orderBy("edge_location", "status")
    )


#: committed WARC fixture (scripts/make_warc_fixture.py): one plain and
#: one gzip'd WARC/1.0 file + a ground-truth CSV computed by the
#: GENERATOR from its record list (independent of the Spark parser) —
#: so the distributed WARC parse is hash-checked, not rows-only.
_WARC_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "warc")
_WARC_FILES = [
    os.path.join(_WARC_DIR, "cc-0001.warc"),
    os.path.join(_WARC_DIR, "cc-0002.warc.gz"),
]


def q_warc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC source e2e through the gate (amadeus-commoncrawl parser.rs
    parity): binaryFile → ISO-28500 parse (plain + multi-member gzip,
    CRLF/NUL/0xFF bytes in bodies, non-response records filtered) →
    per-domain page/byte stats, compared against generator-side ground
    truth."""
    from amadeus_spark.sources import warc as _warc

    _tune(spark)
    df = _warc.read_warc(spark, _WARC_FILES)
    return (
        df.filter(F.col("warc_type") == "response")
        .select(
            F.regexp_extract("url", "http://([^/]+)/", 1).alias("domain"),
            F.length("contents").alias("blen"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("blen").alias("total_bytes"),
        )
        .orderBy("domain")
    )


def q_nested_fixture_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a pyarrow-written list<list<string?>?> fixture from disk and
    flatten to per-group stats (reference discipline: file-based nested
    fixtures, tests/parquet.rs:113-160). Null outer lists map to -1 so
    null semantics are visible in the compared output."""
    _tune(spark)
    df = spark.read.parquet(_NESTED_FIXTURE)
    per = df.select(
        F.col("b").cast("bigint").alias("b"),
        F.expr("coalesce(cast(size(a) as bigint), -1)").alias("n_outer"),
        F.expr(
            "coalesce(aggregate(a, 0L, (acc, x) -> acc +"
            " coalesce(cast(size(filter(x, e -> e is not null)) as bigint), 0L)), -1)"
        ).alias("n_strs"),
    )
    return (
        per.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_outer").alias("total_outer"),
            F.sum("n_strs").alias("total_strings"),
        )
        .orderBy("b")
    )


def q_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (functions/bpe.py): 16 merges in
    batched-greedy rounds over the distinct-word frequency table (the
    fastBPE scale shape — the corpus reduces to one word-count shuffle).
    Rows-only by nature (iterative driver loop); pinned against a
    pure-Python reimplementation in tests/test_bpe_learn.py."""
    from amadeus_spark.functions import bpe

    return bpe.bpe_merge_frame(spark, _t(spark, sf_dir, "documents"), 16, 8)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (functions/similarity.py): k-means
    clusters restrict the pairwise comparison, then every vector with a
    more-senior neighbor above the cosine threshold is dropped (the
    paper's representative rule, deterministic by id). Rows-only
    (k-means isn't SQL); semantics pinned against numpy brute force in
    tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup_stats(emb, threshold=0.4)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: banded hyperplane-LSH candidate
    generation (ids-only equi-join, never BroadcastNestedLoopJoin) with
    exact-cosine verification — minhash_lsh's two-stage shape over
    vectors. Oracle applies identical banding."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_pairs(
        emb, threshold=0.3, id_mod=10, max_bucket_size=LSH_MAX_BUCKET
    )


#: dual-dialect word-array fragments for the C4 page synthesis
_C4_WORDS_SPARK = "filter(split(text, ' '), w -> w != '')"
_C4_WORDS_DUCK = "list_filter(string_split(text, ' '), w -> w <> '')"


def q_c4_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page cleaning (functions/c4.py, Raffel et al. 2020 §2.2):
    line-level terminal-punctuation / min-words / 'javascript' rules and
    page-level 'lorem ipsum' / curly-brace / min-kept-lines drops, as a
    REWRITE whose cleaned text is checksummed per kept page. Pages are
    synthesized deterministically from (text, doc_id) with the same
    construction in both dialects (html_text_extract precedent) so every
    rule branch fires on real data volumes. Map-only projection + one
    rollup shuffle — the pre-dedup quality gate shape at 100 TB."""
    from amadeus_spark.functions import c4

    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", "lang", F.expr(_C4_WORDS_SPARK).alias("__w")
    )
    pages = staged.select(
        "doc_id",
        "lang",
        F.expr(c4.synth_page_frag("__w", "doc_id", "spark")).alias("text"),
    )
    return c4.c4_report(pages)


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) language resampling (operators/
    sampling.temperature_mixture, the mT5/UniMax mixture law): quotas
    derived from per-language corpus counts via integer-exact micro-unit
    sqrt weights, selection by md5 permutation. Gate check: per-language
    selected count + order-independent id checksum; the oracle recomputes
    quota arithmetic independently (one-level window), so the broadcast
    decomposition itself is what's verified."""
    from amadeus_spark.functions.dedup import hash32_frag

    docs = _t(spark, sf_dir, "documents")
    out = sampling.temperature_mixture(docs, "lang", "doc_id", 300, 0.5)
    hs, _ = hash32_frag("concat('tm', cast(doc_id as string))", "")
    return (
        out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum(F.expr(hs)).cast("long").alias("id_sum"),
        )
        .orderBy("lang")
    )


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (functions/text.chunk_docs): 64-token
    windows at stride 48, one row per chunk, map-only explode. Gate
    check: per-language chunk/doc/token counts plus a per-chunk content
    checksum (doc_id ⊕ chunk_id ⊕ chunk text), so an off-by-one in any
    slice boundary flips the hash."""
    from amadeus_spark.functions.dedup import hash32_frag

    docs = _t(spark, sf_dir, "documents")
    chunks = text.chunk_docs(docs, window=64, stride=48)
    hs, _ = hash32_frag(
        "concat(cast(doc_id as string), chr(1), cast(chunk_id as string),"
        " chr(1), chunk_text)",
        "",
    )
    return (
        chunks.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.sum("n_chunk_tokens").alias("total_chunk_tokens"),
            F.max("n_chunk_tokens").alias("max_chunk_tokens"),
            F.sum(F.expr(hs)).cast("long").alias("content_sum"),
        )
        .orderBy("lang")
    )


#: corpusflow_e2e constants, shared by both dialects (iron rule 7):
#: every ~31st page is replaced by one CONSTANT clean page so exact
#: dedup collapses real duplicates; the unicode tail line exercises the
#: normalize stage consequentially (curly quotes/em-dash/ellipsis/
#: double spaces all fold before C4 sees the page).
CF_E2E_CONST_LINES = (
    "First shared line is good.",
    "Second shared line is good.",
    "Third shared line is good.",
)
CF_E2E_TAIL = "“Wrap—up…” is  done."
CF_E2E_DUP_MOD = 31
CF_E2E_TOTAL_K = 300


def q_corpusflow_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CorpusFlow FACADE end-to-end under the gate (flow.py): the
    composed normalize → c4 → dedup_exact → temperature → chunk chain
    as ONE lazy Catalyst plan, so the facade's stage wiring itself is
    externally hash-checked (the training_pipeline precedent covers
    manual composition; this covers the fluent path). Pages are
    synthesized as in c4_quality, plus planted exact duplicates and a
    unicode tail that only survives C4 because normalization folds it
    first. The oracle recomposes every stage from the same dual-dialect
    fragment builders (c4.py / normalize.py / sampling.py / text.py)."""
    from amadeus_spark.flow import CorpusFlow
    from amadeus_spark.functions import c4
    from amadeus_spark.functions.dedup import hash32_frag

    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", "lang", F.expr(_C4_WORDS_SPARK).alias("__w")
    )
    const_page = "\n".join(CF_E2E_CONST_LINES)
    pages = staged.select(
        "doc_id",
        "lang",
        F.concat(
            F.when(
                F.col("doc_id") % CF_E2E_DUP_MOD == 0, F.lit(const_page)
            ).otherwise(
                F.expr(c4.synth_page_frag("__w", "doc_id", "spark"))
            ),
            F.lit("\n" + CF_E2E_TAIL),
        ).alias("text"),
    )
    chunks = (
        CorpusFlow(pages)
        .normalize()
        .c4()
        .dedup_exact()
        .temperature(CF_E2E_TOTAL_K)
        .chunk(64, 48)
        .to_df()
    )
    hs, _ = hash32_frag(
        "concat(cast(doc_id as string), chr(1), cast(chunk_id as string),"
        " chr(1), text)",
        "",
    )
    ntok = F.expr("size(filter(split(text, ' '), w -> w != ''))").cast(
        "long"
    )
    # stage the interpreted token-count HOF ONCE per chunk — inlining
    # the same Column in two aggregates re-evaluates it per row (no CSE
    # across inlined subexpressions; the hard_negatives class)
    scored = chunks.select(
        "lang",
        "doc_id",
        ntok.alias("__ntok"),
        F.expr(hs).alias("__hs"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.sum("__ntok").alias("total_chunk_tokens"),
            F.max("__ntok").alias("max_chunk_tokens"),
            F.sum("__hs").cast("long").alias("content_sum"),
        )
        .orderBy("lang")
    )


def _corpusflow_e2e_oracle() -> str:
    """DuckDB twin of q_corpusflow_e2e — the same five stages
    recomposed as one CTE chain from the shared fragment builders."""
    from amadeus_spark.functions import c4
    from amadeus_spark.functions import normalize as _norm

    synth = c4.synth_page_frag("w", "doc_id", "duckdb")
    const_duck = " || chr(10) || ".join(
        f"'{l}'" for l in CF_E2E_CONST_LINES
    )
    tail = f"'{CF_E2E_TAIL}'"
    kept = c4.kept_lines_frag("text", "duckdb")
    frags = c4.c4_frags("text", "kept", "duckdb")
    sel = sampling.temperature_mixture_oracle(
        "deduped", "lang", "doc_id", CF_E2E_TOTAL_K, 0.5,
        cols="lang, doc_id, text",
    )
    upstream = f"""(
WITH words AS (
  SELECT doc_id, lang, {_C4_WORDS_DUCK} AS w FROM documents
), pages AS (
  SELECT doc_id, lang,
         (CASE WHEN doc_id % {CF_E2E_DUP_MOD} = 0 THEN {const_duck}
               ELSE {synth} END) || chr(10) || {tail} AS text
  FROM words
), normalized AS (
  SELECT doc_id, lang, {_norm.normalize_text_sql("text")} AS text
  FROM pages
), staged AS (
  SELECT lang, doc_id, text, {kept} AS kept FROM normalized
), scored AS (
  SELECT lang, doc_id, {frags["keep_doc"]} AS keep_doc,
         {frags["cleaned"]} AS cleaned
  FROM staged
), kept_docs AS (
  SELECT lang, doc_id, cleaned AS text FROM scored WHERE keep_doc
), deduped AS (
  SELECT lang, doc_id, text FROM (
    SELECT lang, doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM kept_docs
  ) WHERE rn = 1
), selected AS ({sel})
SELECT lang, doc_id, text FROM selected
)"""
    return text.chunk_stats_oracle(upstream, 64, 48)


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (functions/retrieval.build_postings): per
    term df/cf and the top-5 posting head (tf desc, doc asc) serialized
    doc:tf — the materialized batch-indexing twin of bm25_topk. Strict
    hash: any tf, ranking, or tie-break slip rewrites a head string."""
    docs = _t(spark, sf_dir, "documents")
    return retrieval.build_postings(docs).orderBy("term")


#: deterministic host-variant synthesis for the domain rollup gate —
#: exercises case folding, subdomain depth, the co.uk-family suffix
#: rule, single-label hosts, and both blocklist entries (same CASE in
#: both dialects; url_dedup precedent)
_DOMAIN_URL_CASE = """CASE CAST(doc_id % 6 AS INT)
    WHEN 0 THEN concat('http://www.news.example.co.uk/p/', CAST(doc_id % 7 AS STRING))
    WHEN 1 THEN concat('http://Blog.EXAMPLE.com/p/', CAST(doc_id % 7 AS STRING))
    WHEN 2 THEN concat('http://spam.example/p/', CAST(doc_id % 7 AS STRING))
    WHEN 3 THEN concat('http://a.b.tracker.net/p/', CAST(doc_id % 7 AS STRING))
    WHEN 4 THEN concat('http://localhost/p/', CAST(doc_id % 7 AS STRING))
    ELSE concat('http://cdn.example.com/p/', CAST(doc_id % 7 AS STRING))
END"""


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain crawl rollup (functions/urls.registered_domain
    + domain_report): PSL-shape label rules (last-2, or last-3 under a
    two-level suffix), per-domain URL/host/doc counts and the blocklist
    verdict. The frontier-policy aggregate a crawl scheduler reads."""
    from amadeus_spark.functions import urls

    docs = _t(spark, sf_dir, "documents")
    with_url = docs.select(
        "doc_id", F.expr(_DOMAIN_URL_CASE).alias("url")
    )
    return urls.domain_report(with_url)


#: deterministic mojibake/noise synthesis for the normalization gate —
#: smart quotes + em dash, NBSP + zero-width space, a BEL control char
#: (chr(7): ASCII, portable — only >255 wraps in Spark) plus mojibake
#: marker bytes, ellipsis + space runs, and an untouched branch. Shared VERBATIM by both engines.
_NOISE_CASE = """CASE CAST(doc_id % 5 AS INT)
    WHEN 0 THEN concat('“', text, '” — fin')
    WHEN 1 THEN concat('a b​', text)
    WHEN 2 THEN concat('x', chr(7), 'y aÃ©b â€™s ', text)
    WHEN 3 THEN concat(text, ' …  tail  end')
    ELSE text
END"""


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode/whitespace normalization (functions/normalize.py,
    NFKC-lite fold family): smart quotes/dashes/ellipsis folds,
    NBSP/zero-width/control strips, whitespace collapse — verified by
    per-document checksum of the REWRITTEN text over deterministically
    noised inputs (every fold branch fires). Map-only + one rollup."""
    from amadeus_spark.functions import normalize

    docs = _t(spark, sf_dir, "documents")
    noised = docs.select(
        "doc_id", "lang", F.expr(_NOISE_CASE).alias("text")
    )
    return normalize.normalize_report(noised)


def q_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (sketch_lib.TDigest, Dunning's merging
    digest with the k1 asin scale): per-partition partials, fan_in tree
    merge, O(compression) state. Rows-only BY DESIGN (centroid
    boundaries shift with merge order, so estimates are bound-accurate,
    not bit-deterministic); the local suite pins rank-error <= 2-3% and
    bounded state. Emits (quantile, estimate, exact-within-bound flag
    computed against percentile_approx at accuracy 10000)."""
    from amadeus_spark.functions.sketch_lib import quantile_sketch

    li = _t(spark, sf_dir, "lineitem")
    d = quantile_sketch(li, "l_extendedprice", compression=100)
    qs = [0.01, 0.1, 0.5, 0.9, 0.99]
    ests = [(q, d.quantile(q)) for q in qs]
    ref = li.agg(
        F.expr(
            "percentile_approx(l_extendedprice,"
            f" array({','.join(str(q) for q in qs)}), 10000)"
        ).alias("r")
    ).collect()[0]["r"]
    rows = [
        (q, est, bool(abs(est - r) <= 0.05 * (abs(r) + 1.0)))
        for (q, est), r in zip(ests, ref)
    ]
    return _local_rows_df(spark, rows, "quantile double, estimate double, within_band boolean")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer PageRank (operators/graph.py): 5 damped iterations
    in pure BIGINT micro-units over a deterministic synthetic link graph
    (each doc links to three modular targets — same construction in both
    dialects). The oracle unrolls the identical recurrence as chained
    CTEs, so the strict hash verifies every join/aggregate round.
    Output: top-25 ranked pages, total-order tie-break."""
    from amadeus_spark.operators import graph

    docs = _t(spark, sf_dir, "documents")
    n_frame = docs.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    base = docs.select("doc_id").crossJoin(F.broadcast(n_frame))
    edges = base.selectExpr(
        "doc_id AS src",
        "stack(3, (doc_id * 7 + 1) % __n, (doc_id * 13 + 2) % __n,"
        " (doc_id * 29 + 5) % __n) AS dst"
    )
    pr = graph.pagerank(edges, docs.select("doc_id"), iterations=5,
                        node="doc_id")
    return pr.orderBy(F.col("pr_us").desc(), "doc_id").limit(25)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained model-based quality filter (functions/classifier.py —
    hashed-feature logistic regression, the fastText-linear/FineWeb
    family): fit on a deterministic 1-in-5 doc sample (the IVF
    bounded-training-sample discipline) against a rule-derived label,
    then score the WHOLE corpus map-only with the broadcast weights.
    Rows-only BY DESIGN (float gradient sums are partition-order
    dependent); the local suite pins out-of-sample learning on a
    planted-signal corpus. Emits per-language score-band counts."""
    from amadeus_spark.functions.classifier import (
        score_hashed_lr,
        train_hashed_lr,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn(
        "y", F.col("text").contains("spark").cast("int")
    )
    train = labeled.filter(F.col("doc_id") % 5 == 0)
    w = train_hashed_lr(train, "text", "y", steps=6, lr=1.0)
    scored = score_hashed_lr(docs.select("doc_id", "lang", "text"), "text", w)
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("prob") >= 0.5).cast("bigint")).alias("n_high"),
            F.sum((F.col("prob") < 0.1).cast("bigint")).alias("n_low"),
        )
        .orderBy("lang")
    )


#: CDC fixture constants — ONE definition feeding both dialects (iron
#: rule 7). Micro-unit money value per row (the _money_sum discipline,
#: exact in both engines for 2-decimal inputs), three change waves with
#: strictly increasing ts so latest-wins is total-order deterministic.
_CDC_VAL = "CAST(ROUND(o_totalprice * 1e6) AS BIGINT)"
_CDC_WAVES = [  # (key filter, value delta or None for delete, ts, op)
    ("o_orderkey % 5 = 0", 111111, 1, "U"),
    ("o_orderkey % 10 = 0", 222222, 2, "U"),
    ("o_orderkey % 20 = 0", None, 3, "D"),
]
_CDC_BASE_FILTER = "o_orderkey % 3 <> 0"


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply on a VERSIONED table, verified end-to-end
    through real storage (operators/versioned.py apply_changes): commit
    a base snapshot of orders to a scratch manifest table, fold three
    deterministic change waves (upsert, re-upsert, delete — including
    inserts for keys absent from base and deletes of absent keys), then
    aggregate the FINAL PARQUET STATE the next reader sees. The oracle
    computes the same latest-wins fold purely relationally, so the
    whole manifest/copy-on-write/prune machinery must reproduce exact
    relational MERGE semantics to hash-match. Materializes eagerly BY
    NATURE (commits are actions — the IVF-fit bounded-job posture);
    the scratch table lives under a per-call tempdir and is removed
    before returning."""
    import shutil
    import tempfile

    from amadeus_spark.operators import versioned as V

    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(_CDC_BASE_FILTER).selectExpr(
        "o_orderkey AS k", f"{_CDC_VAL} AS val"
    )
    parts = []
    for flt, delta, ts, op in _CDC_WAVES:
        val = f"{_CDC_VAL} + {delta}" if delta is not None else "CAST(NULL AS BIGINT)"
        parts.append(
            orders.filter(flt).selectExpr(
                "o_orderkey AS k",
                f"{val} AS val",
                f"CAST({ts} AS BIGINT) AS ts",
                f"'{op}' AS op",
            )
        )
    changes = parts[0].unionByName(parts[1]).unionByName(parts[2])
    tmp = tempfile.mkdtemp(prefix="amadeus_cdc_")
    try:
        root = os.path.join(tmp, "vt")
        V.commit_append(
            spark, root, base.repartitionByRange(4, "k"), ["k"]
        )
        V.apply_changes(spark, root, changes, "k", "ts")
        rows = (
            V.read_version(spark, root)
            .groupBy(F.expr("k % 7").alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("val").alias("sum_val_us"),
                F.min("k").alias("min_k"),
                F.max("k").alias("max_k"),
            )
            .orderBy("grp")
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _local_rows_df(spark, rows, "grp bigint, n_rows bigint, sum_val_us bigint, "
        "min_k bigint, max_k bigint")


def _cdc_apply_oracle() -> str:
    """DuckDB twin of q_cdc_apply — the latest-wins fold expressed
    relationally from the SAME wave constants."""
    waves = []
    for flt, delta, ts, op in _CDC_WAVES:
        val = f"{_CDC_VAL} + {delta}" if delta is not None else "CAST(NULL AS BIGINT)"
        waves.append(
            f"SELECT o_orderkey AS k, {val} AS val, "
            f"CAST({ts} AS BIGINT) AS ts, '{op}' AS op "
            f"FROM orders WHERE {flt}"
        )
    ch = " UNION ALL ".join(waves)
    return f"""
        WITH base AS (
            SELECT o_orderkey AS k, {_CDC_VAL} AS val
            FROM orders WHERE {_CDC_BASE_FILTER}
        ), latest AS (
            SELECT k, val, op FROM (
                SELECT k, val, op,
                       ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC) AS rn
                FROM ({ch})
            ) WHERE rn = 1
        ), final AS (
            SELECT b.k, b.val FROM base b
            WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.k = b.k)
            UNION ALL
            SELECT k, val FROM latest WHERE op <> 'D'
        )
        SELECT k % 7 AS grp,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(val) AS BIGINT) AS sum_val_us,
               CAST(MIN(k) AS BIGINT) AS min_k,
               CAST(MAX(k) AS BIGINT) AS max_k
        FROM final GROUP BY 1 ORDER BY 1
    """


def q_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed on a VERSIONED table (operators/versioned.py
    table_changes — Delta CDF semantics): commit a base snapshot of
    orders, fold the three deterministic CDC waves with
    ``changefeed=True``, then read the merge commit's CHANGE ROWS back
    and aggregate per ``_change_type``. Inserts/updates/deletes split
    exactly as the relational diff of (base, latest-wins changes):
    preimages carry the BASE value out of the touched parquet files, a
    delete of an absent key emits nothing. The oracle recomputes the
    expected feed purely relationally, so the commit-time capture
    (persisted touched-read, pre/post split, change-dir round-trip)
    must reproduce it row-for-row to hash-match. Same eager-commit
    nature and scratch-tempdir lifecycle as q_cdc_apply."""
    import shutil
    import tempfile

    from amadeus_spark.operators import versioned as V

    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(_CDC_BASE_FILTER).selectExpr(
        "o_orderkey AS k", f"{_CDC_VAL} AS val"
    )
    parts = []
    for flt, delta, ts, op in _CDC_WAVES:
        val = f"{_CDC_VAL} + {delta}" if delta is not None else "CAST(NULL AS BIGINT)"
        parts.append(
            orders.filter(flt).selectExpr(
                "o_orderkey AS k",
                f"{val} AS val",
                f"CAST({ts} AS BIGINT) AS ts",
                f"'{op}' AS op",
            )
        )
    changes = parts[0].unionByName(parts[1]).unionByName(parts[2])
    tmp = tempfile.mkdtemp(prefix="amadeus_cdf_")
    try:
        root = os.path.join(tmp, "vt")
        V.commit_append(
            spark, root, base.repartitionByRange(4, "k"), ["k"]
        )
        v, _, _ = V.apply_changes(
            spark, root, changes, "k", "ts", changefeed=True
        )
        rows = (
            V.table_changes(spark, root, starting_version=v)
            .groupBy(F.col("_change_type").alias("change_type"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("k").alias("n_keys"),
                F.sum("val").alias("sum_val_us"),
                F.min("k").alias("min_k"),
                F.max("k").alias("max_k"),
            )
            .orderBy("change_type")
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _local_rows_df(spark, rows, "change_type string, n bigint, n_keys bigint, "
        "sum_val_us bigint, min_k bigint, max_k bigint")


def _table_changes_oracle() -> str:
    """DuckDB twin of q_table_changes — the expected change feed as
    the relational diff of base vs the latest-wins change fold, built
    from the SAME wave constants."""
    waves = []
    for flt, delta, ts, op in _CDC_WAVES:
        val = f"{_CDC_VAL} + {delta}" if delta is not None else "CAST(NULL AS BIGINT)"
        waves.append(
            f"SELECT o_orderkey AS k, {val} AS val, "
            f"CAST({ts} AS BIGINT) AS ts, '{op}' AS op "
            f"FROM orders WHERE {flt}"
        )
    ch = " UNION ALL ".join(waves)
    return f"""
        WITH base AS (
            SELECT o_orderkey AS k, {_CDC_VAL} AS val
            FROM orders WHERE {_CDC_BASE_FILTER}
        ), latest AS (
            SELECT k, val, op FROM (
                SELECT k, val, op,
                       ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC) AS rn
                FROM ({ch})
            ) WHERE rn = 1
        ), ups AS (
            SELECT k, val FROM latest WHERE op <> 'D'
        ), feed AS (
            SELECT 'delete' AS change_type, b.k, b.val
            FROM base b WHERE EXISTS (
                SELECT 1 FROM latest l WHERE l.k = b.k AND l.op = 'D')
            UNION ALL
            SELECT 'update_preimage', b.k, b.val
            FROM base b WHERE EXISTS (SELECT 1 FROM ups u WHERE u.k = b.k)
            UNION ALL
            SELECT 'update_postimage', u.k, u.val
            FROM ups u WHERE EXISTS (SELECT 1 FROM base b WHERE b.k = u.k)
            UNION ALL
            SELECT 'insert', u.k, u.val
            FROM ups u WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.k = u.k)
        )
        SELECT change_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT k) AS BIGINT) AS n_keys,
               CAST(SUM(val) AS BIGINT) AS sum_val_us,
               CAST(MIN(k) AS BIGINT) AS min_k,
               CAST(MAX(k) AS BIGINT) AS max_k
        FROM feed GROUP BY 1 ORDER BY 1
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # Ordering is deliberate: the driver's CORRECTNESS gate verifies
        # only the FIRST 50 dict entries. ROUND-15 ROTATION: the window
        # takes (a) alter_schema's FIRST external green (new in r14,
        # queued per plan; the gate now also exercises the r15 NESTED
        # array and DECIMAL widening legs), (b) all 40 oracle-checked
        # queries whose newest external hash-green is r12 (the TPC-H
        # pack, fuzzy family, sources, basic operators), and (c) the
        # 8 storage-family r13 greens whose code paths this round's
        # versioned.py changes touched (_evolve_schema recursion,
        # history telemetry gating, vacuum clock domain) plus the
        # NEW r15 feature gate bloom_point_lookup (per-file bloom
        # index, set_bloom_index + read_version(key_in=...) - stats
        # cannot prune its interleaved commits; the bitmaps must).
        # After this round no
        # oracle-checked query's newest green is older than r13.
        # Everything below the marker stays oracle-/property-verified
        # locally on every pytest run.
        "alter_schema": q_alter_schema,
        "all_any": q_all_any,
        "asof_join": q_asof_join,
        "bm25_topk": q_bm25_topk,
        "bpe_token_stats": q_bpe_token_stats,
        "chain_union": q_chain_union,
        "cluster_safe_split": q_cluster_safe_split,
        "corpusflow_e2e": q_corpusflow_e2e,
        "domain_stats": q_domain_stats,
        "event_anomaly_enrich": q_event_anomaly_enrich,
        "fuzzy_code_match_d2": q_fuzzy_code_match_d2,
        "fuzzy_code_match_d3": q_fuzzy_code_match_d3,
        "fuzzy_name_match": q_fuzzy_name_match,
        "group_by_pricing": q_group_by_pricing,
        "line_dedup": q_line_dedup,
        "max_by": q_max_by,
        "perplexity_filter": q_perplexity_filter,
        "postgres_copy_decode": q_postgres_copy_decode,
        "summary_agg": q_summary_agg,
        "tpch_q2_min_cost": q_tpch_q2_min_cost,
        "tpch_q3_shipping": q_tpch_q3_shipping,
        "tpch_q4_priority": q_tpch_q4_priority,
        "tpch_q5_local_supplier": q_tpch_q5_local_supplier,
        "tpch_q6_forecast": q_tpch_q6_forecast,
        "tpch_q7_volume": q_tpch_q7_volume,
        "tpch_q8_market_share": q_tpch_q8_market_share,
        "tpch_q9_profit": q_tpch_q9_profit,
        "tpch_q10_returns": q_tpch_q10_returns,
        "tpch_q12_priority_class": q_tpch_q12_priority_class,
        "tpch_q13_custdist": q_tpch_q13_custdist,
        "tpch_q14_promo": q_tpch_q14_promo,
        "tpch_q16_partsupp": q_tpch_q16_partsupp,
        "tpch_q17_small_qty": q_tpch_q17_small_qty,
        "tpch_q18_large_orders": q_tpch_q18_large_orders,
        "tpch_q19_disjunctive": q_tpch_q19_disjunctive,
        "tpch_q20_excess_supplier": q_tpch_q20_excess_supplier,
        "tpch_q21_waiting": q_tpch_q21_waiting,
        "tpch_q22_global": q_tpch_q22_global,
        "url_dedup": q_url_dedup,
        "webdataset_index": q_webdataset_index,
        "xml_source": q_xml_source,
        "schema_evolution": q_schema_evolution,
        "column_mapping": q_column_mapping,
        "time_travel_asof": q_time_travel_asof,
        "restore_table": q_restore_table,
        "dv_debt_purge": q_dv_debt_purge,
        "table_changes": q_table_changes,
        "snapshot_diff": q_snapshot_diff,
        "cdc_apply": q_cdc_apply,
        "bloom_point_lookup": q_bloom_point_lookup,
        # ---- below the 50-entry gate ----
        # r13 greens queued nearest the window for the r16 rotation
        "gap_fill_events": q_gap_fill_events,
        "cloudfront_logs": q_cloudfront_logs,
        "cluster_keep_best": q_cluster_keep_best,
        "cohort_retention": q_cohort_retention,
        "cube": q_cube,
        "decontamination": q_decontamination,
        "distinct_count": q_distinct_count,
        "epoch_shuffle": q_epoch_shuffle,
        "fingerprint_dedup": q_fingerprint_dedup,
        "flat_map": q_flat_map,
        "fold_udaf": q_fold_udaf,
        "funnel_steps": q_funnel_steps,
        "gopher_quality": q_gopher_quality,
        "histogram": q_histogram,
        "hourly_events": q_hourly_events,
        "html_text_extract": q_html_text_extract,
        "json_props": q_json_props,
        "lang_id": q_lang_id,
        "map_filter": q_map_filter,
        "mixture_sample": q_mixture_sample,
        "nested_array_ops": q_nested_array_ops,
        "nested_fixture_read": q_nested_fixture_read,
        "nested_struct_map": q_nested_struct_map,
        "pii_scrub": q_pii_scrub,
        "pivot": q_pivot,
        "range_join": q_range_join,
        "repetition_filter": q_repetition_filter,
        "rolling_window": q_rolling_window,
        "rollup": q_rollup,
        "salted_skew_join": q_salted_skew_join,
        "sessionization": q_sessionization,
        "sort_n_by": q_sort_n_by,
        "supplier_part_share": q_supplier_part_share,
        "time_rollup": q_time_rollup,
        "token_stats": q_token_stats,
        "tpch_q11_important_stock": q_tpch_q11_important_stock,
        "tpch_q15_top_supplier": q_tpch_q15_top_supplier,
        "warc_stats": q_warc_stats,
        "webdataset_roundtrip": q_webdataset_roundtrip,
        "window_functions": q_window_functions,
        # r14 greens (freshest)
        "ann_lsh": q_ann_lsh,
        "c4_quality": q_c4_quality,
        "convert_clone": q_convert_clone,
        "cosine_topk": q_cosine_topk,
        "data_expectations": q_data_expectations,
        "decon_span_scrub": q_decon_span_scrub,
        "dml_delete_update": q_dml_delete_update,
        "doc_chunking": q_doc_chunking,
        "dsir_select": q_dsir_select,
        "duplicated_spans": q_duplicated_spans,
        "embedding_neardup": q_embedding_neardup,
        "equidepth_histogram": q_equidepth_histogram,
        "fuzzy_dict_lookup_d3": q_fuzzy_dict_lookup_d3,
        "group_sink_nation": q_group_sink_nation,
        "grouped_topn": q_grouped_topn,
        "hard_negatives": q_hard_negatives,
        "hive_convert": q_hive_convert,
        "incremental_neardup": q_incremental_neardup,
        "inner_join": q_inner_join,
        "inverted_index": q_inverted_index,
        "key_skew_profile": q_key_skew_profile,
        "left_join": q_left_join,
        "media_frame_sample": q_media_frame_sample,
        "merge_into": q_merge_into,
        "minhash_lsh": q_minhash_lsh,
        "most_distinct": q_most_distinct,
        "most_frequent": q_most_frequent,
        "mp3_segment_plan": q_mp3_segment_plan,
        "mp4_frame_plan": q_mp4_frame_plan,
        "multimodal_features": q_multimodal_features,
        "neardup_clusters": q_neardup_clusters,
        "ngram_jaccard": q_ngram_jaccard,
        "pagerank": q_pagerank,
        "percentiles": q_percentiles,
        "sample_deterministic": q_sample_deterministic,
        "scd2_user_episodes": q_scd2_user_episodes,
        "semantic_decontamination": q_semantic_decontamination,
        "semi_anti_join": q_semi_anti_join,
        "sequence_packing": q_sequence_packing,
        "set_ops": q_set_ops,
        "shallow_clone": q_shallow_clone,
        "simhash": q_simhash,
        "span_scrub": q_span_scrub,
        "stratified_sample": q_stratified_sample,
        "temperature_mixture": q_temperature_mixture,
        "text_normalize": q_text_normalize,
        "token_budget_sample": q_token_budget_sample,
        "training_pipeline": q_training_pipeline,
        "variant_props": q_variant_props,
        "weighted_sample": q_weighted_sample,
        # rows-only (no oracle) entries: CONTIGUOUS TAIL — weakest
        # signal last, so a truncating gate drops them first
        "compensated_moments": q_compensated_moments,
        "bpe_learn": q_bpe_learn,
        "tdigest_quantiles": q_tdigest_quantiles,
        "quality_classifier": q_quality_classifier,
        "approx_distinct": q_approx_distinct,
        "most_frequent_cms": q_most_frequent_cms,
        "percentile_band": q_percentile_band,
        "reservoir_sample": q_reservoir_sample,
        "semantic_dedup": q_semantic_dedup,
        "bloom_decontamination": q_bloom_decontamination,
        "ivf_topk": q_ivf_topk,
        "ivf_pq_topk": q_ivf_pq_topk,
    }


def _epoch_shuffle_oracle() -> str:
    """DuckDB twin of q_epoch_shuffle — same epoch hash, same
    order-sensitive checksum (one constant set)."""
    from amadeus_spark.functions.dedup import hash32_frag
    from amadeus_spark.operators import sampling

    _, ck = hash32_frag("", "'ck' || CAST(doc_id AS VARCHAR)")
    inner = sampling.epoch_shuffle_oracle(
        "documents", "doc_id", 16, 3, cols="doc_id, shard, pos"
    )
    return f"""
        SELECT shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(pos * {ck}) AS BIGINT) AS order_sum
        FROM ({inner}) GROUP BY shard ORDER BY shard
    """


def _c4_quality_oracle() -> str:
    """DuckDB twin of q_c4_quality — identical page synthesis and rule
    constants (functions/c4.py emits both dialects from one set)."""
    from amadeus_spark.functions import c4

    page = c4.synth_page_frag("w", "doc_id", "duckdb")
    table = (
        f"(SELECT doc_id, lang, {page} AS text FROM "
        f"(SELECT doc_id, lang, {_C4_WORDS_DUCK} AS w FROM documents))"
    )
    return c4.c4_report_oracle(table)


def _temperature_mixture_oracle() -> str:
    """DuckDB twin of q_temperature_mixture — independent one-level
    quota window over the same micro-unit weight fragment."""
    from amadeus_spark.functions.dedup import hash32_frag

    _, hd = hash32_frag("", "'tm' || CAST(doc_id AS VARCHAR)")
    inner = sampling.temperature_mixture_oracle(
        "documents", "lang", "doc_id", 300, 0.5, cols="lang, doc_id"
    )
    return f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_selected,
               CAST(SUM({hd}) AS BIGINT) AS id_sum
        FROM ({inner}) GROUP BY lang ORDER BY lang
    """


def _domain_stats_oracle() -> str:
    """DuckDB twin of q_domain_stats — the URL CASE runs VERBATIM in
    DuckDB (concat() and the STRING type alias are shared syntax), so
    one constant drives both dialects; same label/blocklist set."""
    from amadeus_spark.functions import urls

    return urls.domain_report_oracle(
        f"(SELECT doc_id, {_DOMAIN_URL_CASE} AS url FROM documents)"
    )


def _text_normalize_oracle() -> str:
    """DuckDB twin of q_text_normalize — the noise CASE is shared
    verbatim (after resolving python-level escapes); same step table."""
    from amadeus_spark.functions import normalize

    return normalize.normalize_report_oracle(
        f"(SELECT doc_id, lang, {_NOISE_CASE} AS text FROM documents)"
    )


def _pagerank_oracle() -> str:
    """DuckDB twin of q_pagerank — same edge synthesis, same unrolled
    integer recurrence (operators/graph.pagerank_oracle)."""
    from amadeus_spark.operators import graph

    edges = """SELECT doc_id AS src,
               unnest([(doc_id * 7 + 1) % n, (doc_id * 13 + 2) % n,
                       (doc_id * 29 + 5) % n]) AS dst
               FROM documents, (SELECT CAST(COUNT(*) AS BIGINT) AS n
                                FROM documents)"""
    inner = graph.pagerank_oracle(
        edges, "SELECT doc_id FROM documents", iterations=5, node="doc_id"
    )
    return (
        f"SELECT * FROM ({inner}) ORDER BY pr_us DESC, doc_id LIMIT 25"
    )


def _url_dedup_oracle() -> str:
    """DuckDB twin of q_url_dedup — same variant construction, same
    canonicalization pipeline (one constant set, functions/urls.py)."""
    from amadeus_spark.functions import urls

    return f"""
        WITH raws AS (
            SELECT CASE CAST(doc_id % 4 AS INT)
                WHEN 0 THEN 'http://example.com/page/' || CAST(doc_id % 50 AS VARCHAR)
                WHEN 1 THEN 'HTTP://EXAMPLE.COM:80/page/' || CAST(doc_id % 50 AS VARCHAR) || '?utm_source=feed'
                WHEN 2 THEN 'http://example.com/page/' || CAST(doc_id % 50 AS VARCHAR) || '?b=2&a=1&gclid=' || CAST(doc_id AS VARCHAR)
                ELSE 'http://example.com/page/' || CAST(doc_id % 50 AS VARCHAR) || '?a=1&b=2'
            END AS raw_url
            FROM documents
        )
        SELECT {urls.canonicalize_url_sql('raw_url')} AS canon,
               CAST(COUNT(*) AS BIGINT) AS n_fetches,
               CAST(COUNT(DISTINCT raw_url) AS BIGINT) AS n_raw_forms
        FROM raws GROUP BY canon ORDER BY canon
    """


def _html_text_extract_oracle() -> str:
    """DuckDB twin of q_html_text_extract — the wrapper, regex chain and
    checksum hash come from the SAME constants (functions/html.py,
    dedup.hash32_frag)."""
    from amadeus_spark.functions import html
    from amadeus_spark.functions.dedup import hash32_frag

    txt = html.html_to_text_sql(html.wrap_as_html_sql("text"))
    _, hd = hash32_frag("", "CAST(doc_id AS VARCHAR) || chr(1) || txt")
    return f"""
        WITH ext AS (
            SELECT doc_id, lang, {txt} AS txt FROM documents
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(length(txt)) AS BIGINT) AS total_chars,
               CAST(SUM(len(list_filter(regexp_split_to_array(txt, '\\s+'),
                                        x -> x <> ''))) AS BIGINT) AS total_tokens,
               CAST(SUM({hd}) AS BIGINT) AS content_sum
        FROM ext GROUP BY lang ORDER BY lang
    """


#: events.ts arrives at whatever precision the testdata drop uses
#: (TIMESTAMP(NANOS) in round 1, timestamp[us] since round 2); Spark
#: normalizes to µs via the schema-adaptive tables.load_events. The
#: oracle must compare at the SAME precision — DuckDB's CAST AS
#: TIMESTAMP truncates any sub-µs input — or future sub-µs data
#: silently diverges ordering ties and epoch sums.
_EVENTS_US = "(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"


def _time_travel_asof_oracle() -> str:
    """DuckDB twin of q_time_travel_asof — each version reconstructed
    relationally from the SAME wave constants; the probe->version
    mapping is the static at-or-before expectation."""
    return f"""
        WITH base AS (
            SELECT o_orderkey AS k, {_TT_VAL} AS val
            FROM orders WHERE {_TT_BASE}
        ), w1 AS (
            SELECT o_orderkey AS k, {_TT_VAL} AS val
            FROM orders WHERE {_TT_W1}
        ), up AS (
            SELECT o_orderkey AS k, {_TT_VAL} + {_TT_DELTA} AS val
            FROM orders WHERE {_TT_UP}
        ), v1 AS (
            SELECT * FROM base UNION ALL SELECT * FROM w1
        ), v2 AS (
            SELECT k, val FROM v1 t
            WHERE NOT EXISTS (SELECT 1 FROM up u WHERE u.k = t.k)
            UNION ALL SELECT * FROM up
        ), snaps AS (
            SELECT 0 AS version, * FROM base
            UNION ALL SELECT 1, * FROM v1
            UNION ALL SELECT 2, * FROM v2
        ), per AS (
            SELECT version,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(val) AS BIGINT) AS sum_val,
                   CAST(MIN(k) AS BIGINT) AS min_k,
                   CAST(MAX(k) AS BIGINT) AS max_k
            FROM snaps GROUP BY version
        )
        SELECT CAST(p.probe AS BIGINT) AS probe,
               CAST(p.version AS BIGINT) AS version,
               n_rows, sum_val, min_k, max_k
        FROM (VALUES (0, 0), (1, 0), (2, 1), (3, 1), (4, 2))
             AS p(probe, version)
        JOIN per USING (version)
        ORDER BY probe
    """



def _dml_delete_update_oracle() -> str:
    """DuckDB twin of q_dml_delete_update — the UPDATE as a CASE over
    the pre-update row, the DELETE as the explicit keep-side filter."""
    return f"""
        WITH base AS (
            SELECT o_orderkey AS k, {_DML_VAL} AS val
            FROM orders WHERE {_DML_BASE}
        ), upd AS (
            SELECT k,
                   CASE WHEN {_DML_UPD_PRED} THEN {_DML_UPD_SET}
                        ELSE val END AS val
            FROM base
        ), del1 AS (
            SELECT * FROM upd
            WHERE NOT coalesce(({_DML_DEL_PRED}), false)
        ), del2 AS (
            SELECT * FROM del1
            WHERE NOT coalesce(({_DML_DEL2_PRED}), false)
        ), fin AS (
            SELECT k,
                   CASE WHEN {_DML_UPD2_PRED} THEN {_DML_UPD2_SET}
                        ELSE val END AS val
            FROM del2
        )
        SELECT k % 5 AS grp,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(val) AS BIGINT) AS sum_val,
               CAST(MIN(k) AS BIGINT) AS min_k,
               CAST(MAX(k) AS BIGINT) AS max_k
        FROM fin GROUP BY grp ORDER BY grp
    """


def _merge_into_oracle() -> str:
    """DuckDB twin of q_merge_into — the MERGE as a LEFT JOIN with a
    first-true-clause CASE (matched delete > matched update;
    by-source delete > by-source update on the unmatched side), the
    inserts as NOT EXISTS + the ordered insert-clause CASE, and the
    change feed re-derived from the same action typing."""
    return f"""
        WITH base AS (
            SELECT o_orderkey AS k, {_MG_VAL} AS val
            FROM orders WHERE {_MG_BASE}
        ), src AS (
            SELECT o_orderkey AS k, {_MG_SVAL} AS sval
            FROM orders WHERE {_MG_SRC}
        ), tgt AS (
            SELECT b.k, b.val, s.sval, s.k IS NOT NULL AS m
            FROM base b LEFT JOIN src s ON b.k = s.k
        ), acted AS (
            SELECT k, val AS oldval,
                   CASE WHEN m AND coalesce(
                            sval % {_MG_DEL_MOD} = 0, false)
                            THEN 'delete'
                        WHEN m THEN 'update'
                        WHEN k % 999 = {_MG_NMBS_DEL} THEN 'delete'
                        WHEN k % 999 = {_MG_NMBS_UPD} THEN 'update'
                        ELSE 'keep' END AS act,
                   CASE WHEN m THEN val + sval
                        WHEN k % 999 = {_MG_NMBS_UPD} THEN val + 1
                        ELSE val END AS newval
            FROM tgt
        ), ins AS (
            SELECT s.k,
                   CASE WHEN s.sval % {_MG_INS_MOD} = 0 THEN s.sval
                        ELSE s.sval * 2 END AS val
            FROM src s
            WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.k = s.k)
        ), fin AS (
            SELECT k, newval AS val FROM acted WHERE act <> 'delete'
            UNION ALL SELECT k, val FROM ins
        ), changes AS (
            SELECT 'update_preimage' AS grp, k, oldval AS val
            FROM acted WHERE act = 'update'
            UNION ALL
            SELECT 'update_postimage', k, newval
            FROM acted WHERE act = 'update'
            UNION ALL
            SELECT 'delete', k, oldval FROM acted WHERE act = 'delete'
            UNION ALL
            SELECT 'insert', k, val FROM ins
        ), src2 AS (
            SELECT o_orderkey AS k, {_MG2_SVAL} AS sval2
            FROM orders WHERE {_MG2_SRC}
        ), tgt2 AS (
            SELECT f.k, f.val, s.sval2, s.k IS NOT NULL AS m
            FROM fin f LEFT JOIN src2 s ON f.k = s.k
        ), acted2 AS (
            SELECT k, val AS oldval,
                   CASE WHEN m AND coalesce(
                            sval2 % {_MG2_DEL_MOD} = 0, false)
                            THEN 'delete'
                        WHEN m THEN 'update'
                        WHEN k % 999 = {_MG2_NMBS_DEL} THEN 'delete'
                        ELSE 'keep' END AS act,
                   CASE WHEN m THEN val + sval2 ELSE val END AS newval
            FROM tgt2
        ), ins2 AS (
            SELECT s.k, s.sval2 AS val
            FROM src2 s
            WHERE NOT EXISTS (SELECT 1 FROM fin f WHERE f.k = s.k)
        ), fin2 AS (
            SELECT k, newval AS val FROM acted2 WHERE act <> 'delete'
            UNION ALL SELECT k, val FROM ins2
        ), changes2 AS (
            SELECT 'update_preimage' AS grp, k, oldval AS val
            FROM acted2 WHERE act = 'update'
            UNION ALL
            SELECT 'update_postimage', k, newval
            FROM acted2 WHERE act = 'update'
            UNION ALL
            SELECT 'delete', k, oldval FROM acted2 WHERE act = 'delete'
            UNION ALL
            SELECT 'insert', k, val FROM ins2
        )
        SELECT 'state' AS section, CAST(k % 5 AS VARCHAR) AS grp,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(val) AS BIGINT) AS sum_val,
               CAST(MIN(k) AS BIGINT) AS min_k,
               CAST(MAX(k) AS BIGINT) AS max_k
        FROM fin2 GROUP BY 2
        UNION ALL
        SELECT 'cdf', grp,
               CAST(COUNT(*) AS BIGINT), CAST(SUM(val) AS BIGINT),
               CAST(MIN(k) AS BIGINT), CAST(MAX(k) AS BIGINT)
        FROM changes GROUP BY 2
        UNION ALL
        SELECT 'cdf2', grp,
               CAST(COUNT(*) AS BIGINT), CAST(SUM(val) AS BIGINT),
               CAST(MIN(k) AS BIGINT), CAST(MAX(k) AS BIGINT)
        FROM changes2 GROUP BY 2
    """


def _schema_evolution_oracle() -> str:
    """DuckDB twin of q_schema_evolution — the autoMerge evolution as
    a LEFT JOIN whose new column is CASE-built (NULL for rows born
    before it), the UPDATE evolution as one more CASE column, and both
    change feeds re-derived with explicitly typed NULL columns."""
    return f"""
        WITH base AS (
            SELECT o_orderkey AS k, {_SE_VAL} AS val
            FROM orders WHERE {_SE_BASE}
        ), src AS (
            SELECT o_orderkey AS k, {_SE_SVAL} AS sval,
                   'p' || CAST(o_orderkey % {_SE_NOTE_MOD} AS VARCHAR)
                       AS note
            FROM orders WHERE {_SE_SRC}
        ), m AS (
            SELECT b.k, b.val, s.sval, s.note, s.k IS NOT NULL AS hit
            FROM base b LEFT JOIN src s ON b.k = s.k
        ), ins AS (
            SELECT s.k, s.sval AS val, s.note FROM src s
            WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.k = s.k)
        ), fin1 AS (
            SELECT k, CASE WHEN hit THEN val + sval ELSE val END AS val,
                   CASE WHEN hit THEN note END AS note
            FROM m
            UNION ALL SELECT k, val, note FROM ins
        ), fin2 AS (
            SELECT k, val, note,
                   CASE WHEN {_SE_UPD_PRED} THEN {_SE_MARK} END AS mark
            FROM fin1
        ), changes1 AS (
            SELECT 'update_preimage' AS grp, k, val,
                   CAST(NULL AS VARCHAR) AS note
            FROM m WHERE hit
            UNION ALL
            SELECT 'update_postimage', k, val + sval, note
            FROM m WHERE hit
            UNION ALL
            SELECT 'insert', k, val, note FROM ins
        ), upd2 AS (
            SELECT * FROM fin1 WHERE {_SE_UPD_PRED}
        ), changes2 AS (
            SELECT 'update_preimage' AS grp, k, val, note,
                   CAST(NULL AS BIGINT) AS mark
            FROM upd2
            UNION ALL
            SELECT 'update_postimage', k, val, note, {_SE_MARK}
            FROM upd2
        )
        SELECT 'state' AS section, CAST(k % 5 AS VARCHAR) AS grp,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(val) AS BIGINT) AS sum_val,
               CAST(COUNT(note) AS BIGINT) AS n_note,
               CAST(COALESCE(SUM(mark), 0) AS BIGINT) AS sum_mark
        FROM fin2 GROUP BY 2
        UNION ALL
        SELECT 'cdf', grp, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(val) AS BIGINT), CAST(COUNT(note) AS BIGINT),
               CAST(0 AS BIGINT)
        FROM changes1 GROUP BY 2
        UNION ALL
        SELECT 'cdf2', grp, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(val) AS BIGINT), CAST(COUNT(note) AS BIGINT),
               CAST(COALESCE(SUM(mark), 0) AS BIGINT)
        FROM changes2 GROUP BY 2
    """


def _column_mapping_oracle() -> str:
    """DuckDB twin of q_column_mapping — the rename is a plain column
    alias (the oracle never knew the physical name), the drop makes
    every pre-drop row's re-added tag NULL, the upsert is the usual
    src ∪ (base minus src-keys) replacement, and the change feed is
    re-derived from the pre/post join under the FINAL logical names."""
    t_t = _cm_tag("t", "duckdb")
    t_u = _cm_tag("u", "duckdb")
    t_w = _cm_tag("w", "duckdb")
    return f"""
        WITH base AS (
            SELECT o_orderkey AS k, {_CM_VAL} AS a, {t_t} AS tag
            FROM orders WHERE {_CM_BASE}
        ), src AS (
            SELECT o_orderkey AS k, {_CM_SVAL} AS a, {t_u} AS tag
            FROM orders WHERE {_CM_SRC}
        ), app AS (
            SELECT o_orderkey AS k, {_CM_AVAL} AS a, {t_w} AS tag
            FROM orders WHERE {_CM_APP}
        ), r1 AS (
            SELECT k, a FROM src
            UNION ALL
            SELECT b.k, b.a FROM base b
            WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.k = b.k)
        ), fin AS (
            SELECT k, a, CAST(NULL AS VARCHAR) AS tag FROM r1
            UNION ALL SELECT k, a, tag FROM app
        ), m AS (
            SELECT b.k, b.a AS pre_a, s.a AS post_a,
                   s.k IS NOT NULL AS hit
            FROM base b LEFT JOIN src s ON b.k = s.k
        ), changes AS (
            SELECT 'update_preimage' AS grp, k, pre_a AS a
            FROM m WHERE hit
            UNION ALL
            SELECT 'update_postimage', k, post_a FROM m WHERE hit
            UNION ALL
            SELECT 'insert', s.k, s.a FROM src s
            WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.k = s.k)
        )
        SELECT 'state' AS section, CAST(k % 5 AS VARCHAR) AS grp,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(a) AS BIGINT) AS sum_a,
               CAST(COUNT(tag) AS BIGINT) AS n_tag
        FROM fin GROUP BY 2
        UNION ALL
        SELECT 'tt', CAST(k % 5 AS VARCHAR), CAST(COUNT(*) AS BIGINT),
               CAST(SUM(a) AS BIGINT), CAST(COUNT(tag) AS BIGINT)
        FROM base GROUP BY 2
        UNION ALL
        SELECT 'cdf', grp, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(a) AS BIGINT), CAST(0 AS BIGINT)
        FROM changes GROUP BY 2
    """


#: convert_clone gate constants — ONE set drives both dialects
_CV_BASE = "o_orderkey % 7 = 3"
_CV_VAL = "CAST(o_orderkey % 500 AS BIGINT) * 2"
_CV_UP = "o_orderkey % 14 = 3"
_CV_UVAL = "CAST(o_orderkey % 500 AS BIGINT) * 9"


def q_convert_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO DELTA + CLONE end-to-end through real storage
    (operators/versioned.py convert_to_versioned/clone_table, new r13):
    a plain parquet directory is ADOPTED as a versioned table with
    zero data movement (hard links; footer stats harvested at convert
    feed the upsert's file pruning), a CLONE branches it, and an
    upsert lands ONLY on the clone — the adopted source table must
    stay byte-identical (full log independence). Output = per-group
    aggregates of the UNTOUCHED source and the diverged clone; the
    oracle reconstructs both relationally, so the adoption, the
    harvested-stats pruning, the branch isolation and the replacement
    semantics must all reproduce to hash-match. Materializes eagerly
    BY NATURE (commits are actions)."""
    import shutil
    import tempfile

    from amadeus_spark.operators import versioned as V

    orders = _t(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="amadeus_cv_")
    try:
        lake_dir = os.path.join(tmp, "lake")
        orders.filter(_CV_BASE).selectExpr(
            "o_orderkey AS k", f"{_CV_VAL} AS val"
        ).repartitionByRange(3, "k").write.parquet(lake_dir)
        root = os.path.join(tmp, "vt")
        V.convert_to_versioned(spark, root, lake_dir, ["k"])
        branch = os.path.join(tmp, "branch")
        V.clone_table(spark, root, branch)
        ups = orders.filter(_CV_UP).selectExpr(
            "o_orderkey AS k", f"{_CV_UVAL} AS val"
        )
        V.commit_upsert(spark, branch, ups, "k")
        grp5 = F.expr("CAST(k % 5 AS STRING)").alias("grp")
        aggs = [
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val").cast("bigint").alias("sum_val"),
        ]
        src = (
            V.read_version(spark, root).groupBy(grp5).agg(*aggs)
            .select(F.lit("src").alias("section"), "grp", "n_rows",
                    "sum_val")
        )
        cl = (
            V.read_version(spark, branch).groupBy(grp5).agg(*aggs)
            .select(F.lit("clone").alias("section"), "grp", "n_rows",
                    "sum_val")
        )
        rows = src.unionByName(cl).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _local_rows_df(spark, rows, "section string, grp string, n_rows bigint, sum_val bigint")


def _convert_clone_oracle() -> str:
    """DuckDB twin of q_convert_clone — the adopted source is the raw
    filter; the clone is the usual upsert replacement over it."""
    return f"""
        WITH base AS (
            SELECT o_orderkey AS k, {_CV_VAL} AS val
            FROM orders WHERE {_CV_BASE}
        ), ups AS (
            SELECT o_orderkey AS k, {_CV_UVAL} AS val
            FROM orders WHERE {_CV_UP}
        ), clone AS (
            SELECT k, val FROM ups
            UNION ALL
            SELECT b.k, b.val FROM base b
            WHERE NOT EXISTS (SELECT 1 FROM ups u WHERE u.k = b.k)
        )
        SELECT 'src' AS section, CAST(k % 5 AS VARCHAR) AS grp,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(val) AS BIGINT) AS sum_val
        FROM base GROUP BY 2
        UNION ALL
        SELECT 'clone', CAST(k % 5 AS VARCHAR),
               CAST(COUNT(*) AS BIGINT), CAST(SUM(val) AS BIGINT)
        FROM clone GROUP BY 2
    """


#: hive_convert shared constants (iron rule 7: one set, two dialects)
_HC_BASE = "o_orderkey % 5 = 2"
_HC_VAL = "CAST(o_orderkey % 1000 AS BIGINT) * 3"
_HC_UPD = "status = 'F' AND k % 2 = 0"
_HC_UVAL = "val + 100000"


def q_hive_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned CONVERT TO DELTA (operators/versioned.py
    convert_to_versioned(partition_cols=...), new r14): a
    status-partitioned lake is ADOPTED with zero data movement —
    partition values parse out of the directory names as per-file
    min==max stats and the columns materialize natively on read via
    basePath — then a predicate UPDATE rewrites only the matching
    partition's rows (the predicate references the MATERIALIZED
    partition column). Output = per-status aggregates, the same
    aggregates through a stats-PRUNED read (key_range on the partition
    column), and a meta row pinning that the pruned plan touched
    strictly fewer files. The oracle reconstructs the update
    relationally. (Reference reads hive-partitioned parquet:
    /root/reference/amadeus-parquet tests; this is the log-adoption
    twin.) Materializes eagerly BY NATURE (commits are actions)."""
    import shutil
    import tempfile

    from amadeus_spark.operators import versioned as V

    orders = _t(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="amadeus_hc_")
    try:
        lake_dir = os.path.join(tmp, "lake")
        (
            orders.filter(_HC_BASE)
            .selectExpr(
                "o_orderkey AS k", f"{_HC_VAL} AS val",
                "o_orderstatus AS status",
            )
            .repartition(2)
            .write.partitionBy("status")
            .parquet(lake_dir)
        )
        root = os.path.join(tmp, "vt")
        V.convert_to_versioned(
            spark, root, lake_dir, stats_cols=["k"],
            partition_cols=["status"],
        )
        V.commit_update_where(spark, root, _HC_UPD, {"val": _HC_UVAL})
        aggs = [
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val").cast("bigint").alias("sum_val"),
        ]
        full = V.read_version(spark, root)
        out_all = (
            full.groupBy(F.col("status").alias("grp")).agg(*aggs)
            .select(F.lit("all").alias("section"), "grp", "n_rows",
                    "sum_val")
        )
        pruned = V.read_version(
            spark, root, key_range=("F", "F"), key_col="status"
        )
        out_pruned = (
            pruned.where("status = 'F'")
            .groupBy(F.lit("F").alias("grp")).agg(*aggs)
            .select(F.lit("pruned").alias("section"), "grp", "n_rows",
                    "sum_val")
        )
        rows = out_all.unionByName(out_pruned).collect()
        # partition pruning must be REAL: the pruned plan touches
        # strictly fewer files than the full snapshot. GUARDED on the
        # fixture precondition (>= 2 distinct statuses in the slice,
        # read off the per-status aggregate already in hand): with one
        # partition there is nothing to prune away, and the pin would
        # flag a future testdata drop as a code regression (r14
        # advice) — a degenerate fixture emits the oracle's 1.
        n_parts = sum(1 for r in rows if r["section"] == "all")
        rows.append(
            (
                "meta", "pruning_works",
                1 if (
                    n_parts < 2
                    or len(pruned.inputFiles()) < len(full.inputFiles())
                )
                else 0,
                0,
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _local_rows_df(spark, rows, "section string, grp string, n_rows bigint, sum_val bigint")


def _hive_convert_oracle() -> str:
    """DuckDB twin of q_hive_convert — the adopted lake is the raw
    filter; the predicate update is a CASE; pruning is a pinned
    literal (a DuckDB query has no file plan to compare)."""
    return f"""
        WITH base AS (
            SELECT o_orderkey AS k, {_HC_VAL} AS val,
                   o_orderstatus AS status
            FROM orders WHERE {_HC_BASE}
        ), upd AS (
            SELECT k,
                   CASE WHEN {_HC_UPD} THEN {_HC_UVAL} ELSE val END AS val,
                   status
            FROM base
        )
        SELECT 'all' AS section, status AS grp,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(val) AS BIGINT) AS sum_val
        FROM upd GROUP BY 2
        UNION ALL
        SELECT 'pruned', 'F', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(val) AS BIGINT)
        FROM upd WHERE status = 'F'
        UNION ALL
        SELECT 'meta', 'pruning_works', 1, 0
    """


#: shallow_clone shared constants
_SC_VAL = "CAST(ROUND(c_acctbal * 100) AS BIGINT)"
_SC_DEL = "k % 10 = 3"
_SC_UPK = "k % 10 = 4"
_SC_UVAL = "CAST(k % 97 AS BIGINT)"


def q_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE by reference (operators/versioned.py
    clone_table(shallow=True), new r14): the clone stages ZERO data
    objects — its entries carry absolute source URIs — then diverges
    via a deletion-vector DELETE and an upsert, both resolving row
    identity THROUGH the foreign references; the source must stay
    byte-identical. Output = per-group aggregates of both sides plus
    meta rows pinning the zero-copy invariant (no parquet staged under
    the clone's data dir) and the foreign-file debt surfaced by
    describe_detail. Oracle reconstructs the divergence relationally.
    Materializes eagerly BY NATURE (commits are actions)."""
    import glob
    import shutil
    import tempfile

    from amadeus_spark.operators import versioned as V

    cust = _t(spark, sf_dir, "customer")
    tmp = tempfile.mkdtemp(prefix="amadeus_sc_")
    try:
        root = os.path.join(tmp, "vt")
        base = cust.selectExpr("c_custkey AS k", f"{_SC_VAL} AS val")
        V.commit_append(spark, root, base.repartitionByRange(3, "k"),
                        ["k"])
        branch = os.path.join(tmp, "branch")
        V.clone_table(spark, root, branch, shallow=True)
        zero_copy = not glob.glob(
            os.path.join(branch, "data", "**", "*.parquet"),
            recursive=True,
        )
        foreign = V.describe_detail(spark, branch)["foreign_files"]
        V.commit_delete_where(spark, branch, _SC_DEL, mode="dv")
        ups = base.filter(_SC_UPK).selectExpr("k", f"{_SC_UVAL} AS val")
        V.commit_upsert(spark, branch, ups, "k")
        grp3 = F.expr("CAST(k % 3 AS STRING)").alias("grp")
        aggs = [
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val").cast("bigint").alias("sum_val"),
        ]
        src = (
            V.read_version(spark, root).groupBy(grp3).agg(*aggs)
            .select(F.lit("src").alias("section"), "grp", "n_rows",
                    "sum_val")
        )
        cl = (
            V.read_version(spark, branch).groupBy(grp3).agg(*aggs)
            .select(F.lit("clone").alias("section"), "grp", "n_rows",
                    "sum_val")
        )
        rows = src.unionByName(cl).collect()
        rows.append(("meta", "zero_copy", 1 if zero_copy else 0, 0))
        rows.append(("meta", "foreign_files", int(foreign > 0), 0))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _local_rows_df(spark, rows, "section string, grp string, n_rows bigint, sum_val bigint")


def _shallow_clone_oracle() -> str:
    """DuckDB twin of q_shallow_clone — the clone is the base minus
    the DV-deleted keys with the upsert replacement applied; the
    zero-copy/foreign meta rows are pinned literals."""
    return f"""
        WITH base AS (
            SELECT c_custkey AS k, {_SC_VAL} AS val FROM customer
        ), ups AS (
            SELECT k, {_SC_UVAL} AS val FROM base WHERE {_SC_UPK}
        ), clone AS (
            SELECT k, val FROM ups
            UNION ALL
            SELECT b.k, b.val FROM base b
            WHERE NOT ({_SC_DEL.replace("k %", "b.k %")})
              AND NOT EXISTS (SELECT 1 FROM ups u WHERE u.k = b.k)
        )
        SELECT 'src' AS section, CAST(k % 3 AS VARCHAR) AS grp,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(val) AS BIGINT) AS sum_val
        FROM base GROUP BY 2
        UNION ALL
        SELECT 'clone', CAST(k % 3 AS VARCHAR),
               CAST(COUNT(*) AS BIGINT), CAST(SUM(val) AS BIGINT)
        FROM clone GROUP BY 2
        UNION ALL
        SELECT 'meta', 'zero_copy', 1, 0
        UNION ALL
        SELECT 'meta', 'foreign_files', 1, 0
    """


#: alter_schema shared constants (iron rule 7: every fragment feeds
#: BOTH dialects). ROUND before the int cast — Spark CAST truncates
#: where DuckDB rounds, and two-decimal prices sit on x.999... doubles.
#: 2^32 needs the widening (> int32 max) while keeping per-group sums
#: ~3.7x under the int64 cap even at sf1.
_AS_VAL = "CAST(ROUND(p_retailprice * 100) AS INT)"
_AS_UPK = "k % 7 = 1"
_AS_BIG = "CAST(k AS BIGINT) * 4294967296"
#: decimal leg: built from integers so both engines are bit-exact
_AS_AMT0 = "CAST(k % 1000 AS DECIMAL(10,2))"
_AS_AMT1 = "CAST(CAST(k AS BIGINT) * 10000 AS DECIMAL(14,2))"


def q_alter_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The metadata-only ALTER family end-to-end (operators/versioned.py
    add_column/widen_column_type, new r14; nested+decimal widening
    r15): a table born with an INT value column, an array<int> column
    and a decimal(10,2) column gains a string column (ADD COLUMN — old
    rows NULL-backfill through the manifest schema, zero rewrites) and
    widens val→BIGINT, arr→array<bigint> (NESTED widening — the scalar
    matrix recursed into element positions) and amt→decimal(14,2)
    (precision growth); then an upsert lands values that only fit
    BECAUSE of each widening (val and arr elements above 2^31, amt
    above 10^8). Old narrow files read upcast at every position — no
    rewrite. Output = per-group aggregates over the mixed-vintage
    files (decimal sums exact via *100→BIGINT) plus meta rows pinning
    that all four ALTERs moved zero data files and that time travel
    still serves the pre-ALTER narrow schema at every position.
    Oracle reconstructs the final state relationally (the array leg
    models its single element as a scalar). Materializes eagerly BY
    NATURE (commits are actions)."""
    import shutil
    import tempfile

    from amadeus_spark.operators import versioned as V

    part = _t(spark, sf_dir, "part")
    tmp = tempfile.mkdtemp(prefix="amadeus_as_")
    try:
        root = os.path.join(tmp, "vt")
        base = part.selectExpr(
            "CAST(p_partkey AS INT) AS k", f"{_AS_VAL} AS val",
            "array(CAST(p_partkey AS INT)) AS arr",
            f"{_AS_AMT0.replace('k %', 'p_partkey %')} AS amt",
        )
        V.commit_append(spark, root, base.repartitionByRange(3, "k"),
                        ["k"])
        V.add_column(spark, root, "tag", "string")
        V.widen_column_type(spark, root, "val", "bigint")
        V.widen_column_type(spark, root, "arr", "array<bigint>")
        V.widen_column_type(spark, root, "amt", "decimal(14,2)")
        ups = part.selectExpr(
            "CAST(p_partkey AS INT) AS k",
            f"{_AS_BIG} AS val",
            f"array({_AS_BIG}) AS arr",
            f"{_AS_AMT1.replace('CAST(k ', 'CAST(p_partkey ')} AS amt",
            "p_brand AS tag",
        ).where(_AS_UPK.replace("k %", "p_partkey %"))
        V.commit_upsert(spark, root, ups, "k")
        grp5 = F.expr("CAST(k % 5 AS STRING)").alias("grp")
        rows = (
            V.read_version(spark, root)
            .groupBy(grp5)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("val").cast("bigint").alias("sum_val"),
                F.count("tag").alias("n_tagged"),
                F.sum(F.element_at("arr", 1)).cast("bigint")
                .alias("sum_arr"),
                (F.sum("amt") * 100).cast("bigint").alias("sum_amt_c"),
            )
            .select(F.lit("agg").alias("section"), "grp", "n_rows",
                    "sum_val", "n_tagged", "sum_arr", "sum_amt_c")
            .collect()
        )
        # all four ALTERs are metadata-only: zero files moved
        h = {r["version"]: r for r in V.history(spark, root)}
        rows.append((
            "meta", "alters_moved_zero_files",
            sum(h[v]["files_added"] + h[v]["files_relinked"]
                for v in (1, 2, 3, 4)),
            0, 0, 0, 0,
        ))
        # time travel serves the pre-ALTER shape: 4 narrow columns,
        # narrow at every widened position
        v0 = V.read_version(spark, root, 0)
        d0 = dict(v0.dtypes)
        rows.append((
            "meta", "v0_schema",
            len(v0.columns),
            1 if (d0["val"] == "int" and d0["arr"] == "array<int>"
                  and d0["amt"] == "decimal(10,2)") else 0,
            0, 0, 0,
        ))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _local_rows_df(spark, rows, "section string, grp string, n_rows bigint, sum_val bigint, "
        "n_tagged bigint, sum_arr bigint, sum_amt_c bigint")


def _alter_schema_oracle() -> str:
    """DuckDB twin of q_alter_schema — the final state is the upsert
    replacement over the NULL-tagged widened base; the array leg's
    single element is modeled as the scalar it holds; meta rows are
    pinned literals."""
    return f"""
        WITH base AS (
            SELECT CAST(p_partkey AS INTEGER) AS k,
                   CAST({_AS_VAL.replace('AS INT', 'AS INTEGER')} AS BIGINT) AS val,
                   CAST(p_partkey AS BIGINT) AS arr_e,
                   {_AS_AMT0.replace('k %', 'p_partkey %')} AS amt,
                   CAST(NULL AS VARCHAR) AS tag
            FROM part
        ), ups AS (
            SELECT k, {_AS_BIG} AS val, {_AS_BIG} AS arr_e,
                   {_AS_AMT1} AS amt, tag
            FROM (
                SELECT CAST(p_partkey AS INTEGER) AS k, p_brand AS tag
                FROM part
            ) WHERE {_AS_UPK}
        ), final AS (
            SELECT k, val, arr_e, CAST(amt AS DECIMAL(14,2)) AS amt, tag
            FROM ups
            UNION ALL
            SELECT b.k, b.val, b.arr_e, CAST(b.amt AS DECIMAL(14,2)),
                   b.tag
            FROM base b
            WHERE NOT EXISTS (SELECT 1 FROM ups u WHERE u.k = b.k)
        )
        SELECT 'agg' AS section, CAST(k % 5 AS VARCHAR) AS grp,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(val) AS BIGINT) AS sum_val,
               CAST(COUNT(tag) AS BIGINT) AS n_tagged,
               CAST(SUM(arr_e) AS BIGINT) AS sum_arr,
               CAST(SUM(amt) * 100 AS BIGINT) AS sum_amt_c
        FROM final GROUP BY 2
        UNION ALL
        SELECT 'meta', 'alters_moved_zero_files', 0, 0, 0, 0, 0
        UNION ALL
        SELECT 'meta', 'v0_schema', 4, 1, 0, 0, 0
    """


#: dv_debt_purge golden literals — computed by INDEPENDENT arithmetic
#: over the deterministic range build (media_golden discipline: the
#: replay never runs the code under test). State groups: keys in
#: [0,400) minus {k%10 in (4,8)}, val = 3k + 1000*[k%100==1].
#: bloom_point_lookup shared constants (iron rule 7)
_BPL_KEYS = [1, 3, 5]


def q_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter file index end-to-end (operators/versioned.py
    set_bloom_index / read_version(key_in=...), new r15 — Delta's
    bloomFilterIndex): orders land in three commits INTERLEAVED by
    o_orderkey % 3, so every file's [min,max] key interval overlaps
    every other and stats alone can prune NOTHING — the needle
    use-case the per-file bitmaps exist for. The index activates
    after the first commit (its files stay unindexed → kept
    conservatively); a three-needle point lookup then reads through
    the sidecar membership test. Output = the needle rows plus meta
    rows pinning that every needle was found (no false negatives —
    the bloom contract) and that the lookup scanned STRICTLY fewer
    files than the snapshot holds (bloom pruning is real; xxhash64 is
    deterministic, so the scanned set is reproducible). Materializes
    eagerly BY NATURE (commits are actions)."""
    import shutil
    import tempfile

    from amadeus_spark.operators import versioned as V

    orders = _t(spark, sf_dir, "orders")
    keys = _BPL_KEYS
    tmp = tempfile.mkdtemp(prefix="amadeus_bpl_")
    try:
        root = os.path.join(tmp, "vt")
        base = orders.selectExpr(
            "o_orderkey AS k",
            "'doc-' || CAST(o_orderkey AS STRING) AS doc",
        )
        V.commit_append(
            spark, root, base.where("k % 3 = 0").repartition(2, "k"),
            ["k"],
        )
        # fpp pinned LOW: the bloom_pruned meta row is a pinned oracle
        # literal, and its truth re-rolls only when the testdata drop
        # regenerates — at 1e-4 over 3 probes x 2 off-needle files the
        # all-false-positive flip is ~1e-7 per drop (at the gate's row
        # counts the bitmaps are still tiny)
        V.set_bloom_index(spark, root, ["doc"], fpp=1e-4)
        V.commit_append(
            spark, root, base.where("k % 3 = 1").repartition(2, "k")
        )
        V.commit_append(
            spark, root, base.where("k % 3 = 2").repartition(2, "k")
        )
        probes = [f"doc-{k}" for k in keys]
        got = V.read_version(spark, root, key_in=probes, key_col="doc")
        hits = (
            got.where(F.col("doc").isin(probes))
            .select(F.lit("hit").alias("section"), "doc",
                    F.col("k").cast("bigint").alias("k"))
            .collect()
        )
        n_total = V.describe_detail(spark, root)["n_files"]
        rows = sorted(hits)
        rows.append((
            "meta", "found_all",
            1 if len(hits) == len(keys) else 0,
        ))
        rows.append((
            "meta", "bloom_pruned",
            1 if len(got.inputFiles()) < n_total else 0,
        ))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _local_rows_df(spark, rows, "section string, doc string, k bigint")


def _bloom_point_lookup_oracle() -> str:
    """DuckDB twin of q_bloom_point_lookup — the needles relationally;
    the index meta rows are pinned literals (a DuckDB query has no
    file plan to compare)."""
    keys = ", ".join(str(k) for k in _BPL_KEYS)
    return f"""
        SELECT 'hit' AS section,
               'doc-' || CAST(o_orderkey AS VARCHAR) AS doc,
               CAST(o_orderkey AS BIGINT) AS k
        FROM orders WHERE o_orderkey IN ({keys})
        UNION ALL
        SELECT 'meta', 'found_all', 1
        UNION ALL
        SELECT 'meta', 'bloom_pruned', 1
    """


_DVD_ORACLE = """
    SELECT section, grp, n_rows, a, b FROM (VALUES
        ('debt', 'v0-append', CAST(100 AS BIGINT), CAST(0 AS BIGINT),
         CAST(0 AS BIGINT)),
        ('debt', 'v1-append', 200, 0, 0),
        ('debt', 'v2-append', 300, 0, 0),
        ('debt', 'v3-append', 400, 0, 0),
        ('debt', 'v4-delete', 360, 4, 40),
        ('debt', 'v5-delete', 320, 4, 80),
        ('debt', 'v6-update', 320, 4, 84),
        ('debt', 'v7-optimize', 320, 0, 0),
        ('gate', 'noop99', 1, -1, -1),
        ('state', '0', 80, 47400, 395),
        ('state', '1', 80, 51640, 396),
        ('state', '2', 80, 47880, 397),
        ('state', '3', 40, 23760, 393),
        ('state', '4', 40, 24480, 399)
    ) AS t(section, grp, n_rows, a, b)
"""


def _restore_table_oracle() -> str:
    """DuckDB twin of q_restore_table — the final state is v1 (base
    overridden by the upsert wave) ∪ wave2: the delete wave must be
    INVISIBLE (the restore rolled it back); the op sequence is pinned
    as literals."""
    return f"""
        WITH base AS (
            SELECT o_orderkey AS k, {_RS_VAL} AS val
            FROM orders WHERE {_RS_BASE}
        ), up AS (
            SELECT o_orderkey AS k, {_RS_VAL} + {_RS_UP_DELTA} AS val
            FROM orders WHERE {_RS_UP}
        ), v1 AS (
            SELECT k, val FROM base b
            WHERE NOT EXISTS (SELECT 1 FROM up u WHERE u.k = b.k)
            UNION ALL SELECT k, val FROM up
        ), fin AS (
            SELECT * FROM v1
            UNION ALL
            SELECT o_orderkey AS k, {_RS_VAL} AS val
            FROM orders WHERE {_RS_W2}
        )
        SELECT 'state' AS section, CAST(k % 5 AS VARCHAR) AS grp,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(val) AS BIGINT) AS sum_val,
               CAST(MIN(k) AS BIGINT) AS min_k,
               CAST(MAX(k) AS BIGINT) AS max_k
        FROM fin GROUP BY 2
        UNION ALL
        SELECT section, grp, n_rows, sum_val, min_k, max_k
        FROM (VALUES
            ('hist', 'append', CAST(0 AS BIGINT), CAST(-1 AS BIGINT),
             CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)),
            ('hist', 'upsert', 1, -1, -1, -1),
            ('hist', 'delete', 2, -1, -1, -1),
            ('hist', 'restore', 3, -1, -1, -1),
            ('hist', 'append', 4, -1, -1, -1)
        ) AS h(section, grp, n_rows, sum_val, min_k, max_k)
    """


def oracle_sql() -> dict[str, str]:
    return {
        "most_distinct": """
            SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS distinct_vals
            FROM lineitem GROUP BY l_suppkey
            ORDER BY distinct_vals DESC, l_suppkey LIMIT 10
        """,
        "most_frequent": """
            SELECT l_partkey, COUNT(*) AS freq
            FROM lineitem GROUP BY l_partkey
            ORDER BY freq DESC, l_partkey LIMIT 10
        """,
        "summary_agg": """
            SELECT COUNT(*) AS cnt,
                   CAST(SUM(l_quantity) AS DOUBLE) AS total,
                   AVG(l_quantity) AS mean,
                   ROUND(STDDEV_POP(l_quantity), 4) AS stddev,
                   MIN(l_quantity) AS min_val,
                   MAX(l_quantity) AS max_val
            FROM lineitem
        """,
        "histogram": """
            SELECT l_returnflag, COUNT(*) AS cnt
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "group_by_pricing": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(ROUND((l_extendedprice) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS sum_base_price,
                   CAST(SUM(CAST(ROUND((l_extendedprice*(1-l_discount)) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS sum_disc_price,
                   CAST(SUM(CAST(ROUND((l_extendedprice*(1-l_discount)*(1+l_tax)) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS sum_charge,
                   AVG(l_quantity) AS avg_qty,
                   COUNT(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "max_by": """
            SELECT MAX_BY(c_name, c_acctbal) AS richest,
                   MIN_BY(c_name, c_acctbal) AS poorest,
                   MAX(c_acctbal) AS max_bal,
                   MIN(c_acctbal) AS min_bal
            FROM customer
        """,
        "inner_join": """
            SELECT n_name,
                   CAST(SUM(CAST(ROUND((o_totalprice) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue,
                   COUNT(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "left_join": """
            SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders
            FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey, c.c_name ORDER BY c.c_custkey
        """,
        "semi_anti_join": """
            SELECT (SELECT COUNT(*) FROM customer c
                     WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS with_orders,
                   (SELECT COUNT(*) FROM customer c
                     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS without_orders
        """,
        "map_filter": """
            SELECT COUNT(*) AS n_lines,
                   CAST(SUM(CAST(ROUND((l_extendedprice*(1-l_discount)) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS total_rev
            FROM lineitem WHERE l_discount >= 0.05
        """,
        "flat_map": """
            SELECT token, COUNT(*) AS freq
            FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
            WHERE token <> ''
            GROUP BY token ORDER BY freq DESC, token LIMIT 20
        """,
        "chain_union": """
            SELECT o_orderstatus, COUNT(*) AS cnt FROM (
                SELECT o_orderstatus FROM orders WHERE o_totalprice > 100000
                UNION ALL
                SELECT o_orderstatus FROM orders WHERE o_totalprice <= 150000
            ) GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        "sort_n_by": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 15
        """,
        "sample_deterministic": """
            SELECT o_orderkey, o_custkey FROM orders
            ORDER BY MD5('rs' || CAST(o_orderkey AS VARCHAR)), o_orderkey LIMIT 25
        """,
        "stratified_sample": """
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY MD5('rs' || CAST(doc_id AS VARCHAR)), doc_id
                     ) AS rn
              FROM documents
            ) WHERE rn <= 5 ORDER BY lang, doc_id
        """,
        "all_any": """
            SELECT (SELECT COUNT(*) FROM lineitem WHERE NOT (l_quantity > 0)) = 0 AS all_qty_positive,
                   (SELECT COUNT(*) FROM lineitem WHERE l_quantity > 1000) > 0 AS any_qty_over_1000
        """,
        "set_ops": """
            WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000),
                 lo AS (SELECT o_custkey FROM orders WHERE o_totalprice <= 150000)
            SELECT (SELECT COUNT(*) FROM (SELECT o_custkey FROM hi INTERSECT SELECT o_custkey FROM lo) t) AS in_both,
                   (SELECT COUNT(DISTINCT o_custkey) FROM hi
                     WHERE o_custkey NOT IN (SELECT o_custkey FROM lo)) AS only_high
        """,
        "distinct_count": """
            SELECT COUNT(*) AS n_distinct_pairs FROM (
                SELECT DISTINCT o_custkey, o_orderstatus FROM orders
            )
        """,
        "tpch_q2_min_cost": """
            WITH offers AS (
                SELECT l_partkey, l_suppkey,
                       MIN(CAST(FLOOR(l_extendedprice / l_quantity * 1000000) AS BIGINT)) AS cost_us
                FROM lineitem GROUP BY l_partkey, l_suppkey
            ), best AS (
                SELECT *, MIN(cost_us) OVER (PARTITION BY l_partkey) AS min_us
                FROM offers
            )
            SELECT s_acctbal, s_name, n_name, p_partkey,
                   cost_us / 1e6 AS supply_cost
            FROM best
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE cost_us = min_us
              AND p_size >= 40 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 20
        """,
        "tpch_q4_priority": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders o
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
              AND EXISTS (SELECT 1 FROM lineitem
                           WHERE l_orderkey = o.o_orderkey AND l_returnflag = 'R')
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "tpch_q7_volume": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   EXTRACT(year FROM l_shipdate) AS l_year,
                   CAST(SUM(CAST(ROUND((l_extendedprice*(1-l_discount)) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
            GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
        """,
        "tpch_q8_market_share": """
            SELECT EXTRACT(year FROM o_orderdate) AS o_year,
                   CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                                 THEN CAST(ROUND(l_extendedprice*(1-l_discount)*1000000) AS BIGINT)
                                 ELSE 0 END) AS BIGINT)
                   / CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*1000000) AS BIGINT)) AS BIGINT)
                   AS mkt_share
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'ASIA'
            GROUP BY 1 ORDER BY 1
        """,
        "tpch_q11_important_stock": """
            WITH per_part AS (
                SELECT l_partkey,
                       CAST(SUM(CAST(ROUND(l_extendedprice*1000000) AS BIGINT)) AS BIGINT) AS value_us
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_2'
                GROUP BY l_partkey
            )
            SELECT l_partkey, value_us / 1e6 AS value
            FROM per_part
            WHERE value_us * 500 > (SELECT CAST(SUM(value_us) AS BIGINT) FROM per_part)
            ORDER BY value DESC, l_partkey
        """,
        "tpch_q20_excess_supplier": """
            WITH per_ps AS (
                SELECT l_partkey, l_suppkey,
                       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q_ps
                FROM lineitem GROUP BY 1, 2
            ), per_p AS (
                SELECT l_partkey, CAST(SUM(q_ps) AS BIGINT) AS q_p
                FROM per_ps GROUP BY 1
            )
            SELECT s_suppkey, s_name, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
              AND s_suppkey IN (
                  SELECT l_suppkey FROM per_ps JOIN per_p USING (l_partkey)
                  WHERE q_ps * 8 > q_p)
            ORDER BY s_suppkey
        """,
        "tpch_q9_profit": """
            SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
                   CAST(SUM(CAST(ROUND((l_extendedprice*(1-l_discount) - p_retailprice/100.0*l_quantity) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%'
            GROUP BY 1, 2 ORDER BY nation, o_year DESC
        """,
        "tpch_q10_returns": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   CAST(SUM(CAST(ROUND((l_extendedprice*(1-l_discount)) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-04-01'
              AND o_orderdate < TIMESTAMP '1996-07-01'
            GROUP BY 1, 2, 3, 4
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "tpch_q12_priority_class": """
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_linestatus ORDER BY l_linestatus
        """,
        "tpch_q13_custdist": """
            SELECT c_count, COUNT(*) AS custdist FROM (
                SELECT c_custkey, COUNT(o_orderkey) AS c_count
                FROM customer LEFT OUTER JOIN (
                    SELECT * FROM orders
                    WHERE o_orderpriority <> '4-NOT SPECIFIED'
                ) ON c_custkey = o_custkey
                GROUP BY c_custkey
            ) GROUP BY c_count ORDER BY custdist DESC, c_count DESC
        """,
        "tpch_q14_promo": """
            SELECT COALESCE((100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                       THEN CAST(ROUND(l_extendedprice*(1-l_discount)*1000000) AS BIGINT)
                       ELSE 0 END) AS BIGINT))
                   / CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*1000000) AS BIGINT)) AS BIGINT), 0.0)
                   AS promo_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
        """,
        "tpch_q15_top_supplier": """
            WITH revs AS (
                SELECT l_suppkey,
                       CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*1000000) AS BIGINT)) AS BIGINT) AS rev_us
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-04-01'
                GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, rev_us / 1e6 AS total_revenue
            FROM revs JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev_us = (SELECT MAX(rev_us) FROM revs)
            ORDER BY s_suppkey
        """,
        "tpch_q16_partsupp": """
            SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
                   COUNT(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
              AND p_size IN (1, 5, 9, 15, 20, 25, 30, 35)
              AND NOT EXISTS (
                  SELECT 1 FROM supplier
                  WHERE s_acctbal < 0 AND s_suppkey = l_suppkey)
            GROUP BY 1, 2, 3
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 50
        """,
        "tpch_q17_small_qty": """
            SELECT COALESCE(CAST(SUM(CAST(ROUND(l_extendedprice*1000000) AS BIGINT)) AS BIGINT)
                   / 7e6, 0.0) AS avg_yearly
            FROM lineitem l JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#5'
              AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                                  FROM lineitem l2
                                 WHERE l2.l_partkey = l.l_partkey)
        """,
        "tpch_q19_disjunctive": """
            SELECT COALESCE(CAST(SUM(CAST(ROUND((l_extendedprice*(1-l_discount)) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 0.0) AS revenue,
                   COUNT(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "tpch_q21_waiting": """
            SELECT s_name, COUNT(*) AS numwait
            FROM lineitem l1
            JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
            JOIN supplier ON s_suppkey = l1.l_suppkey
            WHERE l1.l_returnflag = 'R'
              AND EXISTS (SELECT 1 FROM lineitem l2
                           WHERE l2.l_orderkey = l1.l_orderkey
                             AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                               WHERE l3.l_orderkey = l1.l_orderkey
                                 AND l3.l_suppkey <> l1.l_suppkey
                                 AND l3.l_returnflag = 'R')
            GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
        """,
        "tpch_q22_global": """
            WITH t AS (
                SELECT CAST(SUM(CAST(ROUND(c_acctbal*1000000) AS BIGINT)) AS BIGINT) AS total_us,
                       COUNT(*) AS n_pos
                FROM customer WHERE c_acctbal > 0
            )
            SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
                   COUNT(*) AS numcust,
                   CAST(SUM(CAST(ROUND((c_acctbal) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS totacctbal
            FROM customer, t
            WHERE CAST(ROUND(c_acctbal*1000000) AS BIGINT) * n_pos > total_us
              AND NOT EXISTS (SELECT 1 FROM orders
                               WHERE o_custkey = c_custkey
                                 AND o_orderdate >= TIMESTAMP '2000-01-01')
            GROUP BY 1 ORDER BY 1
        """,
        "percentiles": """
            SELECT ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                   ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
                   ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
            FROM orders
        """,
        "tpch_q3_shipping": """
            SELECT l_orderkey,
                   CAST(SUM(CAST(ROUND((l_extendedprice*(1-l_discount)) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "tpch_q5_local_supplier": """
            SELECT n_name,
                   CAST(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name ORDER BY revenue DESC, n_name
        """,
        "tpch_q18_large_orders": """
            WITH sums AS (
              SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
              FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS BIGINT)) > 250
            )
            SELECT c_name, c_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice, total_qty
            FROM sums JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100
        """,
        "tpch_q6_forecast": """
            SELECT CAST(SUM(CAST(ROUND((l_extendedprice*l_discount) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue
            FROM lineitem
            WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
        """,
        "supplier_part_share": """
            SELECT n_name,
                   CAST(SUM(CAST(ROUND((l_extendedprice*(1-l_discount)) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue,
                   COUNT(*) AS n_lines
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_size >= 25
            GROUP BY n_name ORDER BY n_name
        """,
        "rollup": """
            SELECT COALESCE(l_returnflag, 'ALL') AS rf,
                   COALESCE(l_linestatus, 'ALL') AS ls,
                   COUNT(*) AS cnt,
                   CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY rf, ls
        """,
        "cube": """
            SELECT COALESCE(o_orderstatus, 'ALL') AS status,
                   COALESCE(o_orderpriority, 'ALL') AS priority,
                   COUNT(*) AS cnt
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
            ORDER BY status, priority
        """,
        "pivot": """
            SELECT o_orderpriority,
                   CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
                   CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
                   CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "json_props": """
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
                   CAST(MAX(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS max_k
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "variant_props": """
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
                   CAST(MAX(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS max_k,
                   CAST(MAX(LENGTH(props ->> '$.k')) AS BIGINT) AS max_k_digits,
                   CAST(COUNT(DISTINCT COALESCE(array_to_string(list_sort(json_keys(props)), ','), '')) AS BIGINT) AS n_shapes
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "fold_udaf": """
            SELECT l_returnflag, COUNT(*) AS cnt,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS udaf_sum,
                   CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*) AS udaf_mean
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "hourly_events": f"""
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(ROUND((value) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS total_value
            FROM {_EVENTS_US} ev GROUP BY 1, 2 ORDER BY hour, event_type LIMIT 100
        """,
        "gap_fill_events": timeseries.gap_fill_oracle(
            f"(SELECT * FROM {_EVENTS_US} WHERE value >"
            f" CAST({GAP_FILL_MIN_VALUE} AS DOUBLE))"
        ),
        "funnel_steps": timeseries.funnel_oracle(_EVENTS_US),
        "rolling_window": timeseries.rolling_window_oracle(_EVENTS_US),
        "bm25_topk": retrieval.bm25_topk_oracle("documents"),
        "fuzzy_name_match": fuzzy.fuzzy_match_oracle(
            "customer", "c_custkey", "c_name", "c_mktsegment"
        ),
        # INDEPENDENT oracle: brute-force pairwise levenshtein, no shared
        # blocking fragment — a depth-2 neighborhood recall bug on the
        # Spark side hash-mismatches here instead of hiding.
        "fuzzy_code_match_d2": f"""
            WITH c AS (
              SELECT c_custkey AS k, {_fuzzy_code_frags()[1]} AS n,
                     c_mktsegment AS grp
              FROM customer
            ), pairs AS (
              SELECT a.k AS k1, a.grp
              FROM c a JOIN c b
                ON a.k < b.k AND levenshtein(a.n, b.n) <= 2
            )
            SELECT grp,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(COUNT(DISTINCT k1) AS BIGINT) AS n_members_matched
            FROM pairs GROUP BY grp ORDER BY grp
        """,
        "fuzzy_dict_lookup_d3": f"""
            WITH {_fuzzy16_duck_cte()},
            d AS (SELECT k, n FROM c WHERE k % 4 = 0),
            pairs AS (
              SELECT p.k AS pk, p.grp, levenshtein(p.n, d.n) AS dist
              FROM c p JOIN d
                ON abs(length(p.n) - length(d.n)) <= 3
               AND levenshtein(p.n, d.n) <= 3
            )
            SELECT grp,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(COUNT(DISTINCT pk) AS BIGINT) AS n_probes_matched,
                   CAST(SUM(dist) AS BIGINT) AS sum_dist
            FROM pairs GROUP BY grp ORDER BY grp
        """,
        # expected literals derived from the same GOLDEN_ROWS constant
        # the committed fixture encodes (sources/pg_golden.py)
        "dml_delete_update": _dml_delete_update_oracle(),
        "time_travel_asof": _time_travel_asof_oracle(),
        "merge_into": _merge_into_oracle(),
        "restore_table": _restore_table_oracle(),
        "schema_evolution": _schema_evolution_oracle(),
        "column_mapping": _column_mapping_oracle(),
        "convert_clone": _convert_clone_oracle(),
        "hive_convert": _hive_convert_oracle(),
        "alter_schema": _alter_schema_oracle(),
        "bloom_point_lookup": _bloom_point_lookup_oracle(),
        "shallow_clone": _shallow_clone_oracle(),
        "dv_debt_purge": _DVD_ORACLE,
        "postgres_copy_decode": _pg_golden.golden_oracle_sql(),
        "webdataset_index": _wds_golden.oracle_sql(),
        "webdataset_roundtrip": _wds_golden.oracle_roundtrip_sql(),
        # demux/codec golden family (functions/media_golden.py):
        # literal VALUES replayed independently of the parser under
        # test — box-walk offsets (mp4), frame-length arithmetic (mp3),
        # closed-form rasters (frame sample / features)
        "mp4_frame_plan": _media_golden.oracle_mp4_plan_sql(),
        "mp3_segment_plan": _media_golden.oracle_mp3_plan_sql(),
        "media_frame_sample": _media_golden.oracle_frame_sample_sql(),
        "multimodal_features": _media_golden.oracle_features_sql(),
        "corpusflow_e2e": _corpusflow_e2e_oracle(),
        # d=3 twin: same independent brute-force discipline — the Spark
        # side blocks via pigeonhole segments; the oracle blocks via
        # nothing at all (length band only, a pure correctness-neutral
        # speedup for the quadratic loop).
        "fuzzy_code_match_d3": f"""
            WITH {_fuzzy16_duck_cte()},
            pairs AS (
              SELECT a.k AS k1, a.grp
              FROM c a JOIN c b
                ON a.k < b.k
               AND abs(length(a.n) - length(b.n)) <= 3
               AND levenshtein(a.n, b.n) <= 3
            )
            SELECT grp,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(COUNT(DISTINCT k1) AS BIGINT) AS n_members_matched
            FROM pairs GROUP BY grp ORDER BY grp
        """,
        "cohort_retention": timeseries.cohort_retention_oracle(
            f"(SELECT * FROM {_EVENTS_US} WHERE value >"
            f" CAST({COHORT_MIN_VALUE} AS DOUBLE))",
            period_us=COHORT_PERIOD_US,
        ),
        "time_rollup": f"""
            WITH hourly AS (
              SELECT date_trunc('hour', ts) AS bucket, event_type,
                     COUNT(*) AS n,
                     CAST(SUM(CAST(ROUND((value) * 1000000) AS BIGINT)) AS BIGINT) AS v_us
              FROM {_EVENTS_US} ev GROUP BY 1, 2
            ), daily AS (
              SELECT date_trunc('day', bucket) AS bucket, event_type,
                     CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(v_us) AS BIGINT) AS v_us
              FROM hourly GROUP BY 1, 2
            ), hour_level AS (
              SELECT 'hour' AS resolution, event_type, COUNT(*) AS n_buckets,
                     CAST(SUM(n) AS BIGINT) AS n_events,
                     CAST(SUM(v_us) AS DOUBLE) / 1000000 AS total_value
              FROM hourly GROUP BY event_type
            ), day_level AS (
              SELECT 'day' AS resolution, event_type, COUNT(*) AS n_buckets,
                     CAST(SUM(n) AS BIGINT) AS n_events,
                     CAST(SUM(v_us) AS DOUBLE) / 1000000 AS total_value
              FROM daily GROUP BY event_type
            )
            SELECT * FROM hour_level UNION ALL SELECT * FROM day_level
            ORDER BY resolution, event_type
        """,
        "window_functions": f"""
            SELECT user_id, event_id, rn, prev_value, running_value
            FROM (
                SELECT user_id, event_id,
                       row_number() OVER w AS rn,
                       coalesce(lag(value) OVER w, cast(-1 as double)) AS prev_value,
                       sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS running_value
                FROM {_EVENTS_US} ev
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ) t WHERE user_id < 5 AND rn <= 3
            ORDER BY user_id, rn
        """,
        "sessionization": f"""
            WITH e AS (
              SELECT user_id, ts,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
              FROM {_EVENTS_US} ev
            ), f AS (
              SELECT user_id, ts,
                     CASE WHEN prev_ts IS NULL
                               OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1
                          ELSE 0 END AS new_sess
              FROM e
            )
            SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
            FROM f GROUP BY user_id ORDER BY user_id
        """,
        "asof_join": f"""
            SELECT COUNT(*) AS n_purchases,
                   COUNT(last_click) AS n_matched,
                   CAST(SUM(epoch_us(ts) - epoch_us(last_click)) AS BIGINT) AS total_gap_us
            FROM (
              SELECT p.ts,
                     (SELECT max(c.ts) FROM {_EVENTS_US} c
                       WHERE c.user_id = p.user_id AND c.event_type = 'click'
                         AND c.ts <= p.ts) AS last_click
              FROM {_EVENTS_US} p WHERE p.event_type = 'purchase'
            ) t
        """,
        "range_join": """
            WITH ivals AS (
              SELECT o_orderkey AS ival_id,
                     (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS lo,
                     (CAST(o_orderdate AS DATE) - DATE '1970-01-01') + 30 AS hi
              FROM orders WHERE o_orderkey % 997 = 0
            )
            SELECT ival_id, COUNT(*) AS n_items,
                   CAST(SUM(CAST(ROUND((l_extendedprice) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS sum_price
            FROM lineitem JOIN ivals
              ON (CAST(l_shipdate AS DATE) - DATE '1970-01-01') >= lo
             AND (CAST(l_shipdate AS DATE) - DATE '1970-01-01') <= hi
            GROUP BY ival_id ORDER BY ival_id
        """,
        "salted_skew_join": """
            SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, COUNT(*) AS n_items,
                   CAST(SUM(CAST(ROUND((l_extendedprice) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS revenue
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_nationkey ORDER BY s_nationkey
        """,
        "training_pipeline": f"""
            WITH qkept AS MATERIALIZED (
              SELECT * FROM documents
              WHERE cast({text.stopword_count_sql("text")} as double)
                    / cast(len(list_filter(string_split(text, ' '), x -> x <> '')) as double) >= 0.05
            ),
            pairs AS (
              SELECT * FROM ({dedup.minhash_lsh_oracle("qkept", "doc_id", "text", 0.8, LSH_MAX_BUCKET)}) mh
            ),
            kept AS (
              SELECT * FROM qkept
              WHERE doc_id NOT IN (SELECT DISTINCT doc_b FROM pairs)
            )
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS total_tokens,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars
            FROM kept GROUP BY lang ORDER BY lang
        """,
        "bpe_token_stats": f"""
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS ws_tokens,
                   CAST(SUM({text.bpe_token_count_sql('text')}) AS BIGINT) AS bpe_tokens,
                   COUNT(DISTINCT {text.rolling_fingerprint_sql('text')}) AS n_distinct_fp
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "token_stats": f"""
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM({text.quality_sql('text')['n_tokens']}) AS BIGINT) AS total_tokens,
                   CAST(SUM(CAST({text.quality_sql('text')['quality_score']} AS DECIMAL(18,9))) AS DOUBLE) AS quality_sum
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "lang_id": f"""
            SELECT {text.lang_id_sql('text')} AS pred_lang, COUNT(*) AS cnt
            FROM documents GROUP BY 1 ORDER BY pred_lang
        """,
        "line_dedup": dedup.line_dedup_oracle(f"read_parquet('{_LINE_FIXTURE}')"),
        "duplicated_spans": dedup.duplicated_span_oracle("documents"),
        "perplexity_filter": text.bigram_surprisal_oracle("documents"),
        "grouped_topn": """
            SELECT n_name, rnk, l_partkey, rev_us / 1e6 AS revenue
            FROM (
                SELECT n_name, l_partkey,
                       CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*1000000) AS BIGINT)) AS BIGINT) AS rev_us,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY n_name
                           ORDER BY SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*1000000) AS BIGINT)) DESC,
                                    l_partkey
                       ) AS BIGINT) AS rnk
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                GROUP BY n_name, l_partkey
            ) WHERE rnk <= 3 ORDER BY n_name, rnk
        """,
        "group_sink_nation": """
            SELECT n_name,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   CAST(SUM(CAST(ROUND(c_acctbal * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS total_acctbal,
                   array_to_string(
                       (list(CAST(c_custkey AS VARCHAR)
                             ORDER BY md5('gbs' || CAST(c_custkey AS VARCHAR)), c_custkey))[1:5],
                       ',') AS sample_custkeys,
                   array_to_string(
                       (list(CAST(c_custkey AS VARCHAR)
                             ORDER BY c_acctbal DESC, c_custkey))[1:3],
                       ',') AS top_custkeys
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "data_expectations": """
            SELECT 'discount_le_10pct' AS "check",
                   CAST((SELECT COUNT(*) FROM lineitem WHERE NOT (l_discount <= 0.10)) AS BIGINT) AS violations
            UNION ALL
            SELECT 'line_identity_unique',
                   CAST((SELECT COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem) AS BIGINT)
            UNION ALL
            SELECT 'orderkey_fk_orders',
                   CAST((SELECT COUNT(*) FROM lineitem l
                          WHERE l_orderkey IS NOT NULL
                            AND NOT EXISTS (SELECT 1 FROM orders
                                             WHERE o_orderkey = l.l_orderkey)) AS BIGINT)
            UNION ALL
            SELECT 'orderkey_not_null',
                   CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL) AS BIGINT)
            UNION ALL
            SELECT 'qty_in_1_40',
                   CAST((SELECT COUNT(*) FROM lineitem
                          WHERE NOT (l_quantity BETWEEN 1 AND 40)) AS BIGINT)
            UNION ALL
            SELECT 'qty_in_1_50',
                   CAST((SELECT COUNT(*) FROM lineitem
                          WHERE NOT (l_quantity BETWEEN 1 AND 50)) AS BIGINT)
            UNION ALL
            SELECT 'returnflag_in_domain',
                   CAST((SELECT COUNT(*) FROM lineitem
                          WHERE l_returnflag NOT IN ('A','N','R')) AS BIGINT)
            ORDER BY "check"
        """,
        "weighted_sample": sampling.weighted_sample_oracle(
            "orders", "o_orderkey", "o_totalprice", 25,
            cols="o_orderkey, o_totalprice",
        ),
        "equidepth_histogram": """
            WITH v AS (
                SELECT o_totalprice,
                       CAST(ROUND(o_totalprice * 1000000) AS BIGINT) AS v_us
                FROM orders
            ), c AS (
                SELECT quantile_cont(v_us,
                    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
                FROM v
            )
            SELECT bucket, COUNT(*) AS n,
                   MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
            FROM (
                SELECT o_totalprice,
                       CAST(1
                            + (CASE WHEN v_us > cs[1] THEN 1 ELSE 0 END)
                            + (CASE WHEN v_us > cs[2] THEN 1 ELSE 0 END)
                            + (CASE WHEN v_us > cs[3] THEN 1 ELSE 0 END)
                            + (CASE WHEN v_us > cs[4] THEN 1 ELSE 0 END)
                            + (CASE WHEN v_us > cs[5] THEN 1 ELSE 0 END)
                            + (CASE WHEN v_us > cs[6] THEN 1 ELSE 0 END)
                            + (CASE WHEN v_us > cs[7] THEN 1 ELSE 0 END)
                            + (CASE WHEN v_us > cs[8] THEN 1 ELSE 0 END)
                            + (CASE WHEN v_us > cs[9] THEN 1 ELSE 0 END)
                        AS BIGINT) AS bucket
                FROM v, c
            ) GROUP BY bucket ORDER BY bucket
        """,
        "scd2_user_episodes": f"""
            WITH ordered AS (
                SELECT user_id, ts, event_id, event_type,
                       LAG(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS prev
                FROM {_EVENTS_US} ev
            ), episodes AS (
                SELECT user_id, ts, event_id, event_type FROM ordered
                WHERE event_type IS DISTINCT FROM prev
            )
            SELECT user_id,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS BIGINT) AS seq,
                   event_type,
                   COALESCE(CAST(date_diff('microsecond', ts,
                       LEAD(ts) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       )) AS BIGINT), -1) AS duration_us
            FROM episodes ORDER BY user_id, seq
        """,
        "html_text_extract": _html_text_extract_oracle(),
        "c4_quality": _c4_quality_oracle(),
        "temperature_mixture": _temperature_mixture_oracle(),
        "doc_chunking": text.chunk_stats_oracle("documents", 64, 48),
        "inverted_index": retrieval.build_postings_oracle("documents")
        + " ORDER BY term",
        "domain_stats": _domain_stats_oracle(),
        "text_normalize": _text_normalize_oracle(),
        "pagerank": _pagerank_oracle(),
        "url_dedup": _url_dedup_oracle(),
        "epoch_shuffle": _epoch_shuffle_oracle(),
        "mixture_sample": "SELECT lang, doc_id FROM ("
        + sampling.mixture_sample_oracle(
            "documents", "lang", "doc_id", MIXTURE_K, MIXTURE_WEIGHTS,
            cols="lang, doc_id",
        )
        + ") ORDER BY lang, doc_id",
        "xml_source": f"""
            SELECT name,
                   COUNT(*) AS n_items,
                   CAST(SUM(qty) AS BIGINT) AS total_qty,
                   CAST(SUM(CAST(ROUND((price * qty) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS total_value
            FROM read_parquet('{_XML_TRUTH}')
            GROUP BY name ORDER BY name
        """,
        "event_anomaly_enrich": """
            WITH hist AS (
                SELECT user_id AS h_user,
                       CAST(SUM(CAST(ROUND(value*1000000) AS BIGINT)) AS BIGINT) AS sum_us,
                       COUNT(*) AS n_hist
                FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-21'
                GROUP BY user_id
            )
            SELECT event_type,
                   COUNT(*) AS n_scored,
                   CAST(SUM(CASE WHEN CAST(ROUND(value*1000000) AS BIGINT) * n_hist
                                      > 2 * sum_us
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
                   CAST(SUM(CASE WHEN n_hist IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_coldstart
            FROM events e LEFT JOIN hist ON e.user_id = h_user
            WHERE CAST(ts AS DATE) >= DATE '2024-01-21'
            GROUP BY event_type ORDER BY event_type
        """,
        "pii_scrub": text.pii_stats_oracle(f"read_parquet('{_PII_FIXTURE}')"),
        "decontamination": dedup.decontamination_oracle("documents"),
        "repetition_filter": text.repetition_stats_oracle("documents"),
        "gopher_quality": gopher.gopher_report_oracle("documents"),
        "sequence_packing": text.sequence_packing_oracle("documents", 2048),
        "fingerprint_dedup": f"""
            SELECT COUNT(*) AS n_unique, CAST(SUM(copies - 1) AS BIGINT) AS n_dropped,
                   MAX(copies) AS max_copies
            FROM (SELECT {text.fingerprint_sql('text')} AS fp, COUNT(*) AS copies
                  FROM documents GROUP BY 1)
        """,
        "nested_array_ops": _nested.nested_array_ops_oracle("lineitem"),
        "nested_struct_map": _nested.nested_struct_map_oracle("lineitem"),
        "nested_fixture_read": f"""
            SELECT CAST(b AS BIGINT) AS b, COUNT(*) AS n_rows,
                   CAST(SUM(coalesce(len(a), -1)) AS BIGINT) AS total_outer,
                   CAST(SUM(coalesce(
                       list_reduce(list_transform(a, x ->
                           coalesce(len(list_filter(x, e -> e IS NOT NULL)), 0)),
                           (acc, x) -> acc + x), -1)) AS BIGINT) AS total_strings
            FROM read_parquet('{_NESTED_FIXTURE}')
            GROUP BY b ORDER BY b
        """,
        "cloudfront_logs": f"""
            SELECT c3 AS edge_location,
                   COALESCE(TRY_CAST(c9 AS BIGINT), -1) AS status,
                   COUNT(*) AS n_requests,
                   CAST(COALESCE(SUM(TRY_CAST(c4 AS BIGINT)), 0) AS BIGINT) AS total_bytes,
                   CAST(COUNT(DISTINCT c5) AS BIGINT) AS n_ips,
                   CAST(SUM(CASE WHEN c10 = '-' OR c10 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_referer
            FROM read_csv('{_CF_FIXTURE}/*.gz', delim='\t', header=false,
                          null_padding=true, quote='', auto_detect=false,
                          columns={{{", ".join(f"'c{i}':'VARCHAR'" for i in range(1, 27))}}})
            WHERE c1 NOT LIKE '#%'
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "warc_stats": f"""
            SELECT domain, n_pages, total_bytes
            FROM read_csv('{os.path.join(_WARC_DIR, "expected_domain_stats.csv")}',
                          header=true, auto_detect=false,
                          columns={{'domain': 'VARCHAR', 'n_pages': 'BIGINT',
                                    'total_bytes': 'BIGINT'}})
            ORDER BY domain
        """,
        "minhash_lsh": dedup.minhash_lsh_oracle(
            "documents", "doc_id", "text", 0.8, LSH_MAX_BUCKET
        ),
        "neardup_clusters": dedup.neardup_cluster_oracle(
            dedup.simhash_oracle("documents", "doc_id", "text", 8, 200)
        ),
        "cluster_safe_split": dedup.cluster_safe_split_oracle(
            dedup.simhash_oracle("documents", "doc_id", "text", 8, 200)
        ),
        "cluster_keep_best": dedup.cluster_keep_best_oracle(
            dedup.simhash_oracle("documents", "doc_id", "text", 8, 200)
        ),
        "token_budget_sample": f"""
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
                   CAST(SUM(n_tok) AS BIGINT) AS tokens_kept
            FROM ({sampling.token_budget_sample_oracle(
                "(SELECT lang, doc_id, len(" + dedup.toks_frag("text")[1]
                + ") AS n_tok FROM documents)",
                "lang", "doc_id", "n_tok", _TB_BUDGETS,
            )})
            GROUP BY lang ORDER BY lang
        """,
        "key_skew_profile": aggregates.key_skew_profile_oracle(
            "events", "event_type", "user_id", 10
        ),
        "dsir_select": dsir.dsir_importance_oracle("documents", "lang = 'en'"),
        "span_scrub": dedup.span_dedup_rewrite_oracle("documents"),
        "decon_span_scrub": dedup.span_decontaminate_oracle("documents"),
        "snapshot_diff": dedup.snapshot_diff_oracle("documents"),
        "hard_negatives": retrieval.hard_negatives_oracle(
            "documents", _HN_QUERY_IDS, 5
        ),
        "semantic_decontamination": similarity.semantic_decontamination_oracle(
            "embeddings", 0.4
        ),
        "incremental_neardup": f"""
            WITH pairs AS ({dedup.minhash_lsh_oracle("documents", "doc_id", "text", 0.8)}),
            sym AS (
                SELECT doc_a AS doc_id, doc_b AS corpus_id, jaccard FROM pairs
                UNION ALL
                SELECT doc_b AS doc_id, doc_a AS corpus_id, jaccard FROM pairs
            )
            SELECT doc_id, corpus_id, jaccard FROM sym
            WHERE doc_id % 5 = 0 ORDER BY doc_id, corpus_id
        """,
        "simhash": dedup.simhash_oracle("documents", "doc_id", "text", 8, 20),
        "ngram_jaccard": dedup.ngram_jaccard_oracle(
            "documents", "doc_id", "text", 0.5, max_df_frac=NGRAM_MAX_DF_FRAC
        ),
        "embedding_neardup": similarity.embedding_neardup_oracle(
            "embeddings", 0.3, 10, max_bucket_size=LSH_MAX_BUCKET
        ),
        "cosine_topk": similarity.cosine_topk_oracle("embeddings", _SIM_QUERY_IDS, 5),
        "ann_lsh": similarity.ann_lsh_oracle("embeddings", _SIM_QUERY_IDS, 5),
        "cdc_apply": _cdc_apply_oracle(),
        "table_changes": _table_changes_oracle(),
    }
