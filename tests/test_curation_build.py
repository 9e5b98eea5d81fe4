"""Driver-side build of the curation kernels (dedup.minhash_lsh_pairs,
similarity.embedding_neardup_pairs, fuzzy.fuzzy_match_stats) and what it
must not change: the bucket-pair plan shapes, the folded plane table,
the parquet schema cache, duplicate-id parity with the oracles, and the
number of JVM round trips a build costs."""

from __future__ import annotations

import datetime
import decimal
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from amadeus_spark import release_cached
from amadeus_spark.functions import dedup, similarity
from amadeus_spark.tables import read_parquet

SF_ORACLE = "/root/testdata/sf0.01"


def _next_job(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _build(spark, name: str):
    spark.catalog.clearCache()
    release_cached()
    return entrymod.queries()[name](spark, SF_ORACLE)


# ---------------------------------------------------------------- plans

#: (shuffle Exchanges, BroadcastExchanges) in the planned (pre-AQE)
#: physical plan at sf0.01 — the counts of the per-caller copies the
#: shared dedup.bucket_pairs replaced
BUCKET_PAIR_EXCHANGES = {
    "minhash_lsh": (6, 2),
    "simhash": (3, 1),
    "fuzzy_name_match": (5, 1),
    "embedding_neardup": (3, 2),
}


@pytest.mark.parametrize("name", sorted(BUCKET_PAIR_EXCHANGES))
def test_bucket_pair_callers_keep_their_exchanges(spark, name):
    txt = _build(spark, name)._jdf.queryExecution().executedPlan().toString()
    got = (len(re.findall(r"\bExchange\b", txt)), txt.count("BroadcastExchange"))
    assert got == BUCKET_PAIR_EXCHANGES[name], txt[:3000]


def test_embedding_planes_stay_a_folded_literal(spark):
    """The plane table is written as one ``from_json`` string; it must
    constant-fold, so no row ever parses JSON."""
    opt = _build(spark, "embedding_neardup")._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in opt and "JsonToStructs" not in opt
    assert "transform([[[" in opt


def test_band_buckets_equal_the_per_plane_spec(spark):
    emb = spark.read.parquet(os.path.join(SF_ORACLE, "embeddings.parquet"))
    spec, _ = similarity.band_buckets_frag("embedding")
    row = (
        emb.selectExpr(
            f"array({', '.join(spec)}) AS spec",
            f"{similarity.band_buckets_spark('embedding')} AS got",
        )
        .selectExpr("count(1) AS n", "count_if(spec != got) AS bad")
        .collect()[0]
    )
    assert row["n"] > 0 and row["bad"] == 0


# ---------------------------------------------------------- duplicate ids


def _dup_inputs(spark, duck, table: str, id_col: str, ids: list[int]):
    """``table`` with the rows of ``ids`` appearing twice, in both engines."""
    src = spark.read.parquet(os.path.join(SF_ORACLE, f"{table}.parquet"))
    dup = src.unionByName(src.where(F.col(id_col).isin(ids)))
    in_list = ", ".join(map(str, ids))
    duck.execute(
        f"CREATE OR REPLACE VIEW {table}_dup AS SELECT * FROM {table}"
        f" UNION ALL SELECT * FROM {table} WHERE {id_col} IN ({in_list})"
    )
    return dup, f"{table}_dup"


def _pair_ids(duck, sql: str) -> list[int]:
    a, b = duck.sql(sql).fetchall()[0][:2]
    return [int(a), int(b), 0]


def _rows(rows) -> set[tuple]:
    return {tuple(r) for r in rows}


def test_duplicate_ids_emit_no_self_pairs(spark, duck):
    """With an id present twice, the bucket lists hold it twice; the
    shared pair guard must keep (d, d) out, as the oracles' ``a < b``
    does. Compared as sets: the embedding oracle keeps one row per
    input row, so it repeats each of the duplicated id's pairs."""
    cases = [
        (
            "documents",
            "doc_id",
            lambda df: dedup.minhash_lsh_pairs(df, "doc_id", "text", 0.8),
            lambda t: dedup.minhash_lsh_oracle(t, "doc_id", "text", 0.8),
        ),
        (
            "documents",
            "doc_id",
            lambda df: dedup.simhash_pairs(df, "doc_id", "text", 8, 200),
            lambda t: dedup.simhash_oracle(t, "doc_id", "text", 8, 200),
        ),
        (
            "embeddings",
            "vec_id",
            lambda df: similarity.embedding_neardup_pairs(df, threshold=0.3),
            lambda t: similarity.embedding_neardup_oracle(t, threshold=0.3),
        ),
    ]
    for table, id_col, build, oracle in cases:
        ids = _pair_ids(duck, oracle(table))
        df, dup_table = _dup_inputs(spark, duck, table, id_col, ids)
        got = _rows(build(df).collect())
        assert got and all(r[0] != r[1] for r in got), table
        assert got == _rows(duck.sql(oracle(dup_table)).fetchall()), (table, ids)


def test_duplicate_id_with_different_texts_is_one_document(spark, duck):
    """An id present twice with DIFFERENT texts is one document in both
    engines: its MinHash covers the union of both texts' shingle hashes,
    its SimHash the concatenated token-hash multiset. Id ``a`` of the
    first oracle pair also gets the text of a document ``c`` from a
    pair that does not involve it."""
    cases = [
        (
            lambda df: dedup.minhash_lsh_pairs(df, "doc_id", "text", 0.8),
            lambda t: dedup.minhash_lsh_oracle(t, "doc_id", "text", 0.8),
        ),
        (
            lambda df: dedup.simhash_pairs(df, "doc_id", "text", 8, 200),
            lambda t: dedup.simhash_oracle(t, "doc_id", "text", 8, 200),
        ),
    ]
    src = spark.read.parquet(os.path.join(SF_ORACLE, "documents.parquet"))
    for build, oracle in cases:
        pairs = duck.sql(oracle("documents")).fetchall()
        a, b = pairs[0][:2]
        c = next(p[0] for p in pairs if {p[0], p[1]}.isdisjoint({a, b}))
        dup = src.unionByName(
            src.where(F.col("doc_id") == c).withColumn(
                "doc_id", F.lit(a).cast(src.schema["doc_id"].dataType)
            )
        )
        duck.execute(
            "CREATE OR REPLACE VIEW documents_retext AS SELECT * FROM documents"
            f" UNION ALL SELECT * REPLACE (CAST({a} AS BIGINT) AS doc_id)"
            f" FROM documents WHERE doc_id = {c}"
        )
        got = sorted(build(dup).collect())
        want = duck.sql(oracle("documents_retext")).fetchall()
        assert got and all(r[0] != r[1] for r in got)
        assert sorted(map(tuple, got)) == sorted(want), (a, c)


# ---------------------------------------------------------- schema cache


def test_t_reads_an_unchanged_file_without_a_job(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    entrymod._t(spark, str(tmp_path), "t")
    j0 = _next_job(spark)
    df = entrymod._t(spark, str(tmp_path), "t")
    assert _next_job(spark) == j0
    assert df.columns == ["a"] and sorted(r["a"] for r in df.collect()) == [1, 2, 3]


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1]}), path)
    assert entrymod._t(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), path)
    j0 = _next_job(spark)
    df = entrymod._t(spark, str(tmp_path), "t")
    assert _next_job(spark) > j0  # inference ran
    assert df.columns == ["a", "b"] and df.collect()[0]["b"] == "x"


def test_directory_listing_change_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "d")
    spark.range(3).write.parquet(path)
    read_parquet(spark, path)
    j0 = _next_job(spark)
    read_parquet(spark, path)
    assert _next_job(spark) == j0
    spark.range(3, 5).write.mode("append").parquet(path)
    j1 = _next_job(spark)
    df = read_parquet(spark, path)
    assert _next_job(spark) > j1  # inference ran
    assert df.count() == 5


# ------------------------------------------------------- result frames


def test_local_rows_df_falls_back_on_comma_types(spark):
    """Types whose DDL carries commas cannot go through the VALUES
    rendering; they must reach the createDataFrame fallback intact."""
    rows = [(decimal.Decimal("1.500000"), {"a": 1}), (None, {"b": 2})]
    ddl = "d decimal(18,6), m map<string,bigint>"
    got = entrymod._local_rows_df(spark, rows, ddl)
    assert got.schema == spark.createDataFrame(rows, ddl).schema
    assert [tuple(r) for r in got.collect()] == rows
    # the rendered path still serves the declared output types
    plain = entrymod._local_rows_df(
        spark, [(1, 2.5, "x", datetime.date(2024, 1, 2), True)],
        "a bigint, b double, c string, d date, e boolean",
    )
    assert "LocalTableScan" in plain._jdf.queryExecution().executedPlan().toString()


# -------------------------------------------------------------- budget

#: py4j round trips and Spark jobs of one warm build (schema cached) of
#: each curation builder. Memory-release commands are not counted: py4j
#: sends one whenever Python garbage-collects a JVM reference, so their
#: number depends on GC timing, not on the builder.
BUILD_BUDGET = {
    "minhash_lsh": 211,
    "embedding_neardup": 158,
    "fuzzy_name_match": 147,
}


def _count_build(spark, monkeypatch, name: str) -> tuple[int, int]:
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            calls[0] += 1
        return send(command, *args, **kwargs)

    spark.catalog.clearCache()
    release_cached()
    j0 = _next_job(spark)
    monkeypatch.setattr(client, "send_command", counting)
    try:
        entrymod.queries()[name](spark, SF_ORACLE)
    finally:
        monkeypatch.setattr(client, "send_command", send)
    return calls[0], _next_job(spark) - j0


@pytest.mark.parametrize("name", sorted(BUILD_BUDGET))
def test_curation_build_cost_budget(spark, monkeypatch, name):
    _count_build(spark, monkeypatch, name)  # warm: schema inferred once
    first = _count_build(spark, monkeypatch, name)
    assert _count_build(spark, monkeypatch, name) == first
    calls, jobs = first
    assert jobs == 0
    assert calls <= BUILD_BUDGET[name], calls
