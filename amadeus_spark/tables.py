"""Test-table registry: the driver's deterministic TPC-H-ish star schema
(/root/testdata/sf*/ — see TESTDATA.md) plus ``documents`` and
``embeddings`` for the LLM-pipeline operators.

At 100 TB these would be partitioned/ bucketed tables in a lakehouse; here
each is one parquet file. We still express reads so Catalyst gets full
pushdown: ``spark.read.parquet`` + lazy registration as temp views.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any realistic SF.
#: region/nation are bounded by geography; supplier/part grow with SF but
#: remain << fact tables — at 100 TB, revisit part/supplier per actual size.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: SQL confs that change what parquet schema inference returns: part of
#: the schema-cache key, so flipping one infers again.
_INFERENCE_CONFS = (
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
_SCHEMAS: dict[tuple, StructType] = {}
_MAX_SCHEMAS = 256


def _listing(path: str) -> tuple:
    """(size, mtime_ns) of a file, or (relative path, size, mtime_ns) of
    every file under a directory: any rewrite changes it."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    files = []
    for root, _, names in os.walk(path):
        for name in names:
            full = os.path.join(root, name)
            st = os.stat(full)
            files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a local path's schema once.

    Inference is a Spark job plus footer reads (~0.16 s per read on a
    4-core box); a reader handed the schema takes ~0.03 s and launches no
    job. The cache key is the absolute path, its listing (see
    :func:`_listing`) and the inference confs, so a rewritten file, a
    changed directory or a flipped conf is inferred again. Paths that are
    not local files (URIs such as ``s3a://``) are read uncached."""
    if "://" in path or not os.path.exists(path):
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        _listing(path),
        tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if len(_SCHEMAS) >= _MAX_SCHEMAS:
        _SCHEMAS.clear()
    _SCHEMAS[key] = df.schema
    return df


def load_events(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Schema-adaptive events reader. The testdata's ``ts`` encoding has
    changed across regenerations (TIMESTAMP(NANOS) in earlier drops,
    ``timestamp[us]`` now), so branch on the dtype Spark actually sees
    rather than hard-coding one physical type:

    - TIMESTAMP(NANOS) parquet is rejected by Spark's reader unless
      ``spark.sql.legacy.parquet.nanosAsLong`` is set, in which case it
      arrives as ``bigint`` nanos → derive µs with exact integer division
      (ns values ~1.7e18 exceed double precision — never divide as float).
    - ``timestamp`` / ``timestamp_ntz`` (µs-precision parquet) → use the
      column as-is; Spark already reads it at µs precision.
    """
    from pyspark.sql import functions as F

    # Harmless for µs data; required to even *read* TIMESTAMP(NANOS).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = read_parquet(spark, table_path(sf_dir, "events"))
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type == "bigint":
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_type.startswith("timestamp"):
        return raw
    raise TypeError(f"events.ts has unsupported dtype {ts_type!r}")


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, register_views: bool = True
) -> dict[str, DataFrame]:
    """Load every test table lazily; optionally register temp views so the
    SQL API sees the same names the DuckDB oracle uses."""
    dfs: dict[str, DataFrame] = {}
    for name in TABLES:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = load_events(spark, sf_dir) if name == "events" else read_parquet(spark, path)
        dfs[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    return dfs
