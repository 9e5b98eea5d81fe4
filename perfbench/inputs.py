"""Seeded benchmark inputs and the DuckDB expectations for them.

The base tables in ``perfbench/data/sf0.01`` are a copy of the sf0.01
synthetic drop (TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``). A seed permutes the rows of every table; the queries
see the permuted files only, so a result that depends on physical row
order shows up as a mismatch against the oracle.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zlib

import numpy as np
import pyarrow.parquet as pq

from perfbench.check import canonical_rows

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def write_inputs(seed: int, out_dir: str) -> None:
    """Write every base table, rows permuted by ``seed``, into ``out_dir``.

    The same seed gives byte-identical files: the permutation comes from
    a generator keyed on (seed, table name) and the writer settings are
    fixed."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        table = pq.read_table(os.path.join(BASE_DIR, f"{name}.parquet"))
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
            row_group_size=1 << 20,
        )


def oracle_expectations(
    data_dir: str, names: list[str], sql: dict[str, str]
) -> dict[str, list | None]:
    """Canonical DuckDB result of ``sql[name]`` per query name; ``None``
    where the registry has no oracle (such a query is checked against
    its own first result)."""
    import duckdb

    out: dict[str, list | None] = {}
    con = duckdb.connect()
    try:
        for name in TABLES:
            path = os.path.join(data_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        for name in names:
            if name not in sql:
                out[name] = None
                continue
            rel = con.sql(sql[name])
            out[name] = canonical_rows(rel.columns, rel.fetchall())
    finally:
        con.close()
    return out


def prepare(work_dir: str, seed: int, workload: str, names: list[str]) -> tuple[str, dict]:
    """Return (data_dir, expectations) for ``seed``, generating and
    caching them under ``work_dir/inputs`` on first use. The cached
    expectations are keyed on the text of the queries' oracle SQL, so a
    changed oracle is evaluated afresh."""
    import __spark_entry__ as registry

    root = os.path.join(work_dir, "inputs")
    data_dir = os.path.join(root, f"seed-{seed}")
    if not os.path.exists(os.path.join(data_dir, "DONE")):
        tmp = f"{data_dir}.partial-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_inputs(seed, tmp)
        with open(os.path.join(tmp, "DONE"), "w") as f:
            f.write("ok\n")
        shutil.rmtree(data_dir, ignore_errors=True)
        os.replace(tmp, data_dir)
    sql = registry.oracle_sql()
    key = hashlib.sha256(json.dumps([[n, sql.get(n)] for n in names]).encode()).hexdigest()
    exp_path = os.path.join(data_dir, f"expected-{workload}-{key[:16]}.json")
    if os.path.exists(exp_path):
        with open(exp_path) as f:
            return data_dir, json.load(f)
    expected = oracle_expectations(data_dir, names, sql)
    with open(exp_path + ".tmp", "w") as f:
        json.dump(expected, f)
    os.replace(exp_path + ".tmp", exp_path)
    return data_dir, expected

