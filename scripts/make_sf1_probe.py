"""Synthesize a 10x scale probe dataset under ``.sf1_probe/`` at the
repo root (gitignored) from the read-only sf0.1 drop: each table is
replicated REP times with its primary key (and any foreign keys)
shifted by a disjoint stride so cardinalities scale ~linearly and
join fan-outs stay realistic. MEASUREMENT-ONLY (guide §1 / VERDICT
r15 item #2): validates that the registry's shuffle/join shapes hold
when compute dominates the job floor. Never on a query path; the
oracle never runs against it.

Usage: python scripts/make_sf1_probe.py [REP]   (REP default 10)

Writes ``.sf1_probe/<table>.parquet``; run a probe against it with
``SPARK_GRAFT_SF_DIR=.sf1_probe``.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DST = os.path.join(REPO, ".sf1_probe")

# key columns shifted per replica: table -> {col: stride}; strides are
# the table's own key stride so replica r's keys are disjoint from
# replica 0 but FKs still resolve (orders.o_custkey shifts by the
# customer stride, etc.). text/ts columns are left as-is: replicated
# content is exactly what a 10x corpus of near-identical shards looks
# like to the dedup/minhash operators.
K = 10_000_000_000


def shift(tbl: pa.Table, cols: dict[str, int], r: int) -> pa.Table:
    for c, stride in cols.items():
        if c not in tbl.column_names:
            continue
        i = tbl.column_names.index(c)
        col = tbl.column(c)
        typ = col.type
        shifted = pc.add(col, pa.scalar(r * stride, type=typ))
        tbl = tbl.set_column(i, tbl.field(i), shifted)
    return tbl


def perturb_text(tbl: pa.Table, col: str, r: int) -> pa.Table:
    """Replica r>0 gets a DISJOINT token vocabulary (suffix every
    token) so replicas are NOT near-duplicates of their originals: a
    verbatim 10x replication turns every previously-unique shingle /
    deletion variant into a 10-member bucket (C(10,2) pairs each) and
    the dedup family's pair output explodes ~100x — an artifact of the
    copy, not of a real 10x corpus, whose bucket-size distribution
    stays ~flat. With per-replica vocabularies the within-replica
    near-dup structure is preserved and cross-replica pairs vanish, so
    pair output scales ~linearly, which is the scaling a shape probe
    must measure."""
    if r == 0 or col not in tbl.column_names:
        return tbl
    i = tbl.column_names.index(col)
    texts = tbl.column(col).to_pylist()
    suf = f"·{r}"  # middot: survives \w+ splits as a boundary-free mark
    out = [
        None if t is None else " ".join(w + suf for w in t.split(" "))
        for t in texts
    ]
    return tbl.set_column(i, tbl.field(i), pa.array(out, tbl.field(i).type))


def perturb_name(tbl: pa.Table, col: str, r: int) -> pa.Table:
    """Replica r gets an edit-distance-separating suffix (3r chars) so
    fuzzy d<=2 blocking never matches a name to its own replicas."""
    if r == 0 or col not in tbl.column_names:
        return tbl
    i = tbl.column_names.index(col)
    suffixed = pc.binary_join_element_wise(
        tbl.column(col).cast(pa.string()), pa.scalar("x" * (3 * r)), ""
    )
    return tbl.set_column(i, tbl.field(i), suffixed)


def main() -> None:
    rep = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    os.makedirs(DST, exist_ok=True)
    plans = {
        "documents": {"doc_id": K},
        "events": {"event_id": K, "user_id": K},
        "customer": {"c_custkey": K},
        "orders": {"o_orderkey": K, "o_custkey": K},
        "lineitem": {"l_orderkey": K, "l_partkey": K, "l_suppkey": K},
        "part": {"p_partkey": K},
        "supplier": {"s_suppkey": K},
        "embeddings": {"vec_id": K},
        "nation": None,  # dimension tables: copy as-is
        "region": None,
    }
    for name, cols in plans.items():
        src = f"{SRC}/{name}.parquet"
        tbl = pq.read_table(src)
        if cols is None:
            pq.write_table(tbl, f"{DST}/{name}.parquet")
            print(f"{name}: copied ({tbl.num_rows} rows)")
            continue
        cols = {c: s for c, s in cols.items() if c in tbl.column_names}
        parts = []
        for r in range(rep):
            p = shift(tbl, cols, r)
            if name == "documents":
                p = perturb_text(p, "text", r)
            if name == "customer":
                p = perturb_name(p, "c_name", r)
            if name == "part":
                p = perturb_name(p, "p_name", r)
            parts.append(p)
        out = pa.concat_tables(parts)
        pq.write_table(out, f"{DST}/{name}.parquet",
                      row_group_size=1 << 20)
        print(f"{name}: {tbl.num_rows} -> {out.num_rows} rows")


if __name__ == "__main__":
    main()
