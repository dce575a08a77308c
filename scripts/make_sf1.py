#!/usr/bin/env python3
"""Derive an sf1-scale fixture from the driver's sf0.1 tables (VERDICT r13
"Next" #5: one full-registry gate at 10x the bench scale).

Driver-side dev tooling only (pyarrow) -- library code never depends on it.

Protocol: 10 disjoint replicas of every fact table with every key column
offset into its own id range (the disjoint-replica protocol --
graph keys, doc ids, order/part/supp/cust keys all remapped per replica, so
joins stay referentially intact and entity counts grow linearly instead of
multiplying pair cardinalities). Dimension tables (region, nation) keep
their 5/25 rows -- replicating them would break the FK semantics the
queries join on. Two content tweaks keep the derived corpus semantically
scale-shaped rather than pathological:

 - documents: replica i > 0 gets every TOKEN suffixed with "~i" (and
   n_chars recomputed), so replicas are near-dup DISJOINT -- without this,
   every doc arrives in 10 identical copies and every pair-enumerating
   dedup query (and its DuckDB oracle) pays an artificial R^2 blowup that
   says nothing about scale;
 - embeddings: replica i > 0 gets a deterministic per-(replica, dim)
   offset, so ANN neighborhoods are real instead of 10-way exact ties.

Scale curve: the same `graft.Bench` query subset run with
SPARK_GRAFT_SF_DIR at SRC and then at DST gives each query's sf0.1 -> sf1
wall, job and phase growth from the bench line alone.

Usage: make_sf1.py [SRC=/root/testdata/sf0.1] [DST=/tmp/sf1] [R=10]
"""
import sys
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.compute as pc
from pathlib import Path

SRC = Path(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1")
DST = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1")
R = int(sys.argv[3]) if len(sys.argv) > 3 else 10
DST.mkdir(parents=True, exist_ok=True)

# key column -> gap (id range per replica; a round power of ten above the
# sf0.1 max so replica ids never collide and stay human-readable)
GAPS = {
    "c_custkey": 100_000, "o_custkey": 100_000,
    "o_orderkey": 10_000_000, "l_orderkey": 10_000_000,
    "p_partkey": 100_000, "l_partkey": 100_000,
    "s_suppkey": 10_000, "l_suppkey": 10_000,
    "event_id": 1_000_000, "user_id": 1_000_000,
    "doc_id": 100_000, "vec_id": 100_000,
}

COPY = ["region", "nation"]
FACT = ["customer", "supplier", "part", "orders", "lineitem", "events",
        "documents", "embeddings"]


def replicate(name: str) -> None:
    tbl = pq.read_table(SRC / f"{name}.parquet")
    chunks = []
    for i in range(R):
        t = tbl
        for col, gap in GAPS.items():
            if col in t.column_names:
                idx = t.column_names.index(col)
                shifted = pc.add(t.column(col), pa.scalar(i * gap, t.schema.field(col).type))
                t = t.set_column(idx, t.schema.field(col), shifted)
        if name == "documents" and i > 0:
            texts = [
                " ".join(f"{tok}~{i}" for tok in (s or "").split())
                for s in t.column("text").to_pylist()
            ]
            ti = t.column_names.index("text")
            t = t.set_column(ti, t.schema.field("text"),
                             pa.array(texts, t.schema.field("text").type))
            if "n_chars" in t.column_names:
                ni = t.column_names.index("n_chars")
                t = t.set_column(
                    ni, t.schema.field("n_chars"),
                    pa.array([len(x) for x in texts],
                             t.schema.field("n_chars").type))
        if name == "embeddings" and i > 0:
            vecs = t.column("embedding").to_pylist()
            out = []
            for v in vecs:
                out.append(None if v is None else [
                    x + 0.1 * (((i * 31 + d * 7) % 11) - 5) / 5.0
                    for d, x in enumerate(v)
                ])
            ei = t.column_names.index("embedding")
            t = t.set_column(ei, t.schema.field("embedding"),
                             pa.array(out, t.schema.field("embedding").type))
        chunks.append(t)
    out = pa.concat_tables(chunks)
    pq.write_table(out, DST / f"{name}.parquet")
    print(f"{name}: {tbl.num_rows} -> {out.num_rows} rows")


for name in COPY:
    tbl = pq.read_table(SRC / f"{name}.parquet")
    pq.write_table(tbl, DST / f"{name}.parquet")
    print(f"{name}: copied {tbl.num_rows} rows")
for name in FACT:
    replicate(name)
print(f"sf1 fixture at {DST} (R={R})")
