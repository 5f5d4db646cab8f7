#!/usr/bin/env python3
"""Scale-up generator for the local verification harness (NOT engine
code — lives with check_oracle.py on the driver side of the fence).

Replicates every sf table `factor` times with consistent key offsets,
preserving parquet schemas byte-exactly (pyarrow, not Spark — Spark 4
cannot write events.ts's TIMESTAMP(NANOS) back out). Offsets use one
stride per key DOMAIN (orderkey stride shared by orders+lineitem, etc.)
so referential integrity survives: copy c of lineitem joins copy c of
orders/customer/part/supplier and nothing else. region/nation are
dimensions and stay single-copy.

documents/embeddings replicate with identical payloads — every doc
gains factor-1 exact duplicates, the web-crawl shape the dedup family's
exact-collapse front-end exists for. This is the dup-heavy N× corpus:
time queries over it with graft.Bench, naming them in
SPARK_GRAFT_BENCH_QUERIES and pointing SPARK_GRAFT_SF_DIR at out_dir:

  SPARK_GRAFT_SF_DIR=sf1x SPARK_GRAFT_BENCH_QUERIES=dedup_minhash,text_dup_spans sbt "runMain graft.Bench"

Usage: scale_up.py [base_sf_dir] [out_dir] [factor]
"""
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# table -> {column: key domain}
KEYED = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part",
                 "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
# key domain -> (defining table, column)
DOMAIN = {
    "cust": ("customer", "c_custkey"),
    "supp": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "order": ("orders", "o_orderkey"),
    "event": ("events", "event_id"),
    "user": ("events", "user_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}
DIMS = ["region", "nation"]


def main(base, out, factor):
    import os
    os.makedirs(out, exist_ok=True)
    stride = {}
    for dom, (tbl, col) in DOMAIN.items():
        t = pq.read_table(f"{base}/{tbl}.parquet", columns=[col])
        stride[dom] = pc.max(t[col]).as_py() + 1
    print(f"strides: {stride}")
    for name in DIMS:
        pq.write_table(pq.read_table(f"{base}/{name}.parquet"),
                       f"{out}/{name}.parquet")
        print(f"{name}: copied (dimension)")
    for name, keys in KEYED.items():
        t = pq.read_table(f"{base}/{name}.parquet")
        # Stream each shifted copy as its own row group(s): memory stays
        # O(one copy) at any factor (the factor-1000 sf100 tier would
        # otherwise hold 1000 shifted key-column buffers before the one
        # concat write), and the many-row-group file is what a real
        # multi-file cluster scan looks like to Spark's split planner.
        with pq.ParquetWriter(f"{out}/{name}.parquet", t.schema) as w:
            for c in range(factor):
                tc = t
                for colname, dom in keys.items():
                    i = tc.schema.get_field_index(colname)
                    shifted = pc.add(tc[colname],
                                     pa.scalar(c * stride[dom],
                                               type=tc.schema.field(i).type))
                    tc = tc.set_column(i, tc.schema.field(i), shifted)
                w.write_table(tc)
        print(f"{name}: {t.num_rows} -> {t.num_rows * factor} rows")


if __name__ == "__main__":
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_sf1"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    main(base, out, factor)
