#!/usr/bin/env python3
"""Synthesize a larger scaling dataset from a testdata SF directory.

Replicates every big table K times with per-replica offsets on the
integral entity keys (each replica is a self-contained key universe, so
join selectivity per replica matches the source), leaving the tiny
dimension tables (nation, region) unreplicated and the low-cardinality
FKs into them untouched. Each replica lands in its own parquet file
under <table>.parquet/ so scans actually split — the point of the
artifact is measuring low-core vs high-core scaling on scan-bound
queries, which single-row-group sf0.1 files cannot express.

Offsets are the smallest power of 10 above the key FAMILY's global max
(PK and its FKs share one stride so replica i joins replica i), never a
fixed 1e9: large synthetic ids overflowed q_ip6_cidr's Knuth
multiplicative hash (user_id * 2654435761 exceeds int64 once
user_id > ~3.5e9) in the first cut of this artifact.

Measurement tooling only: the driver contract (real testdata SFs,
BENCH_LOCAL.json baselines) is untouched; runs against this directory
are reported separately as the scaling artifact.

Usage: make_scale_data.py <src_sf_dir> <out_dir> <K>
"""
import os
import shutil
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

# key columns offset per replica, grouped into PK/FK families that must
# share one stride
FAMILIES = {
    "custkey": {"customer": ["c_custkey"], "orders": ["o_custkey"]},
    "orderkey": {"orders": ["o_orderkey"], "lineitem": ["l_orderkey"]},
    "partkey": {"part": ["p_partkey"], "lineitem": ["l_partkey"]},
    "suppkey": {"supplier": ["s_suppkey"], "lineitem": ["l_suppkey"]},
    "event": {"events": ["event_id"]},
    "user": {"events": ["user_id"]},
    "doc": {"documents": ["doc_id"]},
    "vec": {"embeddings": ["vec_id"]},
}
DIMS = ["nation", "region"]


def stride(col_max):
    s = 10
    while s <= col_max:
        s *= 10
    return s


def main():
    src, out, k = sys.argv[1], sys.argv[2], int(sys.argv[3])
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    for t in DIMS:
        shutil.copy(f"{src}/{t}.parquet", f"{out}/{t}.parquet")
        print(f"{t}: copied (dimension)")
    tables = sorted({t for fam in FAMILIES.values() for t in fam})
    loaded = {t: pq.read_table(f"{src}/{t}.parquet") for t in tables}
    # pass 1: one stride per family, from the family-global max
    col_stride = {}
    for fam in FAMILIES.values():
        fam_max = max(
            pc.max(loaded[t].column(c)).as_py()
            for t, cols in fam.items() for c in cols
            if c in loaded[t].schema.names)
        s = stride(fam_max)
        for t, cols in fam.items():
            for c in cols:
                col_stride[(t, c)] = s
    # pass 2: write K offset replicas per table
    for t in tables:
        tab = loaded[t]
        d = f"{out}/{t}.parquet"
        os.makedirs(d)
        offs = {c: s for (tt, c), s in col_stride.items()
                if tt == t and c in tab.schema.names}
        for i in range(k):
            rep = tab
            if i > 0:
                for c, s in offs.items():
                    idx = rep.schema.get_field_index(c)
                    rep = rep.set_column(idx, rep.schema.field(c),
                                         pc.add(rep.column(c), i * s))
            pq.write_table(rep, f"{d}/part-{i:03d}.parquet")
        print(f"{t}: {k} replicas x {tab.num_rows} rows, strides {offs}")


if __name__ == "__main__":
    main()
