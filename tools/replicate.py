#!/usr/bin/env python3
"""Write an N-times replicated copy of a graft sf data directory.

    python3 tools/replicate.py <src_dir> <out_dir> <N>

Fact tables are written N times over with every id column mapped to
id*N + r for replica r (so N=1 is the identity and the ids stay dense);
foreign keys into the replicated tables are mapped the same way, so each
replica is a self-consistent copy of the star. The dimension tables
(region, nation, part, supplier) are copied byte for byte: dims do not
grow with fact volume, and the unmapped l_partkey/l_suppkey/c_nationkey
keep pointing at valid dim rows.

Mapped ids must stay below 1e8: several keys add 1e8 (or multiples) to
source ids to keep derived rows apart, so a larger id would alias. The
tool refuses such an N before writing anything.

Run the real driver keys on the result with
    SPARK_GRAFT_SF_DIR=<out_dir> sbt "runMain graft.Bench <key> ..."
"""
import os
import shutil
import sys

import duckdb

ID_COLUMNS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["user_id", "event_id"],
}
DIMENSIONS = ["region", "nation", "part", "supplier"]
ID_BOUND = 10 ** 8


def replicate(src, out, n):
    if n < 1:
        raise ValueError(f"replication factor must be >= 1, got {n}")
    con = duckdb.connect()
    plans = []
    for table, ids in ID_COLUMNS.items():
        path = os.path.join(src, f"{table}.parquet")
        types = {r[0]: r[1] for r in con.execute(
            "DESCRIBE SELECT * FROM read_parquet(?)", [path]).fetchall()}
        maxes = con.execute("SELECT " + ", ".join(f"max({c})" for c in ids)
                            + " FROM read_parquet(?)", [path]).fetchone()
        for col, top in zip(ids, maxes):
            if top is not None and top * n + n - 1 >= ID_BOUND:
                raise ValueError(
                    f"{table}.{col}: max id {top} maps to {top * n + n - 1} "
                    f"at x{n}, at or above the {ID_BOUND:.0e} bound that keys "
                    "offset their own ids by; use a smaller N")
        mapped = ", ".join(f"CAST({c} * {n} + r AS {types[c]}) AS {c}" for c in ids)
        plans.append((os.path.join(out, f"{table}.parquet"),
                      f"SELECT src.* REPLACE ({mapped}) FROM read_parquet('{path}') AS src, "
                      f"range({n}) AS rep(r)"))
    os.makedirs(out, exist_ok=True)
    for dst, sql in plans:
        con.execute(f"COPY ({sql}) TO '{dst}' (FORMAT PARQUET)")
    for table in DIMENSIONS:
        shutil.copyfile(os.path.join(src, f"{table}.parquet"),
                        os.path.join(out, f"{table}.parquet"))


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    try:
        replicate(sys.argv[1], sys.argv[2], int(sys.argv[3]))
    except ValueError as e:
        sys.exit(f"replicate: {e}")
