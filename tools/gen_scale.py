"""Derive a larger-scale dataset from the provided sf0.1 fixtures.

``python tools/gen_scale.py [k] [out_dir]`` (defaults: k=5,
/tmp/sf0.5) unions ``k`` KEY-SHIFTED copies of every sf0.1 table into
``out_dir`` — copy ``i`` adds ``i * OFFSET`` to every entity key
(custkey/orderkey/partkey/suppkey/doc_id/vec_id/event_id/user_id), with
FK columns shifted identically so every join key still resolves.  The
tiny fixed dimensions (region, nation) are copied verbatim and their FK
columns (nationkey/regionkey) are NOT shifted, so each copy joins into
the same 25-nation world exactly like the base data.

Purpose: a spot sweep of the most scale-sensitive
queries at ~5× the driver's bench scale — numeric edges (corr_matrix's
catastrophic-cancellation class) and plan cliffs (broadcast→shuffle
flips, skew) historically surfaced only on the 10× jump from sf0.01 to
sf0.1, so the differential gate gets one more decade of headroom:
``python tools/check_oracles.py /tmp/sf0.5 <names>``.

Text/payload columns are NOT perturbed: the k-fold copies make every
document an exact k-plicate, which is a deliberately adversarial corpus
for the dedup family (maximal duplicate mass, maximal LSH bucket
collisions) while keeping both engines' inputs byte-identical.

DuckDB does the copy (columnar, out-of-core); Spark is not involved, so
the sweep's Spark plans see cold parquet exactly like the real fixtures.
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
OFFSET = 1_000_000_000  # far above any sf0.1 key

# table -> columns to shift per copy (entity keys + FKs to shifted keys)
SHIFT: dict[str, list[str]] = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf0.5"
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for table, keys in SHIFT.items():
        src = f"{SRC}/{table}.parquet"
        dest = f"{out}/{table}.parquet"
        if not keys:  # fixed dims: verbatim single copy
            con.execute(
                f"COPY (SELECT * FROM '{src}') TO '{dest}' (FORMAT PARQUET)"
            )
            continue
        cols = [c for c in con.sql(f"SELECT * FROM '{src}' LIMIT 0").columns]
        copies = []
        for i in range(k):
            sel = ", ".join(
                f"({c} + {i * OFFSET}) AS {c}" if c in keys else c
                for c in cols
            )
            copies.append(f"SELECT {sel} FROM '{src}'")
        con.execute(
            f"COPY ({' UNION ALL '.join(copies)}) TO '{dest}' "
            "(FORMAT PARQUET)"
        )
        n = con.sql(f"SELECT count(*) FROM '{dest}'").fetchone()[0]
        print(f"{table}: {n} rows -> {dest}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
