"""Scale-step data generator: build sfN from sf0.1 by deterministic
replication with key remapping.

The driver ships sf0.001/0.01/0.1 only; VERDICT r04 asked for a 10x
scale-step validation ("run the full contract + bench at sf1"). This
tool derives sf1 (or any multiple) from the read-only sf0.1 parquet:

* fact/entity tables are replicated `mult` times; every key column is
  offset by `copy * KEY_OFFSET` so uniqueness invariants (and the
  unique-key tie-breaks every ordered query relies on) survive;
* `region`/`nation` are TPC-H-style fixed dimensions and are copied
  verbatim;
* `documents.text` gets a per-copy suffix so replicated docs become
  NEAR-duplicates (exercising MinHash/SimHash at scale instead of
  producing degenerate exact clusters);
* `embeddings.embedding` is rotated by `copy` positions per copy —
  deterministic, norm-preserving, and gives each copy distinct
  neighbors.

Correctness at sfN is still Spark-vs-DuckDB over the SAME parquet, so
the generator only has to be deterministic, not mirrored in SQL.

Usage: python tools/gen_sf.py [mult] [out_dir]
       (defaults: 10 testdata_sf1 in the checkout)
"""

from __future__ import annotations

import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"
KEY_OFFSET = 10_000_000

# table -> key columns offset per copy (BIGINT/INTEGER id columns only)
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
VERBATIM = ["region", "nation"]


def gen(mult: int, out_dir: str, tables: list[str] | None = None) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for t in VERBATIM:
        if tables and t not in tables:
            continue
        con.sql(
            f"COPY (SELECT * FROM '{SRC}/{t}.parquet') TO "
            f"'{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
        print(f"{t}: verbatim")
    for t, keys in KEYED.items():
        if tables and t not in tables:
            continue
        cols = [r[0] for r in con.sql(
            f"DESCRIBE SELECT * FROM '{SRC}/{t}.parquet'").fetchall()]
        selects = []
        for c in cols:
            if c in keys:
                selects.append(f"({c} + cp.c * {KEY_OFFSET}) AS {c}")
            elif t == "documents" and c == "text":
                # copy 0 keeps the original text; later copies append a
                # short marker -> near-duplicates, not exact clusters
                selects.append(
                    "CASE WHEN cp.c = 0 THEN text "
                    "ELSE text || ' rev' || cp.c END AS text")
            elif t == "embeddings" and c == "embedding":
                # rotate the array by cp.c positions (norm-preserving)
                selects.append(
                    "list_cat(embedding[cp.c + 1:], "
                    "embedding[1:cp.c])::FLOAT[] AS embedding")
            else:
                selects.append(c)
        q = (
            f"COPY (SELECT {', '.join(selects)} "
            f"FROM '{SRC}/{t}.parquet', "
            f"(SELECT unnest(range({mult})) AS c) cp) "
            f"TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
        con.sql(q)
        n = con.sql(f"SELECT count(*) FROM '{out_dir}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "testdata_sf1")
    tables = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    gen(mult, out, tables)
