"""Generate the 1M x 64-dim ANN bench corpus (same shape as
testdata/embeddings.parquet: vec_id BIGINT, embedding FLOAT[64],
label INT). Deterministic — seeded per-row hash math in duckdb, no
RNG state — so re-generated corpora give identical bench recalls.

Usage: python tools/gen_benchvec.py [n_rows] [out_dir]
Default: 1_000_000 rows -> .tmp/benchvec/embeddings.parquet in the checkout
"""

import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    out_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, ".tmp", "benchvec")
    os.makedirs(out_dir, exist_ok=True)
    out = f"{out_dir}/embeddings.parquet"
    # deterministic pseudo-random floats in [-1, 1]: a 64-bit mix of
    # (row, dim) reduced mod a prime — matches the uniform-corpus shape
    # the r07 crossover numbers were measured on
    duckdb.sql(f"""
        COPY (
          SELECT i::BIGINT AS vec_id,
                 list_transform(range(64), d ->
                   CAST(((hash(i * 64 + d)::INT128 % 200001) - 100000)
                        / 100000.0 AS FLOAT)) AS embedding,
                 CAST(i % 10 AS INTEGER) AS label
          FROM range({n}) t(i)
        ) TO '{out}' (FORMAT PARQUET)
    """)
    print(out, n)


if __name__ == "__main__":
    main()
