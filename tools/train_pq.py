"""Offline PQ codebook training (ingest-time artifact).

The reference persists trained PQ codebooks and restores them at startup
(entities/vectorindex/compression/pq_data.go;
compressionhelpers/product_quantization.go PersistCompression) — the
codebook is an ingest artifact, not query-time state. This script is the
training step: seeded deterministic Lloyd's k-means per segment over the
sf0.01 embeddings sample, centroids rounded to 6dp so the literals embed
identically in the Spark query and the DuckDB oracle. Output is the
generated module weaviate_spark/operators/pq_codebook.py.

Usage: python tools/train_pq.py [sf_dir]
"""

from __future__ import annotations

import sys

import duckdb
import numpy as np

SEGMENTS = 8
CENTROIDS = 16
ITERS = 8
SEED = 42
DIM = 64


import os as _os
import sys as _sys

_ROOT = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
_sys.path.insert(0, _ROOT)

from weaviate_spark.operators.quantization import pq_train


def train(X: np.ndarray, segments: int = SEGMENTS, centroids: int = CENTROIDS,
          iters: int = ITERS, seed: int = SEED) -> np.ndarray:
    return np.asarray(pq_train(X, segments, centroids, iters, seed))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    rows = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
        "ORDER BY vec_id"
    ).fetchall()
    X = np.array([[float(x) for x in r[0]] for r in rows], dtype=np.float64)
    assert X.shape[1] == DIM, X.shape
    # cosine metric: the reference stores NORMALIZED vectors for cosine
    # (hnsw normalizes at ingest), so PQ trains on the unit sphere and
    # ADC L2 ordering == cosine ordering
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    book = train(X)
    # IVF coarse centroids: the SAME k-means over the FULL (normalized)
    # vector — a 1-segment codebook, so cell assignment reuses the PQ
    # encode kernel and the oracle's argmin arithmetic verbatim.
    ivf = train(X, segments=1, centroids=CENTROIDS, iters=ITERS, seed=SEED + 100)
    lines = [
        '"""PQ codebook — GENERATED by tools/train_pq.py (do not edit).',
        "",
        f"Trained on {sf_dir}/embeddings.parquet ({X.shape[0]} vectors),",
        f"segments={SEGMENTS} centroids={CENTROIDS} iters={ITERS} seed={SEED},",
        "centroids rounded to 6dp so Spark and the DuckDB oracle share",
        "identical literals. The persisted-codebook analogue of",
        "entities/vectorindex/compression/pq_data.go.",
        '"""',
        "",
        f"SEGMENTS = {SEGMENTS}",
        f"CENTROIDS = {CENTROIDS}",
        f"SEG_DIM = {DIM // SEGMENTS}",
        "",
        "# CODEBOOK[segment][centroid] -> list of floats (seg_dim)",
        "CODEBOOK = [",
    ]
    for s in range(SEGMENTS):
        lines.append(f"    [  # segment {s}")
        for c in range(CENTROIDS):
            vals = ", ".join(repr(float(v)) for v in book[s, c])
            lines.append(f"        [{vals}],")
        lines.append("    ],")
    lines.append("]")
    lines.append("")
    lines.append("# IVF coarse centroids (1-segment codebook over the full")
    lines.append("# normalized vector): IVF_CENTROIDS[cell] -> 64 floats")
    lines.append("IVF_CENTROIDS = [")
    for c in range(CENTROIDS):
        vals = ", ".join(repr(float(v)) for v in ivf[0, c])
        lines.append(f"    [{vals}],")
    lines.append("]")
    out = _os.path.join(_ROOT, "weaviate_spark", "operators", "pq_codebook.py")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
