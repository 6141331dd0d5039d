"""_additional { featureProjection } — t-SNE over the result window.

Reference: usecases/modulecomponents/additional/projector/
projector.go Reduce (:49-99) + projector_params.go
SetDefaultsAndValidate (:15-56). The reference runs go-tsne over the
≤limit search results in-process; the Spark mapping is identical in
shape — the projection is a POST-STAGE over an already-bounded result
window (never the corpus), so it runs driver-side numpy on ≤limit
rows, exactly like MMR/legacy-group post-stages.

The t-SNE itself is the public algorithm (van der Maaten & Hinton
2008): perplexity-calibrated Gaussian affinities (binary search per
point), symmetrized + exaggerated, Student-t low-dim kernel, gradient
descent with momentum. Deterministic: seeded init (the reference
seeds its RNG once per process — projector.go:23 fixedSeed — so runs
in one process agree; we go further and default to a FIXED seed so
results are reproducible across processes, pinned by test).

Divergences (documented): named-vector inputs are rejected like the
reference ("feature projection doesn't work for multiple vectors");
algorithm 'tsne' is the only supported value, same error text.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

import numpy as np

from weaviate_spark.functions.distance import as_matrix


@dataclass
class FeatureProjectionParams:
    """projector_params.go Params (defaults per setDefaults)."""

    algorithm: Optional[str] = None
    dimensions: Optional[int] = None
    perplexity: Optional[int] = None
    iterations: Optional[int] = None
    learning_rate: Optional[int] = None

    def set_defaults_and_validate(self, input_size: int,
                                  dims: int) -> None:
        self.algorithm = self.algorithm or "tsne"
        self.dimensions = self.dimensions if self.dimensions is not None else 2
        if self.perplexity is None:
            self.perplexity = min(input_size - 1, 5)
        self.iterations = (self.iterations
                           if self.iterations is not None else 100)
        self.learning_rate = (self.learning_rate
                              if self.learning_rate is not None else 25)
        errors = []
        if self.algorithm != "tsne":
            errors.append(f"algorithm {self.algorithm} is not "
                          "supported: must be one of: tsne")
        if self.perplexity >= input_size:
            errors.append("perplexity must be smaller than amount of "
                          f"items: {self.perplexity} >= {input_size}")
        if self.iterations < 1:
            errors.append("iterations must be at least 1, got: "
                          f"{self.iterations}")
        if self.learning_rate < 1:
            errors.append("learningRate must be at least 1, got: "
                          f"{self.learning_rate}")
        if self.dimensions < 1:
            errors.append("dimensions must be at least 1, got: "
                          f"{self.dimensions}")
        if self.dimensions >= dims:
            errors.append("dimensions must be smaller than source "
                          f"dimensions: {self.dimensions} >= {dims}")
        if errors:
            raise ValueError("invalid params: " + ", ".join(errors))


def _affinities(X: np.ndarray, perplexity: float) -> np.ndarray:
    """Perplexity-calibrated conditional Gaussians, symmetrized."""
    n = X.shape[0]
    D = np.sum((X[:, None, :] - X[None, :, :]) ** 2, axis=-1)
    P = np.zeros((n, n))
    target = np.log(max(perplexity, 1.0))
    for i in range(n):
        lo, hi = 1e-20, 1e20
        beta = 1.0
        di = np.delete(D[i], i)
        for _ in range(64):
            p = np.exp(-di * beta)
            s = p.sum()
            if s <= 0:
                h = 0.0
            else:
                p = p / s
                h = -np.sum(p * np.log(np.maximum(p, 1e-12)))
            if abs(h - target) < 1e-5:
                break
            if h > target:
                lo = beta
                beta = beta * 2 if hi >= 1e20 else (beta + hi) / 2
            else:
                hi = beta
                beta = beta / 2 if lo <= 1e-20 else (beta + lo) / 2
        row = np.exp(-di * beta)
        row = row / max(row.sum(), 1e-12)
        P[i, np.arange(n) != i] = row
    P = (P + P.T) / (2 * n)
    return np.maximum(P, 1e-12)


def tsne_embed(vectors, *, dimensions: int = 2, perplexity: int = 5,
               iterations: int = 100, learning_rate: int = 25,
               seed: int = 0) -> np.ndarray:
    """Seeded t-SNE; returns (n, dimensions) float64."""
    X = np.asarray(vectors, dtype=np.float64)
    n = X.shape[0]
    P = _affinities(X, perplexity)
    rng = np.random.default_rng(seed)
    Y = rng.standard_normal((n, dimensions)) * 1e-4
    dY = np.zeros_like(Y)
    momentum = 0.5
    exaggeration = 4.0
    for it in range(iterations):
        if it == min(50, iterations // 2):
            exaggeration = 1.0
            momentum = 0.8
        num = 1.0 / (1.0 + np.sum(
            (Y[:, None, :] - Y[None, :, :]) ** 2, axis=-1))
        np.fill_diagonal(num, 0.0)
        Q = np.maximum(num / max(num.sum(), 1e-12), 1e-12)
        PQ = (exaggeration * P - Q) * num
        grad = 4.0 * (np.diag(PQ.sum(axis=1)) - PQ) @ Y
        dY = momentum * dY - learning_rate * grad
        Y = Y + dY
        Y = Y - Y.mean(axis=0)
    return Y


def feature_projection(rows: list[dict], vector_col: str,
                       params: FeatureProjectionParams | None = None,
                       seed: int = 0,
                       out_col: str = "featureProjection") -> list[dict]:
    """projector.go Reduce: project the result window's vectors and
    attach the low-dim vector per row. Empty input -> []. Rows whose
    vector is under a named-vector struct are rejected like the
    reference."""
    if not rows:
        return []
    first = rows[0].get(vector_col)
    if isinstance(first, dict):
        raise ValueError(
            "feature projection doesn't work for multiple vectors")
    dims = len(first)
    params = params or FeatureProjectionParams()
    params.set_defaults_and_validate(len(rows), dims)
    vecs = [r[vector_col] for r in rows]
    if any(len(v) != dims for v in vecs):
        bad = next(len(v) for v in vecs if len(v) != dims)
        raise ValueError(
            f"inconsistent vector lengths found: {dims} and {bad}")
    Y = tsne_embed(
        as_matrix(vecs, vector_col), dimensions=params.dimensions,
        perplexity=params.perplexity, iterations=params.iterations,
        learning_rate=params.learning_rate, seed=seed)
    out = []
    for r, y in zip(rows, Y):
        r = dict(r)
        r[out_col] = [round(float(v), 6) for v in y]
        out.append(r)
    return out
