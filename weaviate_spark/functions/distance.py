"""Vector distance metrics (SURVEY §2.5; reference:
adapters/repos/db/vector/hnsw/distancer/{cosine_dist,dot_product,l2,
manhattan,hamming}.go, entities/vectorindex/common :23-31).

All metrics are closed-form Catalyst expressions over ``array<float>``
columns — elements cast to double first so results are precision-stable
and independent of the storage float width. ``F.zip_with`` +
``F.aggregate`` evaluate left-to-right on the JVM; for small/medium
dims (<= a few hundred) this is fast enough and keeps the plan
UDF-free.

The numpy side of the same rules (``as_matrix``, ``pairwise``,
``micros``, ``top_k``) serves every Arrow-batch kernel — the
SIMD-distancer analogue: one GEMM per batch, one 6dp rounding rule,
one deterministic top-k. The Column expressions stay the reference.

Distance conventions (distancer .go files):
* cosine    — 1 - cos(a,b)           (range [0,2])
* dot       — negative dot product   (more similar = more negative)
* l2-squared— sum((a-b)^2)           (no sqrt, as in the reference)
* manhattan — sum(|a-b|)
* hamming   — count of differing positions
* certainty <-> distance (cosine only): certainty = 1 - d/2
  (entities/additional/distance.go:14-29)
"""

from __future__ import annotations

from pyspark.sql import Column

from weaviate_spark.cache import column_sql, double_array_sql
from pyspark.sql import functions as F


def _to_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_distance(a: Column, b: Column) -> Column:
    return F.lit(1.0) - dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_distance_const_query(a: Column, qvec) -> Column:
    """cosine_distance against a CONSTANT query vector: the query's own
    norm folds to a driver-side literal instead of re-aggregating the
    64-element dot(b,b) per row (a wasted third of the scan's
    expression work — Catalyst does not fold aggregate() over array
    literals). Bit-identical to cosine_distance: the same
    transform/zip_with/aggregate operations in the same order, and the
    python loop sums left-to-right in double exactly like aggregate.
    Built as ONE parsed expression: the composed F.* form cost ~200
    py4j round trips per build."""
    import math

    acc = 0.0
    for x in qvec:
        acc += float(x) * float(x)
    col, q = column_sql(a), double_array_sql(qvec)

    def dot(u: str, v: str) -> str:
        return (f"aggregate(zip_with(transform({u}, x -> CAST(x AS DOUBLE)), "
                f"transform({v}, x -> CAST(x AS DOUBLE)), (x, y) -> x * y), "
                f"0.0D, (acc, x) -> acc + x)")

    return F.expr(f"1.0D - {dot(col, q)} / "
                  f"(SQRT({dot(col, col)}) * {math.sqrt(acc)!r}D)")


def dot_distance(a: Column, b: Column) -> Column:
    """Weaviate 'dot' distance = -dot(a,b) (dot_product.go)."""
    return -dot(a, b)


def l2_squared(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def manhattan(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: F.abs(x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def hamming(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x != y, 1.0).otherwise(0.0)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


METRICS = {
    "cosine": cosine_distance,
    "dot": dot_distance,
    "l2-squared": l2_squared,
    "manhattan": manhattan,
    "hamming": hamming,
}


def distance(a: Column, b: Column, metric: str = "cosine") -> Column:
    try:
        return METRICS[metric](a, b)
    except KeyError:
        raise ValueError(f"unknown distance metric {metric!r}") from None


def certainty_to_distance(c: float) -> float:
    """cosine-only (distance.go:14-29): dist = (1 - certainty) * 2."""
    return (1.0 - c) * 2.0


# ---------------------------------------------------------------------------
# numpy kernels over Arrow batches (numpy imported lazily, as in the operators)

def as_matrix(cells, column: str):
    """(n, d) float64 matrix from vector cells: Arrow list cells in a
    pandas Series (NULL elements arrive as NaN) or collected row values.
    Raises ValueError naming ``column`` on a NULL vector, ragged rows
    or a non-finite element, which would otherwise flow silently
    through every distance and top-k below."""
    import numpy as np

    cells = list(cells)
    if not cells:
        return np.empty((0, 0))
    try:
        X = np.array(cells, dtype=np.float64)
    except (TypeError, ValueError):
        X = None
    if X is None or X.ndim != 2:
        raise ValueError(
            f"vector column {column!r}: NULL or ragged vector rows")
    if not np.isfinite(X).all():
        raise ValueError(
            f"vector column {column!r}: NULL or non-finite vector element")
    return X


def pairwise(Q, L, metric: str):
    """(m, n) distances between the rows of Q and L: dot product first,
    norms divided after — the arithmetic of the DuckDB oracles'
    list_dot_product forms. Same conventions as ``METRICS``."""
    import numpy as np

    G = Q @ L.T
    if metric == "dot":
        return -G
    if metric == "cosine":
        qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
        ln = np.sqrt(np.einsum("ij,ij->i", L, L))
        return 1.0 - G / (qn[:, None] * ln[None, :])
    if metric in ("l2-squared", "l2"):
        D = (np.einsum("ij,ij->i", Q, Q)[:, None]
             + np.einsum("ij,ij->i", L, L)[None, :] - 2.0 * G)
        return D if metric == "l2-squared" else np.sqrt(np.maximum(D, 0.0))
    raise ValueError(f"unknown kernel distance metric {metric!r}")


def micros(D):
    """Round to 6dp as int64 micro units, half away from zero, exactly
    as DuckDB's round(x, 6) does (std::round(x * 1e6)), negative (dot)
    distances included. Integer units double as exact sort keys: a
    float round-trip (round(D, 6) * 1e6).astype(int64) truncates some
    values by one micro and merges distinct tie buckets. Divide by 1e6
    for the rounded double."""
    import numpy as np

    A = np.abs(D) * 1e6
    W = np.floor(A)
    # W + (A - W >= 0.5), not floor(A + 0.5): the sum rounds up just
    # below one half (0.49999999999999994 + 0.5 == 1.0)
    return np.copysign(W + (A - W >= 0.5), D).astype(np.int64)


def top_k(Q, L, k: int, metric: str, rank):
    """Per row of Q, the indices into L of the k smallest distances by
    (micros, rank) and their raw distances, both (m, min(k, n)), in no
    order within a row. ``rank``: distinct int64 tie-break ranks in
    [0, n), e.g. each candidate id's rank so ties go to the smallest.

    (micros, rank) packs into one int64 key and ``argpartition`` takes
    the k smallest: O(n) per query instead of a lexsort. Keys are
    unique, so the selected set equals ``lexsort((rank, micros))[:k]``.
    Queries run in chunks of at most 2^24 distance cells (one row when
    n alone exceeds that), so memory stays bounded for any |Q|."""
    import numpy as np

    m, n = Q.shape[0], L.shape[0]
    kk = min(k, n)
    idx = np.empty((m, kk), dtype=np.int64)
    dist = np.empty((m, kk), dtype=np.float64)
    if kk == 0:
        return idx, dist
    # |D| * 1e6 below this keeps micros(D) * n + rank inside int64
    bound = (np.iinfo(np.int64).max - n) // n - 1
    chunk = max(1, (1 << 24) // n)
    for c0 in range(0, m, chunk):
        D = pairwise(Q[c0:c0 + chunk], L, metric)
        if np.abs(D).max() * 1e6 >= bound:
            raise OverflowError(
                f"top_k: a distance of {np.abs(D).max():.6g} overflows "
                f"the packed int64 key over {n} candidates")
        key = micros(D) * np.int64(n) + rank[None, :]
        part = np.argpartition(key, kk - 1, axis=1)[:, :kk]
        idx[c0:c0 + chunk] = part
        dist[c0:c0 + chunk] = np.take_along_axis(D, part, axis=1)
    return idx, dist
