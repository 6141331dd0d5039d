"""Vector distance metrics (SURVEY §2.5; reference:
adapters/repos/db/vector/hnsw/distancer/{cosine_dist,dot_product,l2,
manhattan,hamming}.go, entities/vectorindex/common :23-31).

All metrics are closed-form Catalyst expressions over ``array<float>``
columns — elements cast to double first so results are precision-stable
and independent of the storage float width. ``F.zip_with`` +
``F.aggregate`` evaluate left-to-right on the JVM; for small/medium
dims (<= a few hundred) this is fast enough and keeps the plan
UDF-free. (A numpy pandas_udf batch kernel is the documented upgrade
path for very high dims — the SIMD-distancer analogue.)

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

from weaviate_spark.cache import lit_double_array
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
    literals). Bit-identical to cosine_distance: the python loop sums
    left-to-right in double exactly like F.aggregate."""
    import math

    q = lit_double_array(qvec)
    acc = 0.0
    for x in qvec:
        acc += float(x) * float(x)
    return F.lit(1.0) - dot(a, q) / (F.sqrt(dot(a, a)) * F.lit(math.sqrt(acc)))


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
