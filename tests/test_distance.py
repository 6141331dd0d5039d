"""The numpy distance kernel (functions/distance.py): top-k selection,
6dp rounding parity with DuckDB, fail-loud vector conversion, and a
guard against re-copying the kernel into operators."""
from __future__ import annotations

import pathlib
import re

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from weaviate_spark.functions.distance import as_matrix, micros, pairwise, top_k


def _rows(d):
    # small integer coordinates, never the zero vector (cosine of a zero
    # vector is undefined): equal rows and collinear rows force ties
    return st.lists(st.integers(-3, 3), min_size=d, max_size=d).filter(any)


@settings(max_examples=150, deadline=None)
@given(data=st.data(), metric=st.sampled_from(["cosine", "l2-squared", "dot"]))
def test_top_k_selects_the_lexsort_set(data, metric):
    d = data.draw(st.integers(1, 3))
    pool = data.draw(st.lists(_rows(d), min_size=1, max_size=3))
    n = data.draw(st.integers(1, 12))
    L = np.array([pool[i] for i in data.draw(
        st.lists(st.integers(0, len(pool) - 1), min_size=n, max_size=n))], float)
    Q = np.array(data.draw(st.lists(_rows(d), min_size=1, max_size=4)), float)
    rank = np.array(data.draw(st.permutations(range(n))), dtype=np.int64)
    k = data.draw(st.integers(1, n + 2))

    idx, dist = top_k(Q, L, k, metric, rank)

    D = pairwise(Q, L, metric)
    M = micros(D)
    assert idx.shape == dist.shape == (len(Q), min(k, n))
    for i in range(len(Q)):
        assert set(idx[i]) == set(np.lexsort((rank, M[i]))[:k])
        assert (dist[i] == D[i, idx[i]]).all()


@settings(max_examples=100, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 10**7), st.sampled_from([-1.0, 1.0]),
              st.integers(-2, 2)),
    min_size=1, max_size=40,
))
def test_micros_equals_duckdb_round(cases):
    """±x.5e-6 values, nudged by up to two ulps either way: micros
    agrees with DuckDB's round(x, 6) on every one."""
    import duckdb

    xs = []
    for j, sign, ulps in cases:
        x = sign * (j + 0.5) / 1e6
        for _ in range(abs(ulps)):
            x = np.nextafter(x, np.inf if ulps > 0 else -np.inf)
        xs.append(float(x))
    want = [r[0] for r in duckdb.execute(
        "SELECT round(v, 6) FROM (SELECT unnest($1::DOUBLE[]) AS v)", [xs]
    ).fetchall()]
    assert (micros(np.array(xs)) / 1e6).tolist() == want


@pytest.mark.parametrize("cells", [
    [[1.0, 2.0], [1.0]],
    [[1.0, 2.0], None],
    [[1.0, None]],
    [np.array([1.0, np.nan])],
    [[1.0, np.inf]],
], ids=["ragged", "null_vector", "null_element", "nan", "inf"])
def test_as_matrix_rejects_bad_vectors(cells):
    with pytest.raises(ValueError, match="vector column 'emb'"):
        as_matrix(cells, "emb")


def _pca(spark):
    from weaviate_spark.operators.curation import pca_top_component

    rows = [(i, [1.0 + i, 2.0 * i, 3.0]) for i in range(12)] + [(99, [None, 1.0, 2.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return pca_top_component(df, "vec_id", "embedding").collect()


def _ref_meta(spark):
    from weaviate_spark.operators.classification_job import knn_classify_with_meta

    lab = spark.createDataFrame([
        ("t1", [1.0, 0.0], "weaviate://localhost/Category/cat-a"),
        ("t2", [0.0, 1.0], "weaviate://localhost/Category/cat-b"),
    ], "_kid string, _kvec array<float>, _klabel string")
    q = spark.createDataFrame([("q1", [None, 1.0])], "_kid string, _kvec array<float>")
    return knn_classify_with_meta(lab, q, k=1).collect()


def _knn_lsh(spark):
    from weaviate_spark.operators.rerank import knn_classify_lsh

    lab = spark.createDataFrame([
        (1, [1.0, 0.0], 10), (2, [0.9, 0.1], 10), (3, [None, 1.0], 20),
    ], "id long, embedding array<float>, label long")
    q = spark.createDataFrame([(100, [1.0, 0.0])], "id long, embedding array<float>")
    # one plane probed both ways: the query meets every labeled row
    return knn_classify_lsh(lab, q, "id", "embedding", "label", dim=2, k=1,
                            num_planes=1, probe=2, backend="pandas").collect()


@pytest.mark.parametrize("run,column", [
    (_pca, "embedding"), (_ref_meta, "_kvec"), (_knn_lsh, "embedding"),
], ids=["pca_top_component", "knn_classify_with_meta", "knn_classify_lsh"])
def test_null_vector_element_fails_loudly(spark, run, column):
    """A NULL vector element reaches numpy as NaN; it used to corrupt
    the PCA eigenvalue, null every meta distance, and win the LSH
    vote. Each kernel now refuses it, naming the vector column (the
    error comes back from the Python worker wrapped by Spark)."""
    with pytest.raises(Exception, match=rf"ValueError: vector column '{column}'"):
        run(spark)


def test_no_copied_distance_kernels():
    """Top-k selection, 6dp distance rounding and row-wise vector
    conversion live in functions/distance.py only."""
    root = pathlib.Path(__file__).resolve().parents[1] / "weaviate_spark"
    pattern = re.compile(r"np\.argpartition|list\(map\(float|1e6 \+ 0\.5")
    hits = [
        f"{path.relative_to(root)}:{no}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        if path.relative_to(root).as_posix() != "functions/distance.py"
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not hits, "use functions/distance.py instead:\n" + "\n".join(hits)
