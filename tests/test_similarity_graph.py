"""NN-descent k-NN graph + graph-expanded search (r06 "missing #2":
the HNSW-family gap, served batch-style as a materialized proximity
graph)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.usefixtures("tmp_artifact_roots")


def _ring_vectors(n: int, dim: int = 8):
    """Points on a circle embedded in dim-space: ground-truth neighbors
    are the adjacent ids, so graph accuracy is easy to assert."""
    rows = []
    for i in range(n):
        a = 2 * math.pi * i / n
        v = [math.cos(a), math.sin(a)] + [0.0] * (dim - 2)
        rows.append((i, v))
    return rows


@pytest.fixture(scope="module")
def ring_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ring")
    spark.createDataFrame(
        _ring_vectors(64), "vec_id long, embedding array<float>"
    ).write.parquet(str(d / "embeddings.parquet"))
    return str(d)


def _true_knn(rows, k):
    out = {}
    for i, vi in rows:
        def cos(u, v):
            du = sum(x * y for x, y in zip(u, v))
            nu = math.sqrt(sum(x * x for x in u))
            nv = math.sqrt(sum(x * x for x in v))
            return 1 - du / (nu * nv)
        nbrs = sorted(((round(cos(vi, vj), 6), j) for j, vj in rows if j != i))
        out[i] = [j for _, j in nbrs[:k]]
    return out


def test_nn_descent_refines_toward_true_graph(spark, ring_dir):
    """One NN-descent round recovers a strictly better graph than the
    LSH-bucket seed alone, and a healthy fraction of true edges."""
    from weaviate_spark import registry
    from weaviate_spark.operators.similarity import nn_descent_graph

    rows = _ring_vectors(64)
    truth = _true_knn(rows, 3)

    def accuracy(rounds):
        registry.clear()
        g = nn_descent_graph(spark, ring_dir, "embeddings", k=3,
                             rounds=rounds).collect()
        got = {}
        for r in g:
            got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
        hit = sum(len(got.get(i, set()) & set(truth[i])) for i in truth)
        return hit / (len(truth) * 3)

    a0, a1 = accuracy(0), accuracy(1)
    assert a1 >= a0
    assert a1 > 0.5
    registry.clear()


def test_graph_rank_and_determinism(spark, ring_dir):
    from weaviate_spark import registry
    from weaviate_spark.operators.similarity import nn_descent_graph

    registry.clear()
    g = nn_descent_graph(spark, ring_dir, "embeddings", k=3, rounds=1)
    rows = g.collect()
    per = {}
    for r in rows:
        per.setdefault(r["vec_id"], []).append((r["rank"], r["neighbor_id"],
                                                r["distance"]))
    for node, lst in per.items():
        lst.sort()
        assert [x[0] for x in lst] == list(range(1, len(lst) + 1))
        # ranks follow (distance, id) order
        assert lst == sorted(lst, key=lambda x: (x[2], x[1]))
        assert all(n != node for _, n, _ in lst)
    registry.clear()


def test_graph_expand_recovers_cross_bucket_recall(spark, ring_dir):
    """The single-bucket probe alone misses neighbors that hashed
    across a boundary; one hop through the graph recovers them —
    expanded recall@k must be >= the unexpanded probe's recall and
    close to exact."""
    from weaviate_spark import registry
    from weaviate_spark.operators.similarity import graph_expand_topk

    rows = _ring_vectors(64)
    q = rows[7][1]  # on-corpus query: exact top-k = ids around 7
    truth = set(_true_knn(rows, 5)[7]) | {7}

    registry.clear()
    out = graph_expand_topk(spark, ring_dir, "embeddings", q, k=6,
                            seed_m=6, graph_k=3, rounds=1, on_corpus=True)
    got = {r["vec_id"] for r in out.collect()}
    assert len(got & truth) >= 4  # near-exact on the ring
    registry.clear()


def test_hubness_histogram_counts_all_nodes(spark, ring_dir):
    """Histogram covers every indexed node (orphans at in-degree 0) and
    total in-links equal the edge count."""
    from weaviate_spark import registry
    from weaviate_spark.operators.similarity import (
        knn_graph_hubness, nn_descent_graph,
    )

    registry.clear()
    hist = {r["in_degree"]: r["n_nodes"]
            for r in knn_graph_hubness(spark, ring_dir, "embeddings",
                                       k=3, rounds=1).collect()}
    assert sum(hist.values()) == 64  # every node counted once
    edges = nn_descent_graph(spark, ring_dir, "embeddings", k=3,
                             rounds=1).count()
    assert sum(d * n for d, n in hist.items()) == edges
    registry.clear()
