"""M5: distance metrics + nearVector semantics."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from weaviate_spark.functions.distance import (
    certainty_to_distance,
    cosine_distance,
    distance,
    dot_distance,
    hamming,
    l2_squared,
    manhattan,
)


@pytest.fixture(scope="module")
def vec_df(spark):
    return spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0]), (4, [-1.0, 0.0])],
        "id int, v array<float>",
    )


def _d(df, expr_col):
    return {r["id"]: r["d"] for r in df.select("id", expr_col.alias("d")).collect()}


def test_cosine(vec_df):
    q = F.array(F.lit(1.0), F.lit(0.0))
    d = _d(vec_df, cosine_distance(F.col("v"), q))
    assert d[1] == pytest.approx(0.0)
    assert d[2] == pytest.approx(1.0)
    assert d[3] == pytest.approx(1 - 1 / math.sqrt(2))
    assert d[4] == pytest.approx(2.0)


def test_cosine_const_query_bit_identical(spark):
    """The constant-query cosine (one parsed expression, the query norm
    folded to a literal) equals cosine_distance bit for bit, on a plain
    column and on an expression over one."""
    import random

    from weaviate_spark.cache import lit_double_array
    from weaviate_spark.functions.distance import cosine_distance_const_query

    rng = random.Random(7)
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(20)],
        "id int, v array<float>",
    )
    q = [rng.gauss(0, 1) for _ in range(16)]
    for col, qv in ((F.col("v"), q), (F.slice("v", 1, 8), q[:8])):
        got = _d(df, cosine_distance_const_query(col, qv))
        want = _d(df, cosine_distance(col, lit_double_array(qv)))
        assert got == want and len(got) == 20


def test_dot_l2_manhattan_hamming(vec_df):
    q = F.array(F.lit(2.0), F.lit(3.0))
    assert _d(vec_df, dot_distance(F.col("v"), q))[3] == pytest.approx(-5.0)
    assert _d(vec_df, l2_squared(F.col("v"), q))[1] == pytest.approx(1 + 9)
    assert _d(vec_df, manhattan(F.col("v"), q))[1] == pytest.approx(1 + 3)
    assert _d(vec_df, hamming(F.col("v"), F.array(F.lit(1.0), F.lit(1.0))))[1] == 1.0


def test_certainty_conversion():
    # distance.go:14-29
    assert certainty_to_distance(1.0) == 0.0
    assert certainty_to_distance(0.5) == 1.0


def test_unknown_metric(vec_df):
    with pytest.raises(ValueError):
        distance(F.col("v"), F.col("v"), "chebyshev")


def test_near_vector_certainty_non_cosine_rejected(spark, sf_dir):
    from weaviate_spark.operators.vector import NearVectorSpec, near_vector

    with pytest.raises(ValueError):
        near_vector(spark, sf_dir, NearVectorSpec(
            collection="embeddings", vector=[0.0] * 64,
            metric="l2-squared", certainty=0.9,
        ))


def test_multi_target_combine(spark):
    from weaviate_spark.operators.vector import multi_target_combine

    a = spark.createDataFrame([(1, 0.1), (2, 0.5), (3, 0.9)], ["id", "_distance"])
    b = spark.createDataFrame([(1, 0.3), (2, 0.2)], ["id", "_distance"])
    # object 3 missing in leg b drops out (shard_combine_multi_target drop rule)
    got = {
        r["id"]: r["_distance"]
        for r in multi_target_combine([a, b], "id", "min").collect()
    }
    assert got == {1: 0.1, 2: 0.2}
    got_sum = {
        r["id"]: r["_distance"]
        for r in multi_target_combine([a, b], "id", "sum").collect()
    }
    assert got_sum[1] == pytest.approx(0.4)
    got_w = {
        r["id"]: r["_distance"]
        for r in multi_target_combine([a, b], "id", "manualWeights", weights=[2.0, 1.0]).collect()
    }
    assert got_w[2] == pytest.approx(2 * 0.5 + 0.2)


def test_multi_target_relative_score(spark):
    from weaviate_spark.operators.vector import multi_target_relative_score

    a = spark.createDataFrame(
        [(1, 0.1), (2, 0.5), (3, 0.9), (4, 0.3)], ["id", "_distance"])
    b = spark.createDataFrame(
        [(1, 0.4), (2, 0.2), (3, 0.8), (4, 0.6)], ["id", "_distance"])
    got = {
        r["id"]: r["_score"]
        for r in multi_target_relative_score(
            [a, b], "id", weights=[0.5, 0.5], leg_limit=10, limit=10
        ).collect()
    }
    # per-leg min-max over {0.1,0.3,0.5,0.9} and {0.2,0.4,0.6,0.8}
    assert got[1] == pytest.approx(0.5 * 0.0 + 0.5 * (0.2 / 0.6), abs=1e-6)
    assert got[2] == pytest.approx(0.5 * 0.5 + 0.5 * 0.0, abs=1e-6)
    assert got[3] == pytest.approx(0.5 * 1.0 + 0.5 * 1.0, abs=1e-6)

    # all-equal leg => every score contributes exactly the weight
    # (hybrid_fusion.go:131-135)
    c = spark.createDataFrame([(1, 0.7), (2, 0.7)], ["id", "_distance"])
    d = spark.createDataFrame([(1, 0.3), (2, 0.1)], ["id", "_distance"])
    got2 = {
        r["id"]: r["_score"]
        for r in multi_target_relative_score(
            [c, d], "id", weights=[0.4, 0.6], leg_limit=10, limit=10
        ).collect()
    }
    assert got2[2] == pytest.approx(0.4, abs=1e-6)
    assert got2[1] == pytest.approx(0.4 + 0.6, abs=1e-6)

    # missing-in-one-leg objects drop out entirely
    e = spark.createDataFrame([(1, 0.5)], ["id", "_distance"])
    got3 = multi_target_relative_score([a, e], "id", leg_limit=10).collect()
    assert [r["id"] for r in got3] == [1]


def test_hybrid_fusion_unit(spark):
    """RRF + relative-score on hand-built legs (hybrid_fusion.go)."""
    from weaviate_spark.operators.hybrid import fuse

    kw = spark.createDataFrame([(1, 2.0), (2, 1.0)], ["id", "_secondary"])
    ve = spark.createDataFrame([(2, 0.9), (3, 0.5)], ["id", "_secondary"])
    rrf = {r["id"]: r["_score"] for r in fuse([(kw, 0.5), (ve, 0.5)], "id", "ranked").collect()}
    assert rrf[1] == pytest.approx(0.5 / 60, abs=1e-6)
    assert rrf[2] == pytest.approx(0.5 / 61 + 0.5 / 60, abs=1e-6)
    assert rrf[3] == pytest.approx(0.5 / 61, abs=1e-6)

    rel = {r["id"]: r["_score"] for r in fuse([(kw, 0.25), (ve, 0.75)], "id", "relativeScore").collect()}
    # kw: 1 -> 1.0, 2 -> 0.0 ; ve: 2 -> 1.0, 3 -> 0.0
    assert rel[1] == pytest.approx(0.25)
    assert rel[2] == pytest.approx(0.75)
    assert rel[3] == pytest.approx(0.0)


def test_knn_classify_lsh_recall_vs_exact(spark):
    """LSH-pruned classification must agree with the exact path on
    clustered data (uniform random vectors are the LSH worst case and
    not representative — clusters are; see FIXTURES gotchas)."""
    import math
    import random

    from weaviate_spark.operators.rerank import knn_classify, knn_classify_lsh

    rng = random.Random(7)
    dim, clusters = 16, 4
    centers = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(clusters)]
    rows = []
    for i in range(240):
        c = i % clusters
        v = [x + rng.gauss(0, 0.05) for x in centers[c]]
        rows.append((i, v, c))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    # split on a modulus coprime to the cluster count, so every
    # cluster has labeled members
    lab = df.where(F.col("vec_id") % 5 != 0)
    unl = df.where(F.col("vec_id") % 5 == 0)

    exact = {
        r["vec_id"]: r["predicted_label"]
        for r in knn_classify(
            lab, unl, "vec_id", "embedding", "label", k=5, backend="expr"
        ).collect()
    }
    approx = {
        r["vec_id"]: r["predicted_label"]
        for r in knn_classify_lsh(
            lab, unl, "vec_id", "embedding", "label", dim=dim, k=5,
            num_planes=6, probe=2,
        ).collect()
    }
    assert set(approx) == set(exact)          # every query classified
    agree = sum(approx[q] == exact[q] for q in exact) / len(exact)
    assert agree >= 0.95, f"LSH classification agreement too low: {agree}"


def test_zeroshot_classify_nearest_target(spark):
    """classifier_run_zeroshot.go: nearest target-class object wins,
    no training set; ties break on smallest target id."""
    from weaviate_spark.operators.rerank import zeroshot_classify

    items = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])],
        "id long, v array<float>",
    )
    targets = spark.createDataFrame(
        [(10, [1.0, 0.1]), (20, [0.1, 1.0])], "tid long, v array<float>"
    )
    out = {r["id"]: r for r in zeroshot_classify(
        items, targets, "id", "v", "tid", "Label").collect()}
    assert out[1]["predicted_tid"] == 10
    assert out[2]["predicted_tid"] == 20
    # equidistant from both -> smallest target id
    assert out[3]["predicted_tid"] == 10
    assert out[1]["_beacon"].startswith("weaviate://localhost/Label/")


def test_named_vectors_convention(spark):
    """`_vectors` struct column convention (dto.go:73-107): per-name
    resolution, inner-join drop semantics for rows missing a target,
    ManualWeights keyed by name."""
    from weaviate_spark.operators.vector import (
        NamedTarget,
        named_multi_target_search,
        named_vector_col,
    )

    df = spark.createDataFrame(
        [
            (1, ([1.0, 0.0], [1.0, 0.0])),
            (2, ([0.0, 1.0], [0.0, 1.0])),
            (3, ([1.0, 0.0], None)),  # missing 'head' -> drops
        ],
        "id long, _vectors struct<full: array<float>, head: array<float>>",
    )
    import pytest
    with pytest.raises(KeyError):
        named_vector_col(df, "nope")

    out = named_multi_target_search(
        df, [NamedTarget("full", [1.0, 0.0]), NamedTarget("head", [1.0, 0.0])],
        "id", combination="min", limit=10,
    ).collect()
    assert [r["id"] for r in out] == [1, 2]  # row 3 dropped
    assert out[0]["_distance"] == 0.0
    assert out[0]["_distances"]["head"] == 0.0

    w = named_multi_target_search(
        df, [NamedTarget("full", [1.0, 0.0], 0.25), NamedTarget("head", [1.0, 0.0], 0.75)],
        "id", combination="manualWeights", limit=10,
    ).collect()
    assert abs(w[1]["_distance"] - 1.0) < 1e-9  # 0.25*1 + 0.75*1


def test_named_vectors_schema_emission():
    from weaviate_spark.schema import Collection
    from pyspark.sql import types as T

    coll = Collection("c", vector_dim=4, named_vectors={"full": 4, "head": 2})
    schema = coll.spark_schema()
    f = schema["_vectors"].dataType
    assert isinstance(f, T.StructType) and f.fieldNames() == ["full", "head"]


def test_fusion_relative_score_reference_fixtures(spark):
    """Ported verbatim from the reference's TestFusionRelativeScore
    (usecases/traverser/hybrid/fusion_test.go:25-46): weights, per-leg
    input scores, and the expected fused scores per doc id (InDelta
    1e-4, like the reference). Doc id == index within each leg."""
    from weaviate_spark.operators.hybrid import fuse

    cases = [
        ([0.5, 0.5], [[1, 2, 3], [0, 1, 2]], [1, 0.5, 0], [2, 1, 0]),
        ([0.5, 0.5], [[0, 2, 0.1], [0, 0.2, 2]], [0.55, 0.525, 0], [1, 2, 0]),
        ([0.75, 0.25], [[0.5, 0.5, 0], [0, 0.01, 0.001]],
         [1, 0.75, 0.025], [1, 0, 2]),
        ([0.75, 0.25], [[], []], [], []),
        ([0.75, 0.25], [[1], []], [0.75], [0]),
        ([0.75, 0.25], [[], [1]], [0.25], [0]),
        ([0.75, 0.25], [[1, 2], []], [0.75, 0], [1, 0]),
        ([0.75, 0.25], [[], [1, 2]], [0.25, 0], [1, 0]),
        ([0.75, 0.25], [[1, 1], [1, 2]], [1, 0.75], [1, 0]),
        ([1.0], [[1, 2, 3]], [1, 0.5, 0], [2, 1, 0]),
        ([0.75, 0.25], [[1, 2, 3, 4], [1, 2, 3]],
         [0.75, 0.75, 0.375, 0], [3, 2, 1, 0]),
        ([0.75, 0.25, 0.1], [[1, 2, 3, 4], [1, 2, 3], [4, 5]],
         [0.75, 0.75, 0.475, 0], [3, 2, 1, 0]),
    ]
    for weights, leg_scores, exp_scores, exp_order in cases:
        legs = []
        for scores, w in zip(leg_scores, weights):
            df = spark.createDataFrame(
                [(j, float(s)) for j, s in enumerate(scores)],
                "id long, _secondary double",
            )
            legs.append((df, w))
        got = {r["id"]: r["_score"] for r in fuse(legs, "id", "relativeScore").collect()}
        expect = dict(zip(exp_order, exp_scores))
        assert set(got) == set(expect), (weights, leg_scores, got)
        for doc, s in expect.items():
            assert got[doc] == pytest.approx(s, abs=1e-4), (weights, leg_scores, doc)


def test_combiner_reference_fixtures(spark):
    """Ported from the reference's TestCombiner
    (adapters/repos/db/shard_combine_multi_target_test.go:37-185) —
    the complete-legs subset (our legs are full distance frames, so the
    backfill-provider cases don't arise): weighted sum, minimum, and
    RelativeScore fusion with uniform and custom weights."""
    from weaviate_spark.operators.vector import (
        multi_target_combine,
        multi_target_relative_score,
    )

    def leg(pairs):
        return spark.createDataFrame(
            [(i, float(d)) for i, d in pairs], "id long, _distance double")

    l1 = leg([(0, 0.5), (1, 0.6)])
    l2 = leg([(0, 0.5), (1, 0.6)])

    # "simple join" (weights 1,1): summed distances
    got = {r["id"]: r["_distance"] for r in multi_target_combine(
        [l1, l2], "id", "manualWeights", weights=[1, 1]).collect()}
    assert got[0] == pytest.approx(1.0) and got[1] == pytest.approx(1.2)

    # "minimum"
    got = {r["id"]: r["_distance"] for r in multi_target_combine(
        [l1, l2], "id", "min").collect()}
    assert got[0] == pytest.approx(0.5) and got[1] == pytest.approx(0.6)

    # "score fusion" (0.5/0.5): doc0 is each leg's min -> 0, doc1 -> 1
    got = {r["id"]: r["_score"] for r in multi_target_relative_score(
        [l1, l2], "id", weights=[0.5, 0.5], leg_limit=10, limit=10).collect()}
    assert got[0] == pytest.approx(0.0) and got[1] == pytest.approx(1.0)

    # "score fusion with custom weights" (1/2): doc1 -> 3
    got = {r["id"]: r["_score"] for r in multi_target_relative_score(
        [l1, l2], "id", weights=[1, 2], leg_limit=10, limit=10).collect()}
    assert got[0] == pytest.approx(0.0) and got[1] == pytest.approx(3.0)

    # "many documents (score fusion)": four legs, weights 0.25 each,
    # limit 3 -> ascending [1, 0, 2] with the reference's exact scores
    m1 = leg([(0, 0.5), (1, 0.6), (2, 0.8), (3, 1.0)])
    m2 = leg([(1, 0.2), (0, 0.3), (2, 0.5), (3, 0.6)])
    m3 = leg([(1, 0.2), (2, 0.4), (3, 0.6), (0, 0.8)])
    m4 = leg([(1, 0.1), (0, 0.3), (2, 0.7), (3, 0.9)])
    rows = multi_target_relative_score(
        [m1, m2, m3, m4], "id", weights=[0.25] * 4, leg_limit=10, limit=3,
    ).collect()
    assert [r["id"] for r in rows] == [1, 0, 2]
    got = {r["id"]: r["_score"] for r in rows}
    assert got[1] == pytest.approx(0.05, abs=1e-4)
    assert got[0] == pytest.approx(0.375, abs=1e-4)
    assert got[2] == pytest.approx(0.60833, abs=1e-4)


def test_named_vectors_relative_score(spark):
    """Named-vector search with the RelativeScore combination routes
    through the shared fusion path."""
    from weaviate_spark.operators.vector import (
        NamedTarget, named_multi_target_search,
    )

    df = spark.createDataFrame(
        [(1, ([1.0, 0.0], [0.0, 1.0])), (2, ([0.0, 1.0], [1.0, 0.0])),
         (3, ([0.6, 0.8], [0.8, 0.6]))],
        "id long, _vectors struct<a:array<float>,b:array<float>>",
    )
    out = named_multi_target_search(
        df,
        [NamedTarget("a", [1.0, 0.0], 0.5), NamedTarget("b", [1.0, 0.0], 0.5)],
        "id", combination="relativeScore", limit=3,
    ).collect()
    got = {r["id"]: r["_score"] for r in out}
    # leg a distances: 1->0, 2->1, 3->0.4 ; leg b: 1->1, 2->0, 3->0.2
    # normalized: a: {1:0, 2:1, 3:0.4}; b: {1:1, 2:0, 3:0.2}
    assert got[1] == pytest.approx(0.5 * 0 + 0.5 * 1, abs=1e-6)
    assert got[2] == pytest.approx(0.5 * 1 + 0.5 * 0, abs=1e-6)
    assert got[3] == pytest.approx(0.5 * 0.4 + 0.5 * 0.2, abs=1e-6)
    assert [r["id"] for r in out] == [3, 1, 2]  # 0.3 < 0.5 == 0.5, tie id


def test_near_vector_quantized_routing(spark, sf_dir):
    """Unfiltered cosine top-k routes through the BQ compressed scan
    above the corpus threshold (and only then). Since r07 the routed
    query is a two-stage pipeline: the hamming candidate stage runs over
    the WRITTEN (id, packed-words) artifact — no float vectors in its
    scan — and the returned frame is the exact rescore whose base scan
    carries the candidate ids as a PUSHED In-filter (row-group pruning
    instead of a full vector-column read)."""
    import os

    from weaviate_spark.entry_queries import QVEC
    from weaviate_spark.operators.quantization import (
        build_bq_artifact, with_bq_index,
    )
    from weaviate_spark.operators.vector import NearVectorSpec, near_vector
    from weaviate_spark.sources.tables import load_table

    exact = near_vector(spark, sf_dir, NearVectorSpec(
        collection="embeddings", vector=QVEC, limit=10, quantize="off",
    )).select("vec_id", "_distance")
    exact.collect()
    exact_plan = exact._jdf.queryExecution().executedPlan().toString()
    assert "bit_count" not in exact_plan

    # default auto route: sf0.001 corpus is far below the threshold ->
    # identical to exact
    auto = near_vector(spark, sf_dir, NearVectorSpec(
        collection="embeddings", vector=QVEC, limit=10,
    )).select("vec_id", "_distance")
    assert [tuple(r) for r in auto.collect()] == [tuple(r) for r in exact.collect()]

    # ingest-phase artifact: written once, (id, words)-only schema
    root = build_bq_artifact(spark, sf_dir, "embeddings")
    assert root is not None and os.path.exists(f"{root}/_COMMITTED")
    enc = with_bq_index(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        len(QVEC), (sf_dir, "embeddings"),
    )
    assert enc.columns == ["vec_id", "_bq0", "_bq1"]  # no float vectors

    # forced (or above-threshold) route: the returned frame is the exact
    # rescore of the bounded candidate set — its scan prunes by the
    # pushed id IN-filter rather than reading every vector
    routed = near_vector(spark, sf_dir, NearVectorSpec(
        collection="embeddings", vector=QVEC, limit=10, quantize="bq",
    )).select("vec_id", "_distance")
    rows = routed.collect()
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(vec_id" in plan
    assert len(rows) == 10


def test_near_vector_quantized_threshold_trips(spark, sf_dir):
    """quantize_threshold=1 makes the auto route take the compressed
    plan (the rescore-by-pushed-id-filter shape, not the exact full
    scan) — and auto's choice is the recall-safe SQ route, so the
    result rows match the exact scan."""
    from weaviate_spark.entry_queries import QVEC
    from weaviate_spark.operators.vector import NearVectorSpec, near_vector

    routed = near_vector(spark, sf_dir, NearVectorSpec(
        collection="embeddings", vector=QVEC, limit=10, quantize_threshold=1,
    )).select("vec_id", "_distance")
    rows = routed.collect()
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(vec_id" in plan
    exact = near_vector(spark, sf_dir, NearVectorSpec(
        collection="embeddings", vector=QVEC, limit=10, quantize="off",
    )).select("vec_id", "_distance")
    assert [tuple(r) for r in rows] == [tuple(r) for r in exact.collect()]


def test_knn_classify_labeled_set_cap(spark):
    """The numpy backend's driver collect is guarded: an oversized
    labeled frame errors toward knn_classify_lsh instead of OOMing."""
    import pytest

    from weaviate_spark.operators.rerank import knn_classify

    df = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(20)],
        "id long, vec array<float>, label long",
    )
    with pytest.raises(ValueError, match="knn_classify_lsh"):
        knn_classify(df, df, "id", "vec", "label", max_labeled_rows=5)
    # under the cap the guard is inert
    out = knn_classify(df, df.limit(3), "id", "vec", "label", max_labeled_rows=100)
    assert out.count() == 3


def test_hard_negative_mining_semantics(spark, tmp_path):
    """Negatives never share the anchor's label; ranking is by rounded
    distance then id; anchors whose cell has no other label drop."""
    import numpy as np

    from weaviate_spark.operators.similarity import hard_negative_mining

    # two obvious clusters on orthogonal axes; labels mixed in cluster A,
    # uniform in cluster B
    rows = [
        (1, [1.0, 0.0, 0.0], "a"),
        (2, [0.99, 0.01, 0.0], "b"),
        (3, [0.98, 0.02, 0.0], "a"),
        (4, [0.0, 1.0, 0.0], "c"),
        (5, [0.0, 0.99, 0.01], "c"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string")
    p = str(tmp_path / "emb.parquet")
    df.write.parquet(p)
    # centroids: the two axes -> vectors split into two cells
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    out = hard_negative_mining(
        spark, str(tmp_path), "emb", m=2, centroids=cents,
        table_key=(str(tmp_path), "emb", "test"),
    ).collect()
    got = {(r["vec_id"], r["rank"]): r["negative_id"] for r in out}
    lbl = {i: l for i, _, l in rows}
    for r in out:
        assert lbl[r["vec_id"]] != lbl[r["negative_id"]]
        assert r["distance"] >= 0
    # anchor 1 ('a'): only different-label in its cell is 2 ('b')
    assert got[(1, 1)] == 2 and (1, 2) not in got
    # anchor 2 ('b'): both 1 and 3 qualify; 1 is nearer? dist(2,1) vs dist(2,3)
    v = {i: np.array(e) for i, e, _ in rows}

    def cos_d(a, b):
        x = 1 - v[a] @ v[b] / (np.linalg.norm(v[a]) * np.linalg.norm(v[b]))
        return np.floor(x * 1e6 + 0.5) / 1e6

    first = min((cos_d(2, 1), 1), (cos_d(2, 3), 3))[1]
    assert got[(2, 1)] == first
    # cluster B is label-uniform: anchors 4 and 5 emit nothing
    assert not any(r["vec_id"] in (4, 5) for r in out)


def test_label_outlier_scores_flags_planted_mislabel(spark):
    from weaviate_spark.operators.curation import label_outlier_scores

    # two tight clusters; item 5 carries cluster-B geometry but label 'a'
    rows = [
        (1, [0.0, 0.0], "a"), (2, [0.1, 0.0], "a"), (3, [0.0, 0.1], "a"),
        (4, [5.0, 5.0], "b"), (6, [5.1, 5.0], "b"), (7, [5.0, 5.1], "b"),
        (5, [5.05, 5.05], "a"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    out = {r["vec_id"]: r for r in
           label_outlier_scores(df, "vec_id", "embedding", "label").collect()}
    assert out[5]["likely_mislabeled"] is True
    assert out[5]["nearest_other_label"] == "b"
    assert out[5]["margin"] < 0
    for i in (1, 2, 3, 4, 6, 7):
        assert out[i]["likely_mislabeled"] is False
        assert out[i]["margin"] > 0


def test_matryoshka_recall_vs_exact(spark):
    """With overfetch = corpus size the cascade equals exact search; at
    modest overfetch the top-1 still survives on this corpus."""
    import numpy as np

    from weaviate_spark.operators.similarity import matryoshka_topk

    rng = np.random.RandomState(3)
    vecs = rng.randn(80, 32).astype(float)
    q = rng.randn(32).astype(float)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        "vec_id long, embedding array<float>",
    )
    full = matryoshka_topk(df, "vec_id", "embedding", [float(x) for x in q],
                           prefix_dim=8, overfetch=80, k=5).collect()
    # exact ground truth on float32-stored vectors
    v32 = vecs.astype(np.float32).astype(float)
    d = 1 - v32 @ q / (np.linalg.norm(v32, axis=1) * np.linalg.norm(q))
    exact = list(np.argsort(np.round(d, 6), kind="stable")[:5])
    assert [r["vec_id"] for r in full] == exact
    # pruned cascade keeps ordering among survivors consistent
    pruned = matryoshka_topk(df, "vec_id", "embedding", [float(x) for x in q],
                             prefix_dim=8, overfetch=20, k=5).collect()
    assert all(r["_distance"] >= full[0]["_distance"] for r in pruned)
    got = [r["vec_id"] for r in pruned]
    assert sorted(set(got)) == sorted(got)  # no dup ids


def test_multiprobe_sequence_orders_by_margin(spark):
    from weaviate_spark.operators.similarity import (
        hyperplanes, multiprobe_sequence, _sig_py,
    )

    q = [0.1] * 64
    planes = hyperplanes(8, 64)
    seq = multiprobe_sequence(q, planes, n_probes=6)
    qsig = _sig_py(q, planes)
    assert seq[0] == qsig and len(seq) == 6 and len(set(seq)) == 6
    margins = [
        abs(sum(v * p for v, p in zip(q, plane))) for plane in planes
    ]
    weakest = min(range(8), key=lambda i: (margins[i], i))
    # the first perturbation flips exactly the weakest-margin plane
    flip1 = [i for i in range(8) if seq[1][i] != qsig[i]]
    assert flip1 == [weakest]


def test_multiprobe_recall_vs_hamming_ball(spark, sf_dir):
    from pyspark.sql import functions as F

    from weaviate_spark.entry_queries import QVEC
    from weaviate_spark.functions.distance import distance
    from weaviate_spark.operators.similarity import (
        ann_top_k, build_lsh_index, multiprobe_topk,
    )
    from weaviate_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = build_lsh_index(emb, "vec_id", "embedding", num_planes=8, dim=64)
    mp = {r["vec_id"] for r in multiprobe_topk(
        idx, QVEC, "vec_id", "embedding", k=10, n_probes=8).collect()}
    ball = {r["vec_id"] for r in ann_top_k(
        idx, QVEC, "vec_id", "embedding", k=10, probe=2).collect()}
    qv = F.array(*[F.lit(float(x)) for x in QVEC])
    exact = {r["vec_id"] for r in (
        emb.withColumn("_d", distance(F.col("embedding"), qv, "cosine"))
        .orderBy(F.col("_d").asc(), F.col("vec_id").asc()).limit(10)
    ).collect()}
    # 8 targeted probes keep recall within one hit of the 9-bucket ball
    assert len(mp & exact) >= len(ball & exact) - 1


def test_multivector_pruned_matches_exact_small_corpus(spark, sf_dir):
    """At token_topk >= corpus the pruned plan must equal exact maxsim;
    with a tiny token_topk it returns a subset of candidates only."""
    from pyspark.sql import functions as F

    from weaviate_spark.entry_queries import QVEC
    from weaviate_spark.operators.multivector import (
        multivector_search, multivector_search_pruned,
    )
    from weaviate_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    docs = emb.select(
        "vec_id",
        F.array(F.slice("embedding", 1, 21), F.slice("embedding", 22, 21),
                F.slice("embedding", 43, 21)).alias("_toks"),
    )
    qt = [QVEC[:21], QVEC[21:42]]
    exact = [tuple(r) for r in
             multivector_search(docs, "vec_id", "_toks", qt, limit=5).collect()]
    pruned = [tuple(r) for r in multivector_search_pruned(
        docs, "vec_id", "_toks", qt, token_topk=10**6, limit=5).collect()]
    assert pruned == exact

    tiny = multivector_search_pruned(
        docs, "vec_id", "_toks", qt, token_topk=3, limit=10)
    assert tiny.count() <= 6  # union of two 3-doc token lists


def test_near_vector_sq_route_l2_metric(spark, sf_dir):
    """l2-squared also routes through the SQ compressed scan (the int8
    code distance IS an l2 proxy) and returns the exact-scan rows; BQ
    stays cosine-only and falls back to the exact plan for l2."""
    from weaviate_spark.entry_queries import QVEC
    from weaviate_spark.operators.vector import NearVectorSpec, near_vector

    exact = near_vector(spark, sf_dir, NearVectorSpec(
        collection="embeddings", vector=QVEC, limit=10,
        metric="l2-squared", quantize="off",
    )).select("vec_id", "_distance")
    routed = near_vector(spark, sf_dir, NearVectorSpec(
        collection="embeddings", vector=QVEC, limit=10,
        metric="l2-squared", quantize="sq",
    )).select("vec_id", "_distance")
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(vec_id" in plan
    assert [tuple(r) for r in routed.collect()] == [
        tuple(r) for r in exact.collect()]

    bq_l2 = near_vector(spark, sf_dir, NearVectorSpec(
        collection="embeddings", vector=QVEC, limit=10,
        metric="l2-squared", quantize="bq",
    )).select("vec_id", "_distance")
    bq_plan = bq_l2._jdf.queryExecution().executedPlan().toString()
    assert "bit_count" not in bq_plan  # exact fallback, not sign bits
    assert [tuple(r) for r in bq_l2.collect()] == [
        tuple(r) for r in exact.collect()]
