"""Round-8 regression pins for the r07 ADVICE findings:

1. A write must rebuild the SQ / IVF-PQ / NN-graph state too — SQ is
   the quantize="auto" route, so a write followed by a nearVector
   search must see the new vectors (a stale checkpointed SQ code table
   silently hides them from top-k forever).
2. decode_gif_frame_stats must survive truncated headers
   (struct.error from unpack_from) per the "per-row codec failure must
   never kill a 100 TB pass" contract.
3. The auto/SQ route must train per-collection code bounds: fixed
   [-1, 1] saturates unnormalized corpora to code 0/255 and returns
   wrong top-k.
4. zorder_key must cap bits so the interleaved key fits the 63 value
   bits of a signed LONG (bit 63 = sign bit anti-clusters; shift >= 64
   wraps mod 64 and collides planes).
5. jaccard_link_prediction's wedge self-join gets the max_hub_degree
   skew guard (fuzzy_name_pairs max_bucket_size template).
"""

import random

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.usefixtures("tmp_artifact_roots")


def _corpus(rng, n, dim, lo, hi):
    return [(i, [rng.uniform(lo, hi) for _ in range(dim)]) for i in range(n)]


def test_write_invalidates_sq_index_new_vector_visible(spark, sf_dir, tmp_path):
    """Upsert then search: the inserted vector (exact query match) must
    be rank 1 on the SQ compressed route — the ADVICE-high scenario."""
    from weaviate_spark.entry_queries import QVEC
    from weaviate_spark.operators.vector import NearVectorSpec, near_vector
    from weaviate_spark.sources.crud import upsert

    table_dir = str(tmp_path / "embeddings.parquet")
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").write.parquet(table_dir)
    my_sf = str(tmp_path)

    spec = lambda: NearVectorSpec(  # noqa: E731
        collection="embeddings", vector=QVEC, limit=5, quantize="sq",
    )
    before = [r["vec_id"] for r in
              near_vector(spark, my_sf, spec()).select("vec_id").collect()]
    new_id = 10_000_019
    assert new_id not in before

    base = spark.read.parquet(table_dir)
    new_row = (
        base.limit(1)
        .withColumn("vec_id", F.lit(new_id).cast(base.schema["vec_id"].dataType))
        .withColumn(
            "embedding",
            F.array(*[F.lit(float(x)) for x in QVEC]).cast(
                base.schema["embedding"].dataType),
        )
    )
    upsert(spark, table_dir, new_row, "vec_id")

    after = near_vector(spark, my_sf, spec()).select("vec_id", "_distance").collect()
    assert after[0]["vec_id"] == new_id, (
        "stale SQ code table: inserted exact-match vector invisible to "
        f"the compressed route (got {[r['vec_id'] for r in after]})"
    )
    assert after[0]["_distance"] == 0.0


@pytest.mark.parametrize("writer", ["crud", "out_of_band"])
def test_write_rebuilds_each_dependent_entry_once(spark, sf_dir, tmp_path, writer):
    """One write to `embeddings` (a crud upsert, or files rewritten
    behind the engine's back) rebuilds each derived-state entry built
    from that table exactly once on its next resolves, and no entry of
    another table: `part`'s base plan, the near-dup index and BM25
    handles over `documents`, and a BQ index on another collection."""
    from weaviate_spark import registry
    from weaviate_spark.operators.bm25 import BM25Prop, BM25Spec, bm25_search
    from weaviate_spark.operators.dedup import with_shingle_table
    from weaviate_spark.operators.quantization import (
        sq_trained_bounds, with_bq_index,
    )
    from weaviate_spark.operators.similarity import nn_descent_graph
    from weaviate_spark.sources.crud import upsert
    from weaviate_spark.sources.tables import load_table

    sf = str(tmp_path)
    for src, dst in (("part", "part"), ("documents", "documents"),
                     ("embeddings", "embeddings"), ("embeddings", "vecs2")):
        spark.read.parquet(f"{sf_dir}/{src}.parquet").write.parquet(
            f"{sf}/{dst}.parquet")
    emb_path = registry.table_path(sf, "embeddings")
    spec = BM25Spec(collection="documents", query="data", limit=5,
                    properties=[BM25Prop("text")], id_col="doc_id")

    def resolve_all():
        load_table(spark, sf, "part").count()
        load_table(spark, sf, "docs_embedded")
        bm25_search(spark, sf, spec).collect()
        with_shingle_table(load_table(spark, sf, "documents"), "doc_id",
                           "text", 3, (sf, "documents"))
        for coll in ("embeddings", "vecs2"):
            with_bq_index(load_table(spark, sf, coll), "vec_id", "embedding",
                          64, (sf, coll))
        sq_trained_bounds(spark, sf, "embeddings")
        nn_descent_graph(spark, sf, "embeddings", k=3, rounds=0, num_planes=2)

    registry.clear()
    resolve_all()
    mine = [k for k in registry.builds if k[1][0].startswith(sf)]
    assert {k[0] for k in mine} >= {"plan", "derived", "bm25", "dedup",
                                    "vector", "sq_bounds", "nng"}
    before = {k: registry.builds[k] for k in mine}

    emb = spark.read.parquet(emb_path)
    if writer == "crud":
        upsert(spark, emb_path, emb.where("vec_id = 0"), "vec_id")
    else:
        rows = emb.collect()
        spark.createDataFrame(rows, emb.schema).write.mode(
            "overwrite").parquet(emb_path)
    resolve_all()
    resolve_all()

    rebuilt = {k: registry.builds[k] - before[k] for k in mine}
    dependent = {k for k in mine if emb_path in k[1]}
    assert {k[0] for k in dependent} == {"plan", "derived", "vector",
                                         "sq_bounds", "nng"}
    assert {k: n for k, n in rebuilt.items() if k in dependent} == {
        k: 1 for k in dependent}
    assert {k: n for k, n in rebuilt.items() if k not in dependent} == {
        k: 0 for k in mine if k not in dependent}
    registry.clear()


def test_gif_frame_stats_survives_truncated_header(spark):
    """A blob that dies inside struct.unpack_from must drop out, not
    kill the pass (decode_image_array already had struct.error in its
    tuple; the frame-stats kernel did not)."""
    import numpy as np

    from weaviate_spark.operators.multimodal import (
        GIF_TEST_PALETTE, decode_gif_frame_stats, gif_from_frames,
    )

    good = gif_from_frames(
        [np.zeros((4, 4), dtype=np.uint8)], GIF_TEST_PALETTE)
    rows = [
        (1, bytearray(good)),
        (2, bytearray(b"GIF89a\x00")),          # struct.error in header
        (3, bytearray(good[:14])),               # truncated mid-descriptor
        (4, bytearray(b"")),
    ]
    df = spark.createDataFrame(rows, "media_id long, media binary")
    got = decode_gif_frame_stats(df).collect()
    assert [r["media_id"] for r in got] == [1]
    assert got[0]["mean_r"] == 1.0  # palette slot 0 = pure red


def test_sq_auto_route_trains_bounds_for_unnormalized_corpus(spark, tmp_path):
    """Vectors in [0, 100]: fixed [-1, 1] saturates every component to
    code 255 (candidate scan degenerates to ties); trained bounds keep
    the auto route's top-k identical to the exact scan."""
    from weaviate_spark import registry
    from weaviate_spark.operators.quantization import (
        sq_topk, sq_trained_bounds,
    )
    from weaviate_spark.operators.vector import NearVectorSpec, near_vector

    rng = random.Random(42)
    dim, n = 16, 400
    rows = _corpus(rng, n, dim, 0.0, 100.0)
    table_dir = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(rows, ["vec_id", "embedding"]).write.parquet(table_dir)
    my_sf = str(tmp_path)
    registry.clear()

    query = [rng.uniform(0.0, 100.0) for _ in range(dim)]
    lo, hi = sq_trained_bounds(spark, my_sf, "embeddings")
    assert 0.0 <= lo < 1.0 and 99.0 < hi <= 100.0

    exact = near_vector(spark, my_sf, NearVectorSpec(
        collection="embeddings", vector=query, limit=10,
        metric="l2-squared", quantize="off",
    )).select("vec_id").collect()
    routed = near_vector(spark, my_sf, NearVectorSpec(
        collection="embeddings", vector=query, limit=10,
        metric="l2-squared", quantize="sq",
    )).select("vec_id").collect()
    assert [r["vec_id"] for r in routed] == [r["vec_id"] for r in exact]

    # and the saturation failure the fix prevents: fixed [-1,1] bounds
    # on this corpus collapse all code distances to (near-)ties
    naive = sq_topk(
        spark, my_sf, "embeddings", query, k=10, overfetch=1,
        metric="l2-squared", lo=-1.0, hi=1.0,
    ).select("vec_id").collect()
    assert [r["vec_id"] for r in naive] != [r["vec_id"] for r in exact]
    registry.clear()


def test_sq_cosine_route_normalizes_varying_norm_corpus(spark, tmp_path):
    """Cosine over a corpus whose norms vary wildly: raw-value codes
    rank by raw L2 (wrong for cosine); the route must encode UNIT
    vectors so the code distance is monotone in cosine distance."""
    from weaviate_spark import registry
    from weaviate_spark.operators.quantization import sq_topk
    from weaviate_spark.operators.vector import NearVectorSpec, near_vector

    rng = random.Random(7)
    dim = 16
    # same directions at wildly different scales: cosine neighbors are
    # direction-mates, raw-L2 neighbors are magnitude-mates
    rows = []
    for i in range(300):
        direction = [rng.gauss(0, 1) for _ in range(dim)]
        scale = 10.0 ** rng.uniform(-2, 2)
        rows.append((i, [x * scale for x in direction]))
    table_dir = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(rows, ["vec_id", "embedding"]).write.parquet(table_dir)
    my_sf = str(tmp_path)
    registry.clear()

    query = [rng.gauss(0, 1) for _ in range(dim)]
    exact = near_vector(spark, my_sf, NearVectorSpec(
        collection="embeddings", vector=query, limit=10, quantize="off",
    )).select("vec_id").collect()
    routed = near_vector(spark, my_sf, NearVectorSpec(
        collection="embeddings", vector=query, limit=10, quantize="sq",
    )).select("vec_id").collect()
    assert [r["vec_id"] for r in routed] == [r["vec_id"] for r in exact]

    # the failure the fix prevents: raw-value codes at tight overfetch
    # return magnitude-mates, not direction-mates
    naive = sq_topk(
        spark, my_sf, "embeddings", query, k=10, overfetch=1,
        metric="cosine", normalize=False,
    ).select("vec_id").collect()
    assert [r["vec_id"] for r in naive] != [r["vec_id"] for r in exact]
    registry.clear()


def test_sq_trained_bounds_degenerate_corpus(spark, tmp_path):
    from weaviate_spark import registry
    from weaviate_spark.operators.quantization import sq_trained_bounds

    table_dir = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        [(1, [2.5, 2.5]), (2, [2.5, 2.5])], ["vec_id", "embedding"]
    ).write.parquet(table_dir)
    registry.clear()
    assert sq_trained_bounds(spark, str(tmp_path), "embeddings") == (-1.0, 1.0)
    registry.clear()


def test_zorder_key_caps_bits_to_63(spark):
    """4 cols x 16 bits would reach the sign bit; 5+ cols would wrap
    shiftleft mod 64. The cap keeps every key non-negative and keeps
    distinct points distinct (no colliding planes)."""
    from weaviate_spark.sources.layout import zorder_key

    rng = random.Random(7)
    rows = [
        tuple(rng.randint(0, 10_000) for _ in range(5)) for _ in range(300)
    ]
    df = spark.createDataFrame(rows, ["a", "b", "c", "d", "e"])
    for cols in (["a", "b", "c", "d"], ["a", "b", "c", "d", "e"]):
        keys = df.select(zorder_key(df, cols, bits=16).alias("z")).collect()
        assert all(r["z"] >= 0 for r in keys), f"sign-bit key with {len(cols)} cols"
        # interleave order preserved: the high plane is the highest bit
        n_distinct = df.select(*cols).distinct().count()
        assert df.select(zorder_key(df, cols, bits=16).alias("z")).distinct().count() >= min(
            n_distinct, 200
        )


def test_bq_default_overfetch_warns(spark, sf_dir):
    """quantize='bq' without an explicit overfetch is a measured-recall
    footgun (0.2@4 at 1M) — the route warns; an explicit overfetch (the
    caller accepting the trade) does not."""
    import warnings

    from weaviate_spark.entry_queries import QVEC
    from weaviate_spark.operators.vector import NearVectorSpec, near_vector

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        near_vector(spark, sf_dir, NearVectorSpec(
            collection="embeddings", vector=QVEC, limit=5, quantize="bq",
        )).count()
        assert any("recall" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        near_vector(spark, sf_dir, NearVectorSpec(
            collection="embeddings", vector=QVEC, limit=5, quantize="bq",
            quantize_overfetch=4,
        )).count()
        assert not any("recall" in str(x.message) for x in w)


def test_link_prediction_hub_degree_guard(spark):
    """One hub touching every node would contribute n^2 wedge pairs —
    with the cap it is dropped from pairing AND degrees, so scores are
    exactly the guarded-graph Jaccard."""
    from weaviate_spark.operators.graph import jaccard_link_prediction

    # hub 999 touches all 40 nodes; normal hubs touch 2-3 nodes
    edges = [(999, n) for n in range(40)]
    edges += [(1, 0), (1, 1), (2, 1), (2, 2), (3, 2), (3, 3), (3, 0)]
    wedge = spark.createDataFrame(edges, ["hub", "node"])
    true_edges = spark.createDataFrame([(0, 1)], ["_a", "_b"])

    got = jaccard_link_prediction(
        wedge, true_edges, top_k=10, max_hub_degree=5
    ).collect()
    pairs = {(r["node_a"], r["node_b"]): r for r in got}
    # guarded graph: hubs {1,2,3} only; (0,1) is a true edge (dropped);
    # (1,2) shares hub 2: deg(1)=2 {1,2}, deg(2)=2 {2,3} -> 1/3
    assert set(pairs) == {(0, 2), (0, 3), (1, 2), (2, 3)}
    assert pairs[(1, 2)]["common_hubs"] == 1
    assert pairs[(1, 2)]["union_hubs"] == 3
    # unguarded: every pair shares hub 999 -> 40*39/2 candidates
    all_pairs = jaccard_link_prediction(
        wedge, true_edges, top_k=1000, max_hub_degree=None
    ).count()
    assert all_pairs == 40 * 39 // 2 - 1
