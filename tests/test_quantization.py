"""BQ / SQ quantization: encoding parity, hamming math, overfetch+rescore
recall (flat/index.go:60-131 BQ-with-rescore semantics)."""

import random

import pytest
from pyspark.sql import functions as F

from weaviate_spark.operators.quantization import (
    bq_encode,
    bq_encode_py,
    hamming_col,
    sq_encode,
    sq_encode_py,
    sq_l2_code_distance,
)

pytestmark = pytest.mark.usefixtures("tmp_artifact_roots")


def test_bq_encode_spark_matches_python(spark):
    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(50)]
    df = spark.createDataFrame(rows, ["id", "v"])
    enc = df.select(
        "id", *[c.alias(f"_bq{w}") for w, c in enumerate(bq_encode(F.col("v"), 64))]
    ).collect()
    by_id = {r["id"]: (r["_bq0"], r["_bq1"]) for r in enc}
    for i, v in rows:
        assert by_id[i] == tuple(bq_encode_py(v)), f"row {i}"


def test_bq_hamming_matches_python(spark):
    rng = random.Random(4)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(30)]
    q = [rng.uniform(-1, 1) for _ in range(64)]
    qw = bq_encode_py(q)
    df = spark.createDataFrame(rows, ["id", "v"])
    enc = df.select(
        "id", *[c.alias(f"_bq{w}") for w, c in enumerate(bq_encode(F.col("v"), 64))]
    )
    got = {
        r["id"]: r["_h"]
        for r in enc.withColumn(
            "_h", hamming_col([F.col("_bq0"), F.col("_bq1")], qw)
        ).collect()
    }
    for i, v in rows:
        w = bq_encode_py(v)
        expect = bin((w[0] ^ qw[0])).count("1") + bin((w[1] ^ qw[1])).count("1")
        assert got[i] == expect, f"row {i}"


def test_bq_rescore_recall_on_clustered_data(spark, tmp_path):
    """BQ overfetch+rescore must find (nearly) the same top-k as the
    exact scan on clustered data. Uses a written parquet table so
    bq_topk's load_table path is exercised end to end."""
    from weaviate_spark.operators.quantization import bq_topk

    rng = random.Random(11)
    dim, clusters = 32, 5
    centers = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(clusters)]
    rows = []
    for i in range(300):
        c = i % clusters
        v = [x + rng.gauss(0, 0.08) for x in centers[c]]
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sf_dir = str(tmp_path)
    df.write.parquet(f"{sf_dir}/embeddings.parquet")

    query = [x + rng.gauss(0, 0.05) for x in centers[2]]
    approx = [
        r["vec_id"]
        for r in bq_topk(
            spark, sf_dir, "embeddings", query, id_col="vec_id",
            k=10, overfetch=4,
        ).collect()
    ]
    from weaviate_spark.functions.distance import distance

    qv = F.array(*[F.lit(float(x)) for x in query])
    exact = [
        r["vec_id"]
        for r in df.withColumn("_d", distance(F.col("embedding"), qv, "cosine"))
        .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]
    overlap = len(set(approx) & set(exact)) / 10
    assert overlap >= 0.8, f"BQ recall too low: {overlap} ({approx} vs {exact})"


def test_sq_roundtrip_and_code_distance(spark):
    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(20)]
    q = [rng.uniform(-1, 1) for _ in range(16)]
    qc = sq_encode_py(q, -1.0, 1.0)
    df = spark.createDataFrame(rows, ["id", "v"])
    enc = df.select("id", sq_encode(F.col("v"), -1.0, 1.0).alias("_code"))
    got = {r["id"]: (r["_code"], r["_cd"]) for r in enc.withColumn(
        "_cd", sq_l2_code_distance(F.col("_code"), qc)
    ).collect()}
    for i, v in rows:
        codes = sq_encode_py(v, -1.0, 1.0)
        assert got[i][0] == codes, f"codes row {i}"
        assert all(0 <= c <= 255 for c in codes)
        expect = sum((a - b) ** 2 for a, b in zip(codes, qc))
        assert got[i][1] == expect, f"distance row {i}"
    # quantization error bounded by half a step per dimension
    step = 2.0 / 255
    for i, v in rows:
        for x, c in zip(v, got[i][0]):
            assert abs((-1.0 + c * step) - x) <= step, (x, c)


def test_sq_rounding_half_up_both_paths(spark):
    """Exact .5 code boundaries round identically (half-up) in the Spark
    expression and the python query-side encoder."""
    # with lo=0, hi=255: x -> x, so x = 0.5, 1.5, 2.5 sit exactly on
    # code boundaries; half-up gives 1, 2, 3
    vals = [0.5, 1.5, 2.5, 253.5, 254.49]
    df = spark.createDataFrame([(1, vals)], ["id", "v"])
    enc = df.select(sq_encode(F.col("v"), 0.0, 255.0).alias("_code")).collect()
    assert enc[0]["_code"] == [1, 2, 3, 254, 254]
    assert sq_encode_py(vals, 0.0, 255.0) == [1, 2, 3, 254, 254]


def test_bq_topk_null_vectors_excluded(spark, tmp_path):
    """Null vectors must not encode to all-zero BQ codes and float to
    the top of the hamming order — they drop out entirely."""
    import random

    from weaviate_spark.operators.quantization import bq_topk

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(30)]
    rows += [(100, None), (101, None)]
    sf_dir = str(tmp_path)
    spark.createDataFrame(rows, "vec_id long, embedding array<float>") \
        .write.parquet(sf_dir + "/vecs.parquet")
    q = [rng.uniform(-1, 1) for _ in range(16)]
    got = [r["vec_id"] for r in
           bq_topk(spark, sf_dir, "vecs", q, k=5, overfetch=2).collect()]
    assert len(got) == 5
    assert 100 not in got and 101 not in got


def test_pq_encode_parity_and_recall(spark, tmp_path):
    """PQ codes from the Spark kernel match the driver-side encoder, and
    PQ overfetch+rescore recall vs exact top-10 stays high on the real
    codebook's training distribution."""
    import random

    from pyspark.sql import functions as F

    from weaviate_spark.functions.distance import distance as dist_col
    from weaviate_spark.operators.pq_codebook import CODEBOOK
    from weaviate_spark.operators.quantization import (
        pq_encode_py, pq_topk, with_pq_index,
    )
    from weaviate_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    emb = load_table(spark, sf_dir, "embeddings")
    enc = with_pq_index(emb, "vec_id", "embedding", CODEBOOK, ("t", "pq-parity"))
    got = {r["_id"]: list(r["_pq"]) for r in enc.collect()}
    src = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    for vid, codes in got.items():
        assert codes == pq_encode_py(src[vid], CODEBOOK), f"row {vid}"
        assert all(0 <= c < 16 for c in codes)

    # recall on CLUSTERED data with a purpose-trained codebook (random
    # uniform vectors carry almost no per-segment structure, so recall
    # there only measures the data, not the machinery — same approach
    # as the LSH recall test)
    from weaviate_spark.operators.quantization import pq_train

    rng = random.Random(11)
    centers = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(5)]
    rows = []
    for i in range(300):
        c = centers[i % 5]
        rows.append((i, [x + rng.gauss(0, 0.12) for x in c]))
    sf2 = str(tmp_path)
    spark.createDataFrame(rows, "vec_id long, embedding array<float>") \
        .write.parquet(sf2 + "/cvecs.parquet")
    import numpy as np

    Xn = np.asarray([v for _, v in rows])
    Xn = Xn / np.linalg.norm(Xn, axis=1, keepdims=True)
    book = pq_train(Xn, segments=8, centroids=16, iters=8, seed=3)
    q = [x + rng.gauss(0, 0.12) for x in centers[2]]
    approx = [r["vec_id"] for r in
              pq_topk(spark, sf2, "cvecs", q, codebook=book, k=10, overfetch=4,
                      table_key=("t", "pq-recall")).collect()]
    qv = F.array(*[F.lit(float(x)) for x in q])
    cdf = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = [r["vec_id"] for r in
             cdf.withColumn("_d", dist_col(F.col("embedding"), qv, "cosine"))
             .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
             .limit(10).collect()]
    overlap = len(set(approx) & set(exact)) / 10
    assert overlap >= 0.8, f"PQ recall too low: {overlap} ({approx} vs {exact})"


def test_rq_rotation_encode_and_recall(spark, tmp_path):
    """RQ: rotation is (near-)orthonormal, Spark codes match the python
    arithmetic, the estimated dot tracks the true dot within the 8-bit
    step bound, and overfetch+rescore recall vs exact stays high."""
    import random

    import numpy as np
    from pyspark.sql import functions as F

    from weaviate_spark.functions.distance import distance as dist_col
    from weaviate_spark.operators.quantization import (
        rq_rotate_py, rq_rotation_matrix, rq_topk, with_rq_index,
    )

    M = rq_rotation_matrix(64)
    assert abs(M @ M.T - np.eye(64)).max() < 1e-4  # 6dp-rounded artifact

    rng = random.Random(23)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(200)]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "vec_id long, embedding array<float>") \
        .write.parquet(sf + "/rvecs.parquet")

    enc = with_rq_index(
        spark.read.parquet(sf + "/rvecs.parquet"),
        "vec_id", "embedding", M, ("t", "rq-parity"),
    )
    got = {r["_id"]: r for r in enc.collect()}
    src = dict(rows)
    for vid in list(got)[:20]:
        x = np.asarray(src[vid], dtype=np.float32).astype(np.float64)
        x = x / np.sqrt((x * x).sum())
        rx = np.asarray(M) @ x
        lo, hi = rx.min(), rx.max()
        step = (hi - lo) / 255.0
        expect = np.clip(np.floor((rx - lo) / step + 0.5), 0, 255).astype(int)
        assert list(got[vid]["_codes"]) == list(expect), vid
        # estimated value within half a step per dim of the true value
        dec = lo + step * expect
        assert np.abs(dec - rx).max() <= step * 0.5 + 1e-9

    q = [rng.uniform(-1, 1) for _ in range(64)]
    approx = [r["vec_id"] for r in
              rq_topk(spark, sf, "rvecs", q, M=M, k=10, overfetch=4,
                      table_key=("t", "rq-recall")).collect()]
    qv = F.array(*[F.lit(float(x)) for x in q])
    cdf = spark.read.parquet(sf + "/rvecs.parquet")
    exact = [r["vec_id"] for r in
             cdf.withColumn("_d", dist_col(F.col("embedding"), qv, "cosine"))
             .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
             .limit(10).collect()]
    overlap = len(set(approx) & set(exact)) / 10
    assert overlap >= 0.9, f"RQ recall too low: {overlap} ({approx} vs {exact})"


def test_ivf_literal_recall_vs_exact(spark):
    """IVF with persisted centroids: nprobe=3/16 cells on the real
    embeddings keeps good top-10 recall vs exact search, and raising
    nprobe to all cells makes it exact."""
    from pyspark.sql import functions as F

    from weaviate_spark.functions.distance import distance as dist_col
    from weaviate_spark.operators.similarity import ivf_literal_topk
    from weaviate_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    q = [((i * 37 + 11) % 97) / 97.0 - 0.5 for i in range(64)]
    approx = [r["vec_id"] for r in
              ivf_literal_topk(spark, sf_dir, "embeddings", q, k=10, nprobe=3,
                               table_key=("t", "ivf-r")).collect()]
    full = [r["vec_id"] for r in
            ivf_literal_topk(spark, sf_dir, "embeddings", q, k=10, nprobe=16,
                             table_key=("t", "ivf-r")).collect()]
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.array(*[F.lit(float(x)) for x in q])
    exact = [r["vec_id"] for r in
             emb.withColumn("_d", F.round(dist_col(F.col("embedding"), qv, "cosine"), 6))
             .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
             .limit(10).collect()]
    assert full == exact                       # nprobe=all == exact
    # the probe is a pure restriction: approx == exact search over the
    # union of probed cells (data-dependent recall is pinned by the
    # hash-checked contract query, not here — uniform-random vectors
    # have little cluster structure by construction)
    from weaviate_spark.operators.pq_codebook import IVF_CENTROIDS
    from weaviate_spark.operators.quantization import pq_encode_py, pq_lut_py

    lut = pq_lut_py(q, [IVF_CENTROIDS])[0]
    cells = set(sorted(range(len(lut)), key=lambda c: (lut[c], c))[:3])
    members = {r["vec_id"] for r in emb.collect()
               if pq_encode_py(list(r["embedding"]), [IVF_CENTROIDS])[0] in cells}
    restricted = [r["vec_id"] for r in
                  emb.where(F.col("vec_id").isin(list(members)))
                  .withColumn("_d", F.round(dist_col(F.col("embedding"), qv, "cosine"), 6))
                  .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
                  .limit(10).collect()]
    assert approx == restricted


def test_incremental_vector_index_append(spark):
    """append_to_vector_indexes: a batch advances EVERY quantized index
    built under the corpus key (here a BQ table and a PQ table) as
    O(batch) segments; after compaction the indexes equal a from-scratch
    encode of the grown corpus, with last-write-wins for re-arrived ids
    (a re-arrived id with a NULL vector leaves every index) — the async
    vector-index-queue analogue."""
    import random

    from pyspark.sql import functions as F

    from weaviate_spark.operators.pq_codebook import CODEBOOK
    from weaviate_spark import registry
    from weaviate_spark.sources.tables import source_paths
    from weaviate_spark.operators.quantization import (
        append_to_vector_indexes, bq_encode, sq_pack_py, with_bq_index,
        with_pq_index, with_sq_index,
    )

    rng = random.Random(11)
    mk = lambda n, off: [  # noqa: E731
        (off + i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(n)
    ]
    registry.clear()
    base_rows = mk(30, 0)
    df = spark.createDataFrame(base_rows, ["vec_id", "embedding"])
    key = ("vec-incr", "emb")
    with_bq_index(df, "vec_id", "embedding", 64, key)
    with_pq_index(df, "vec_id", "embedding", CODEBOOK, key)
    with_sq_index(df, "vec_id", "embedding", 64, -1.0, 1.0, key)

    # batch replaces vec_id 3, nulls vec_id 5 and adds 30/31
    batch_rows = [(3, [1.0] * 64), (5, None)] + mk(2, 30)
    batch = spark.createDataFrame(batch_rows, ["vec_id", "embedding"])
    before = registry.stamp(source_paths(*key))
    assert append_to_vector_indexes(batch, "vec_id", key, before) == 3

    logical = {i: v for i, v in base_rows}
    logical.update({i: v for i, v in batch_rows})
    grown = spark.createDataFrame(sorted(logical.items()), ["vec_id", "embedding"])

    got_bq = {
        (r["vec_id"], r["_bq0"], r["_bq1"])
        for r in with_bq_index(df, "vec_id", "embedding", 64, key).collect()
    }
    want_bq = {
        (r["vec_id"], r["_bq0"], r["_bq1"])
        for r in grown.where(F.col("embedding").isNotNull()).select(
            "vec_id",
            *[c.alias(f"_bq{w}") for w, c in enumerate(bq_encode(F.col("embedding"), 64))],
        ).collect()
    }
    assert got_bq == want_bq and len(got_bq) == 31

    got_pq = {
        (r["_id"], tuple(r["_pq"]))
        for r in with_pq_index(df, "vec_id", "embedding", CODEBOOK, key).collect()
    }
    want_pq = {
        (r["_id"], tuple(r["_pq"]))
        for r in with_pq_index(
            grown, "vec_id", "embedding", CODEBOOK, ("fresh-vec", "emb")
        ).collect()
    }
    assert got_pq == want_pq and len(got_pq) == 31

    got_sq = {
        (r["vec_id"], *(r[f"_sq{w}"] for w in range(16)))
        for r in with_sq_index(
            df, "vec_id", "embedding", 64, -1.0, 1.0, key).collect()
    }
    want_sq = {
        (i, *sq_pack_py(v, -1.0, 1.0)) for i, v in logical.items()
        if v is not None
    }
    assert got_sq == want_sq and len(got_sq) == 31
    registry.clear()


def test_vector_index_family_invalidation(spark, tmp_path):
    """Invalidation is per source table: rewriting the table under the
    BQ index rebuilds that entry on its next resolve and leaves the PQ
    entry built from another table alone."""
    import random

    from weaviate_spark import registry
    from weaviate_spark.operators.pq_codebook import CODEBOOK
    from weaviate_spark.operators.quantization import (
        with_bq_index, with_pq_index,
    )

    rng = random.Random(7)
    sf = str(tmp_path)
    for coll in ("emb_bq", "emb_pq"):
        spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(10)],
            ["vec_id", "embedding"],
        ).write.parquet(f"{sf}/{coll}.parquet")

    def resolve():
        with_bq_index(spark.read.parquet(f"{sf}/emb_bq.parquet"), "vec_id",
                      "embedding", 64, (sf, "emb_bq"))
        with_pq_index(spark.read.parquet(f"{sf}/emb_pq.parquet"), "vec_id",
                      "embedding", CODEBOOK, (sf, "emb_pq"))

    registry.clear()
    resolve()
    kinds = sorted(v[0] for _, v in registry.View("vector"))
    assert kinds == ["bq", "pq"]
    builds = dict(registry.builds)
    spark.read.parquet(f"{sf}/emb_bq.parquet").limit(3).write.mode(
        "overwrite").parquet(f"{sf}/emb_bq.parquet.tmp")
    spark.read.parquet(f"{sf}/emb_bq.parquet.tmp").write.mode(
        "overwrite").parquet(f"{sf}/emb_bq.parquet")
    resolve()
    rebuilt = sorted(k[2][0] for k in registry.builds
                     if registry.builds[k] != builds.get(k, 0))
    assert rebuilt == ["bq"]
    registry.clear()
    assert not registry.View("vector")


def test_ivfpq_topk_recall_and_pruning(spark, sf_dir):
    from pyspark.sql import functions as F

    from weaviate_spark.operators.pq_codebook import IVF_CENTROIDS, CODEBOOK
    from weaviate_spark.operators.quantization import (
        ivfpq_topk, with_ivfpq_index,
    )
    from weaviate_spark.functions.distance import distance
    from weaviate_spark.sources.tables import load_table
    from weaviate_spark.entry_queries import QVEC

    out = ivfpq_topk(
        spark, sf_dir, "embeddings", QVEC, k=10, nprobe=3,
        table_key=(sf_dir, "embeddings", "t_ivfpq"),
    ).collect()
    assert len(out) == 10
    ds = [r["_distance"] for r in out]
    assert ds == sorted(ds)

    # exact brute-force cosine top-10 for recall comparison
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.array(*[F.lit(float(x)) for x in QVEC])
    exact = (
        emb.withColumn("_d", F.round(distance(F.col("embedding"), qv, "cosine"), 6))
        .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    )
    got = {r["vec_id"] for r in out}
    want = {r["vec_id"] for r in exact}
    assert len(got & want) >= 5  # nprobe=3/16 keeps most true neighbors

    # index table carries both pruning columns; cells within range
    enc = with_ivfpq_index(
        emb, "vec_id", "embedding", IVF_CENTROIDS, CODEBOOK,
        (sf_dir, "embeddings", "t_ivfpq"),
    )
    row = enc.limit(1).collect()[0]
    assert 0 <= row["_cell"] < len(IVF_CENTROIDS)
    assert len(row["_pq"]) == len(CODEBOOK)


def test_bq_topk_filtered_allowlist_first(spark, sf_dir):
    """A where-clause on bq_topk restricts the CANDIDATE set: every
    result satisfies the filter, and a vacuous filter reproduces the
    unfiltered result exactly."""
    from weaviate_spark.entry_queries import QVEC
    from weaviate_spark.filters import Clause
    from weaviate_spark.operators.quantization import bq_topk
    from weaviate_spark.sources.tables import load_table

    flt = Clause(operator="GreaterThanEqual", path=["label"], value=5)
    out = bq_topk(spark, sf_dir, "embeddings", QVEC, k=10, where=flt)
    ids = [r["vec_id"] for r in out.collect()]
    labels = {r["vec_id"]: r["label"] for r in
              load_table(spark, sf_dir, "embeddings").collect()}
    assert ids and all(labels[i] >= 5 for i in ids)

    vac = Clause(operator="GreaterThanEqual", path=["label"], value=-1)
    a = [tuple(r) for r in bq_topk(spark, sf_dir, "embeddings", QVEC,
                                   k=10, where=vac).collect()]
    b = [tuple(r) for r in bq_topk(spark, sf_dir, "embeddings", QVEC,
                                   k=10).collect()]
    assert a == b


def test_bq_artifact_staleness_by_fingerprint(spark, tmp_path):
    """The written BQ artifact is keyed by a source mtime+size
    fingerprint: rewriting the table resolves to a NEW artifact, so a
    fresh session never serves codes for vanished rows."""
    import os
    import time

    from weaviate_spark import registry
    from weaviate_spark.operators.quantization import (
        build_bq_artifact, bq_topk,
    )

    sf = str(tmp_path)
    p = f"{sf}/vecs.parquet"
    spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1])],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.parquet(p)
    root1 = build_bq_artifact(spark, sf, "vecs", dim=2)
    assert root1 and os.path.exists(f"{root1}/_COMMITTED")

    time.sleep(0.05)  # ensure a distinct mtime fingerprint
    spark.createDataFrame(
        [(7, [0.0, 1.0]), (8, [0.1, 0.9]), (9, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    registry.clear()
    root2 = build_bq_artifact(spark, sf, "vecs", dim=2)
    assert root2 != root1
    got = {r["vec_id"] for r in bq_topk(
        spark, sf, "vecs", [0.0, 1.0], id_col="vec_id", k=3,
        table_key=(sf, "vecs")).collect()}
    assert got == {7, 8, 9}  # only current rows are served
    # the superseded fingerprint dir was garbage-collected at build
    assert not os.path.exists(root1)


def test_sq_packed_words_match_python_and_unpacked_distance(spark):
    """Packed words (4 codes per long) match the driver-side packer, and
    the packed distance equals the unpacked code distance — pack/unpack
    is identity on the candidate order."""
    from weaviate_spark.operators.quantization import (
        sq_pack_encode, sq_pack_py, sq_packed_distance,
    )

    rng = random.Random(11)
    dim = 15  # deliberately not a multiple of 4 (partial final word)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(40)]
    q = [rng.uniform(-1, 1) for _ in range(dim)]
    qw = sq_pack_py(q, -1.0, 1.0)
    qc = sq_encode_py(q, -1.0, 1.0)
    df = spark.createDataFrame(rows, ["id", "v"])
    n_words = (dim + 3) // 4
    enc = df.select(
        "id",
        *[c.alias(f"_sq{w}") for w, c in enumerate(
            sq_pack_encode(F.col("v"), dim, -1.0, 1.0))],
        sq_encode(F.col("v"), -1.0, 1.0).alias("_code"),
    )
    got = enc.withColumn(
        "_pd", sq_packed_distance(
            [F.col(f"_sq{w}") for w in range(n_words)], qw)
    ).withColumn("_ud", sq_l2_code_distance(F.col("_code"), qc)).collect()
    by_id = {r["id"]: r for r in got}
    for i, v in rows:
        r = by_id[i]
        assert tuple(r[f"_sq{w}"] for w in range(n_words)) == tuple(
            sq_pack_py(v, -1.0, 1.0)), f"row {i}"
        assert r["_pd"] == r["_ud"], f"distance row {i}"


def test_sq_topk_matches_exact_with_full_overfetch(spark, tmp_path):
    """With overfetch covering the corpus, sq_topk is EXACTLY the
    brute-force cosine top-k (rescore sees every row); at the default
    overfetch the int8 candidates keep near-perfect recall."""
    from weaviate_spark.functions.distance import distance
    from weaviate_spark.operators.quantization import sq_topk

    rng = random.Random(12)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(300)]
    q = [rng.uniform(-1, 1) for _ in range(32)]
    sf = str(tmp_path)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.write.parquet(f"{sf}/embeddings.parquet")

    qv = F.array(*[F.lit(float(x)) for x in q])
    exact = [
        (r["vec_id"], r["_d"])
        for r in spark.read.parquet(f"{sf}/embeddings.parquet")
        .withColumn("_d", F.round(distance(F.col("embedding"), qv, "cosine"), 6))
        .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
        .limit(10).collect()
    ]
    full = [tuple(r) for r in sq_topk(
        spark, sf, "embeddings", q, k=10, overfetch=30).collect()]
    assert full == exact

    approx = [r[0] for r in sq_topk(
        spark, sf, "embeddings", q, k=10, overfetch=4).collect()]
    overlap = len(set(approx) & {e[0] for e in exact}) / 10
    assert overlap >= 0.9, f"SQ recall too low: {overlap}"


def test_sq_artifact_written_and_served(spark, tmp_path):
    """build_sq_artifact writes the packed-code table once; with_sq_index
    serves it (no float vectors in the candidate scan), and a rewritten
    source resolves to a fresh fingerprint."""
    import os
    import time

    from weaviate_spark import registry
    from weaviate_spark.operators.quantization import (
        build_sq_artifact, sq_topk, with_sq_index,
    )
    from weaviate_spark.sources.tables import load_table

    sf = str(tmp_path)
    p = f"{sf}/vecs.parquet"
    spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1])],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.parquet(p)
    root1 = build_sq_artifact(spark, sf, "vecs", dim=2)
    assert root1 and os.path.exists(f"{root1}/_COMMITTED")
    enc = with_sq_index(
        load_table(spark, sf, "vecs"), "vec_id", "embedding", 2,
        -1.0, 1.0, (sf, "vecs"),
    )
    assert enc.columns == ["vec_id", "_sq0"]  # packed words only

    time.sleep(0.05)
    spark.createDataFrame(
        [(7, [0.0, 1.0]), (8, [0.1, 0.9]), (9, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    registry.clear()
    root2 = build_sq_artifact(spark, sf, "vecs", dim=2)
    assert root2 != root1
    got = {r["vec_id"] for r in sq_topk(
        spark, sf, "vecs", [0.0, 1.0], id_col="vec_id", k=3,
        table_key=(sf, "vecs")).collect()}
    assert got == {7, 8, 9}
    assert not os.path.exists(root1)


def test_sq_route_via_near_vector(spark, sf_dir):
    """quantize="sq" through the public near_vector API: same result
    rows as the exact scan on this corpus (int8 candidates + exact
    rescore), with the packed-distance candidate stage in the plan."""
    from weaviate_spark.entry_queries import QVEC
    from weaviate_spark.operators.vector import NearVectorSpec, near_vector

    exact = near_vector(spark, sf_dir, NearVectorSpec(
        collection="embeddings", vector=QVEC, limit=10, quantize="off",
    )).select("vec_id", "_distance")
    routed = near_vector(spark, sf_dir, NearVectorSpec(
        collection="embeddings", vector=QVEC, limit=10, quantize="sq",
    )).select("vec_id", "_distance")
    assert [tuple(r) for r in routed.collect()] == [
        tuple(r) for r in exact.collect()]
