"""Round-9 regression pins (VERDICT r08 / ADVICE r08):

1. duplicated_substring_pairs gets a max_docs_per_fingerprint skew
   guard — a fingerprint shared by F docs otherwise yields F^2 join
   rows (one 40-char boilerplate window in 10^5 docs = 10^10 rows).
2. jaccard_link_prediction's library default is exact again
   (max_hub_degree=None); the entry query passes the cap explicitly.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.usefixtures("tmp_artifact_roots")


def test_substring_cap_bounds_boilerplate_join(spark):
    """One 120-char boilerplate block shared by 400 of 420 docs: the
    capped run must drop every boilerplate fingerprint from pairing
    (bounded join), while the planted natural duplicate pair survives
    because its fingerprints are rare."""
    from weaviate_spark.operators.dedup import (
        duplicated_substring_pairs, substring_fingerprints,
    )

    import hashlib
    import random

    rng = random.Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz "
    boiler = ("COPYRIGHT NOTICE ALL RIGHTS RESERVED NO PART MAY BE "
              "REPRODUCED WITHOUT PERMISSION SEE TERMS AT THE FOOT "
              "OF EVERY PAGE END")
    # the boiler must contribute >= min_shared SELECTED fingerprints
    # for the stress to mean anything — assert it host-side first
    sel = [i for i in range(len(boiler) - 39)
           if hashlib.md5(boiler[i:i + 40].encode()).hexdigest()[0] == "0"]
    assert len(sel) >= 2, "boiler needs >= 2 selected fingerprints"

    def noise(n):
        return "".join(rng.choice(alpha) for _ in range(n))

    dup_body = noise(200)  # planted natural near-dup pair (ids 998/999)
    rows = [(i, noise(60) + boiler + noise(60)) for i in range(400)]
    rows += [(900 + i, noise(160)) for i in range(18)]
    rows += [(998, "x" + dup_body), (999, "y" + dup_body)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    fps = substring_fingerprints(df, "doc_id", "text", 40, 1)
    top = (fps.groupBy("_h").count()
           .agg(F.max("count").alias("m")).collect()[0]["m"])
    assert top >= 400  # the skew is real: one posting list of 400 docs

    capped = duplicated_substring_pairs(
        df, "doc_id", "text", k=40, select_hex=1, min_shared=2,
        max_docs_per_fingerprint=100,
    ).collect()
    capped_pairs = {(r["id_a"], r["id_b"]) for r in capped}
    # the planted rare pair survives; the 400-doc boiler cluster does
    # not pair quadratically (its fingerprints are over-cap and dropped
    # — only sub-cap coincidences like boiler-edge windows that also
    # match an adjacent noise char can remain, and those are O(few))
    assert (998, 999) in capped_pairs
    assert len(capped) < 10
    # uncapped ground truth on the same frame IS quadratic in the
    # boiler cluster: >= C(400,2) pairs from the boiler alone (every
    # such pair shares all len(sel) >= 2 selected boiler windows)
    exact_n = duplicated_substring_pairs(
        df, "doc_id", "text", k=40, select_hex=1, min_shared=2,
        max_docs_per_fingerprint=None,
    ).count()
    assert exact_n >= 400 * 399 // 2


def test_substring_cap_noop_without_skew(spark):
    """On a skew-free corpus the cap must be a no-op: capped and exact
    results identical (the registered query's hash stability at sf1
    rests on this)."""
    from weaviate_spark.operators.dedup import duplicated_substring_pairs

    import random

    rng = random.Random(11)
    alpha = "abcdefghijklmnopqrstuvwxyz "
    shared = "".join(rng.choice(alpha) for _ in range(90))
    rows = [(i, "".join(rng.choice(alpha) for _ in range(150)))
            for i in range(30)]
    rows += [(100, "a" + shared), (101, "b" + shared), (102, "c" + shared)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(k=40, select_hex=1, min_shared=1)
    capped = sorted(map(tuple, duplicated_substring_pairs(
        df, "doc_id", "text", max_docs_per_fingerprint=100, **kw).collect()))
    exact = sorted(map(tuple, duplicated_substring_pairs(
        df, "doc_id", "text", max_docs_per_fingerprint=None, **kw).collect()))
    assert capped == exact


def test_link_prediction_default_is_exact(spark):
    """ADVICE r08: the library default must not silently cap hubs —
    max_hub_degree defaults to None (exact); a hub of degree 6 appears
    in pairing unless an explicit cap excludes it."""
    from weaviate_spark.operators.graph import jaccard_link_prediction

    wedge = spark.createDataFrame(
        [("h1", f"n{i}") for i in range(6)] + [("h2", "n0"), ("h2", "n1")],
        ["hub", "node"],
    )
    true_edges = spark.createDataFrame([("n0", "zz")], ["_a", "_b"])
    exact = jaccard_link_prediction(wedge, true_edges, top_k=100).count()
    capped = jaccard_link_prediction(
        wedge, true_edges, top_k=100, max_hub_degree=5).count()
    assert exact == 15  # C(6,2) via h1 (h2's pair is a subset)
    assert capped == 1  # only h2's (n0, n1) survives the degree-5 cap


# ---------------------------------------------------------------------------
# tokenizerUserDict (entities/tokenizer/tokenizer_userdict.go) — per-class
# user dictionaries for the kagome ja/kr modes; fixtures ported from
# tokenizer_userdict_test.go:39-93.

def _kr_user_dict():
    return [{
        "tokenizer": "kagome_kr",
        "replacements": [
            {"source": "Weaviate", "target": "We Aviate"},
            {"source": "Semi Technologies", "target": "SemiTechnologies"},
            {"source": "Aviate", "target": "Aviate"},
            {"source": "We", "target": "We"},
        ],
    }]


def test_user_dict_replacements_kr():
    """tokenizer_userdict_test.go:70-76 — replacement targets split on
    spaces, a source may span whitespace, identity entries keep the
    surface whole. (Base-dict divergence documented: kagome's KR dict
    shreds Latin ['Weaviat','e',...]; our FMM passes Latin runs through
    lowercased — the USER-DICT layer matches the reference exactly.)"""
    from weaviate_spark.functions.text import (
        add_custom_dict, tokenize_for_class_py,
    )

    add_custom_dict("TestClass", _kr_user_dict())
    try:
        assert tokenize_for_class_py(
            "Weaviate Semi Technologies", "kagome_kr", "TestClass"
        ) == ["We", "Aviate", "SemiTechnologies"]
        assert tokenize_for_class_py(
            "We Aviate", "kagome_kr", "TestClass") == ["We", "Aviate"]
        # unknown class -> global tokenizer (no replacements)
        assert tokenize_for_class_py(
            "Weaviate Semi Technologies", "kagome_kr", ""
        ) == ["weaviate", "semi", "technologies"]
        # removing the dict restores the global path
        # (tokenizer_userdict_test.go:85-93)
        add_custom_dict("TestClass", None)
        assert tokenize_for_class_py(
            "Weaviate Semi Technologies", "kagome_kr", "TestClass"
        ) == ["weaviate", "semi", "technologies"]
    finally:
        add_custom_dict("TestClass", None)


def test_user_dict_mode_fallthrough_and_validation():
    """A ja-only dict must not affect kagome_kr for the same class
    (tokenizer_userdict_test.go throttle-balance cases); validation
    mirrors initUserDictTokenizers: duplicate tokenizer and non-kagome
    tokenizers are errors, as are half-set replacements."""
    import pytest

    from weaviate_spark.functions.text import (
        add_custom_dict, tokenize_for_class_py,
    )

    ja = [{"tokenizer": "kagome_ja",
           "replacements": [{"source": "Weaviate", "target": "We Aviate"}]}]
    add_custom_dict("JaClass", ja)
    try:
        assert tokenize_for_class_py(
            "Weaviate", "kagome_ja", "JaClass") == ["We", "Aviate"]
        assert tokenize_for_class_py(
            "Weaviate", "kagome_kr", "JaClass") == ["weaviate"]
    finally:
        add_custom_dict("JaClass", None)

    with pytest.raises(ValueError, match="duplicate tokenizer"):
        add_custom_dict("X", [ja[0], ja[0]])
    with pytest.raises(ValueError, match="does not support user"):
        add_custom_dict("X", [{"tokenizer": "word", "replacements": [
            {"source": "a", "target": "b"}]}])
    with pytest.raises(ValueError, match="source and target"):
        add_custom_dict("X", [{"tokenizer": "kagome_ja", "replacements": [
            {"source": "a"}]}])
    from weaviate_spark.functions.text import _CUSTOM_DICTS
    assert "X" not in _CUSTOM_DICTS


def test_user_dict_column_path(spark):
    """tokenize_for_class: no dict -> pure Catalyst tokenize; with a
    dict -> Arrow UDF whose closure carries the replacement table (the
    registry itself never reaches executors)."""
    from pyspark.sql import functions as F

    from weaviate_spark.functions.text import (
        add_custom_dict, tokenize_for_class,
    )

    df = spark.createDataFrame(
        [(1, "Weaviate Semi Technologies")], ["i", "t"])
    add_custom_dict("ColClass", _kr_user_dict())
    try:
        got = df.select(tokenize_for_class(
            F.col("t"), "kagome_kr", "ColClass").alias("tk")).collect()
        assert got[0]["tk"] == ["We", "Aviate", "SemiTechnologies"]
    finally:
        add_custom_dict("ColClass", None)
    base = df.select(tokenize_for_class(
        F.col("t"), "kagome_kr", "ColClass").alias("tk")).collect()
    assert base[0]["tk"] == ["weaviate", "semi", "technologies"]


def test_runtime_frequency_lexicon(spark, tmp_path):
    """load_frequency_lexicon: a gse-style word<TAB>freq file extends
    the FMM dictionary at runtime (tokenizer.go:414-485 structural
    analogue) — 60k-entry capacity, min_freq filtering, non-CJK and
    single-char lines skipped, and the Spark UDF closure snapshots the
    merged dictionary so a loaded word changes column-side
    segmentation."""
    from pyspark.sql import functions as F

    from weaviate_spark.functions.text import (
        clear_runtime_lexicon, load_frequency_lexicon, segment_cjk_py,
        tokenize_cjk_dict,
    )

    clear_runtime_lexicon()
    try:
        # a real OOV word: 梯度下降 (gradient descent) is absent from the
        # embedded lexicon -> FMM falls back to 深度 + 学习
        before = segment_cjk_py("梯度下降")
        assert before != ["梯度下降"]
        # synthetic capacity block: 60k distinct 2-char han strings
        # (capacity/skip-rule test, not a vocabulary claim)
        lines = [f"{chr(0x4E00 + i % 250)}{chr(0x5E00 + i // 250)}\t{i}"
                 for i in range(60_000)]
        lines += ["梯度下降\t99999", "latin\t5", "一\t7", "低频词\t1"]
        p = tmp_path / "freq.tsv"
        p.write_text("\n".join(lines), encoding="utf-8")
        added = load_frequency_lexicon(str(p), min_freq=2)
        assert added >= 59_900  # capacity: 10^5-scale dict loads
        # (a few synthetic combos collide with embedded lexicon words)
        assert segment_cjk_py("梯度下降") == ["梯度下降"]
        # min_freq filtered 低频词 out; latin + single chars skipped
        assert segment_cjk_py("低频词") != ["低频词"]
        # the column path snapshots the merged lexicon into the closure
        df = spark.createDataFrame([(1, "梯度下降")], ["i", "t"])
        got = df.select(tokenize_cjk_dict(F.col("t")).alias("tk")).collect()
        assert got[0]["tk"] == ["梯度下降"]
    finally:
        clear_runtime_lexicon()
    assert segment_cjk_py("梯度下降") != ["梯度下降"]


# ---------------------------------------------------------------------------
# SQ percentile-clipped bounds (VERDICT r08 ask #7): heavy-tailed corpora.

def test_sq_clipped_bounds_heavy_tail_recall(spark, tmp_path):
    """1% of rows carry one 500x-outlier component. Exact-min/max
    bounds stretch the 255-code grid over [-500, 500], leaving ~zero
    resolution for the data mass; percentile-clipped bounds
    (clip_quantile=0.005) keep the grid on the mass and pin recall@10
    >= 0.99 over 20 queries — the reference's sample-trained Fit
    (scalar_quantization.go:69) clips tails the same way."""
    import random

    from weaviate_spark.functions.distance import distance
    from weaviate_spark.operators.quantization import (
        sq_topk, sq_trained_bounds,
    )

    rng = random.Random(99)
    dim, n = 16, 2000
    rows = []
    for i in range(n):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        if i % 100 == 0:  # 1% outlier rows
            v[rng.randrange(dim)] = 500.0 * (1 if i % 200 == 0 else -1)
        rows.append((i, v))
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{sf}/embeddings.parquet")

    lo_c, hi_c = sq_trained_bounds(
        spark, sf, "embeddings", clip_quantile=0.005)
    lo_m, hi_m = sq_trained_bounds(spark, sf, "embeddings")
    assert hi_m >= 499.0 and lo_m <= -499.0        # min/max sees outliers
    assert -5.0 < lo_c < -2.0 and 2.0 < hi_c < 5.0  # clip stays on the mass

    base = spark.read.parquet(f"{sf}/embeddings.parquet")
    hits_clip = hits_minmax = 0
    n_q = 20
    for qi in range(n_q):
        q = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        qv = F.array(*[F.lit(float(x)) for x in q])
        exact = {
            r["vec_id"]
            for r in base.withColumn(
                "_d", F.round(distance(F.col("embedding"), qv, "l2-squared"), 6))
            .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
            .limit(10).collect()
        }
        got_c = {r[0] for r in sq_topk(
            spark, sf, "embeddings", q, k=10, overfetch=4, metric="l2-squared",
            lo=lo_c, hi=hi_c).collect()}
        got_m = {r[0] for r in sq_topk(
            spark, sf, "embeddings", q, k=10, overfetch=4, metric="l2-squared",
            lo=lo_m, hi=hi_m).collect()}
        hits_clip += len(got_c & exact)
        hits_minmax += len(got_m & exact)
    recall_clip = hits_clip / (10 * n_q)
    recall_minmax = hits_minmax / (10 * n_q)
    assert recall_clip >= 0.99, f"clipped-bounds recall {recall_clip}"
    # and the clip was NECESSARY: min/max bounds collapse on this corpus
    assert recall_minmax < 0.9, f"min/max unexpectedly fine: {recall_minmax}"


def test_sq_clipped_bounds_deterministic_sample(spark, tmp_path):
    """The percentile trains on a deterministic hash sample: same data,
    different partitioning -> identical bounds (artifact fingerprints
    embed lo/hi and must be reproducible)."""
    import random

    from weaviate_spark import registry
    from weaviate_spark.operators.quantization import sq_trained_bounds

    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(3000)]
    sf = str(tmp_path)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.repartition(7).write.parquet(f"{sf}/embeddings.parquet")
    b1 = sq_trained_bounds(spark, sf, "embeddings", clip_quantile=0.01,
                           sample_cap=1000)
    registry.clear()
    sf2 = str(tmp_path / "re")
    df.repartition(31).write.parquet(f"{sf2}/embeddings.parquet")
    b2 = sq_trained_bounds(spark, sf2, "embeddings", clip_quantile=0.01,
                           sample_cap=1000)
    assert b1 == b2


def test_graph_expand_off_corpus_contract(spark, tmp_path):
    """VERDICT r08 #2: no public path returns recall-0 graph results
    silently — an arbitrary-vector call without the on_corpus contract
    warns (pointing at the SQ route); explicit on_corpus=True/False is
    silent."""
    import random
    import warnings

    from weaviate_spark import registry
    from weaviate_spark.operators.similarity import graph_expand_topk

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(64)]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{sf}/embeddings.parquet")
    q = [rng.uniform(-1, 1) for _ in range(8)]

    registry.clear()
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        graph_expand_topk(spark, sf, "embeddings", q, k=3, seed_m=3,
                          graph_k=2, num_planes=2).count()
        assert any("off-corpus recall" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        graph_expand_topk(spark, sf, "embeddings", q, k=3, seed_m=3,
                          graph_k=2, num_planes=2, on_corpus=False).count()
        graph_expand_topk(spark, sf, "embeddings", rows[5][1], k=3,
                          seed_m=3, graph_k=2, num_planes=2,
                          on_corpus=True).count()
        assert not [x for x in w if issubclass(x.category, RuntimeWarning)]
    registry.clear()


def test_near_vector_quantize_clip_route(spark, tmp_path):
    """quantize_clip threads from the public NearVectorSpec into the
    l2 SQ route's bound training; default (None) stays exact min/max."""
    import random

    from weaviate_spark import registry
    from weaviate_spark.operators.vector import NearVectorSpec, near_vector

    rng = random.Random(21)
    rows = []
    for i in range(400):
        v = [rng.gauss(0, 1) for _ in range(8)]
        if i % 100 == 0:
            v[0] = 300.0
        rows.append((i, v))
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{sf}/embeddings.parquet")
    q = [rng.gauss(0, 1) for _ in range(8)]
    registry.clear()
    out = near_vector(spark, sf, NearVectorSpec(
        collection="embeddings", vector=q, metric="l2-squared", limit=5,
        quantize="sq", quantize_threshold=0, quantize_clip=0.01,
    ))
    assert out.count() == 5
    # the clipped training actually happened: a cache entry with q=0.01
    # exists and its hi is far below the 300.0 outlier
    # entry variant is (vector_col, q, sample_cap)
    bounds = registry.View("sq_bounds")
    clipped = [v for k, v in bounds.items() if k[1][-2] == 0.01]
    assert clipped and clipped[0][1] < 10.0, dict(bounds)
    registry.clear()


def test_bm25_consults_class_user_dict(spark, tmp_path):
    """Analyze uses TokenizeForClass (analyze.go:88): with a class user
    dict mapping 'Weaviate' -> 'We Aviate', a BM25 query for 'Aviate'
    matches documents whose raw text never contains that token; without
    the dict it matches nothing. The stats-artifact fingerprint embeds
    the dict digest, so registering it invalidates the cached index."""
    from weaviate_spark.functions.text import add_custom_dict
    from weaviate_spark.operators.bm25 import (
        BM25Prop, BM25Spec, bm25_search,
    )

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "Weaviate engine notes"), (2, "plain other text"),
         (3, "Weaviate Weaviate twice")],
        "doc_id long, body string",
    ).write.parquet(f"{sf}/docs.parquet")

    def search():
        return bm25_search(spark, sf, BM25Spec(
            collection="docs", query="Aviate",
            properties=[BM25Prop(name="body", tokenization="kagome_kr")],
            id_col="doc_id", stopwords=None,
        )).collect()

    assert search() == []  # no dict: 'aviate' tokenizes nowhere
    # the identity entry keeps the QUERY's surface form case-preserved
    # too — the reference fixture carries 'Aviate' -> 'Aviate' for
    # exactly this (tokenizer_userdict_test.go:50-56)
    add_custom_dict("docs", [{
        "tokenizer": "kagome_kr",
        "replacements": [{"source": "Weaviate", "target": "We Aviate"},
                         {"source": "Aviate", "target": "Aviate"}],
    }])
    try:
        hits = search()
        ids = [r["doc_id"] for r in hits]
        assert set(ids) == {1, 3}
        # tf=2 in doc 3 -> it outranks doc 1 (longer doc penalty is
        # smaller than the tf gain at default k1/b)
        assert ids[0] == 3
    finally:
        add_custom_dict("docs", None)
    assert search() == []  # dict removal also invalidates the artifact
