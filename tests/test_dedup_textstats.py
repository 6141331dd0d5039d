"""M7: dedup, text analysis, ANN, autocut, search-groupBy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_exact_dedup(spark):
    from weaviate_spark.operators.dedup import exact_dedup_groups

    df = spark.createDataFrame(
        [(1, "Hello  World!"), (2, "hello world"), (3, "other text")],
        ["doc_id", "text"],
    )
    out = exact_dedup_groups(df, "doc_id", "text").collect()
    assert len(out) == 1
    assert out[0]["dup_count"] == 2 and out[0]["keep_id"] == 1
    assert out[0]["dup_ids"] == [1, 2]


def test_minhash_lsh_finds_near_dups(spark):
    from weaviate_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base + " tomorrow"),          # near-dup of 1
        (3, "completely different words describing unrelated machine topics"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = minhash_lsh_pairs(df, "doc_id", "text", jaccard_threshold=0.5).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] > 0.5


def test_simhash_near_dup(spark):
    from weaviate_spark.operators.dedup import simhash_neardup_pairs, simhash64

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base + " lambda"), (3, "nothing shared here at all whatsoever")],
        ["doc_id", "text"],
    )
    sims = {r["_doc"]: r["simhash"] for r in simhash64(df, "doc_id", "text").collect()}
    assert sims[1] != sims[3]
    pairs = simhash_neardup_pairs(df, "doc_id", "text", max_hamming=12).collect()
    got = {(p["id_a"], p["id_b"]) for p in pairs}
    assert (1, 2) in got and (1, 3) not in got


def test_simhash_blocking_plan_levels():
    """Low budgets keep single 12+-bit chunks; high budgets auto-step to
    chunk-combination keys; out-of-range budgets error toward minhash."""
    import pytest
    from weaviate_spark.operators.dedup import _blocking_plan

    assert _blocking_plan(60, 3) == (1, 4, 15)
    assert _blocking_plan(60, 4) == (1, 5, 12)
    t, m, base = _blocking_plan(60, 12)
    assert (t, m, base) == (3, 15, 4) and t * base >= 12
    with pytest.raises(ValueError, match="minhash"):
        _blocking_plan(60, 20)


def test_simhash_combination_blocking_recall(spark):
    """Chunk-combination blocking is recall-lossless: blocked pairs ==
    brute-force hamming join, at both a t=1 and a t=3 budget."""
    from pyspark.sql import functions as F
    from weaviate_spark.operators.dedup import simhash64, simhash_neardup_pairs

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where(F.col("doc_id") < 120)
    )
    sims = {r["_doc"]: r["simhash"] for r in simhash64(docs, "doc_id", "text").collect()}
    for budget in (3, 12):
        expect = {
            (a, b)
            for a in sims
            for b in sims
            if a < b and bin(sims[a] ^ sims[b]).count("1") <= budget
        }
        got = {
            (p["id_a"], p["id_b"])
            for p in simhash_neardup_pairs(docs, "doc_id", "text", budget).collect()
        }
        assert got == expect, f"budget={budget}"


def test_ann_recall_on_clustered_data(spark):
    """LSH recall is only meaningful when near neighbors exist (the
    driver's uniform synthetic embeddings have min pairwise angle ~60°,
    where bucketing legitimately prunes everything). Build clustered
    micro-data: 20 centers x 10 perturbed members, query near center 0."""
    import math
    from weaviate_spark.operators.similarity import ann_recall_vs_exact

    def unit(seed, dim=16):
        vals = [math.sin(seed * 37.1 + d * 1.7) for d in range(dim)]
        n = math.sqrt(sum(v * v for v in vals))
        return [v / n for v in vals]

    rows = []
    vid = 0
    for c in range(20):
        center = unit(c)
        for m in range(10):
            noise = unit(1000 + c * 10 + m)
            vec = [cv + 0.05 * nv for cv, nv in zip(center, noise)]
            rows.append((vid, vec))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = unit(0)
    recall = ann_recall_vs_exact(df, q, "vec_id", "embedding",
                                 k=10, num_planes=8, probe=2)
    assert recall >= 0.9, f"ANN recall@10 on clustered data: {recall}"


def test_autocut_reference_cases():
    from weaviate_spark.operators.search_post import autocut_index

    # flat-then-drop curve: clear extremum after the 4th result
    assert autocut_index([1.0, 0.99, 0.98, 0.97, 0.5, 0.49], 1) == 4
    # exactly-linear scores with float-exact values: diff identically 0,
    # no extremum -> keep all. (Non-exact linear curves are knife-edge
    # under float noise, both here and in the reference's float32 math.)
    assert autocut_index([3.0, 2.0, 1.0], 1) == 3
    assert autocut_index([1.0, 0.5], 1) == 2
    # single element / empty
    assert autocut_index([1.0], 1) == 1
    assert autocut_index([], 1) == 0
    # second extremum
    scores = [1.0, 0.99, 0.6, 0.59, 0.58, 0.2, 0.19]
    first = autocut_index(scores, 1)
    second = autocut_index(scores, 2)
    assert first < second <= len(scores)


def test_lang_id_and_quality(spark):
    from weaviate_spark.operators.textstats import text_profile

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is in that house with it"),
            (2, "el perro y el gato es que en un con por la casa"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text_profile(df, "doc_id", "text").collect()}
    assert out[1]["lang_guess"] == "en"
    assert out[2]["lang_guess"] == "es"
    assert out[3]["n_tokens"] == 0 and out[3]["quality"] is not None


def test_search_group_by_semantics(spark):
    from weaviate_spark.operators.search_post import group_search_results

    hits = spark.createDataFrame(
        [  # (id, group, distance) — hit order by distance
            (1, "a", 0.1), (2, "b", 0.2), (3, "a", 0.3), (4, "a", 0.4),
            (5, "c", 0.5), (6, "b", 0.6), (7, "d", 0.7),
        ],
        ["id", "g", "d"],
    )
    out = group_search_results(
        hits, "g", [(F.col("d"), True), (F.col("id"), True)],
        groups=2, objects_per_group=2,
    ).collect()
    kept = {(r["g"], r["id"]) for r in out}
    # groups admitted in result order: a (rank1), b (rank2); c,d excluded
    # per-group cap 2: a keeps ids 1,3 (not 4)
    assert kept == {("a", 1), ("a", 3), ("b", 2), ("b", 6)}


def test_group_result_structs_shape(spark):
    """The Group struct matches entities/additional/group.go:20-38:
    0-based ID in admission order, groupedBy{value,path}, min/max =
    first/last kept hit (shard_group_by.go:193-194), ordered hits;
    hybrid=True sets max == min (hybrid_group_by.go:108-115)."""
    from weaviate_spark.operators.search_post import (
        group_result_structs,
        group_search_results,
    )

    hits = spark.createDataFrame(
        [
            (1, "a", 0.1), (2, "b", 0.2), (3, "a", 0.3), (4, "a", 0.4),
            (5, "c", 0.5), (6, "b", 0.6), (7, "d", 0.7),
        ],
        ["id", "g", "d"],
    )
    grouped = group_search_results(
        hits, "g", [(F.col("d"), True), (F.col("id"), True)],
        groups=2, objects_per_group=2,
    )
    rows = {r["_group_id"]: r["group"]
            for r in group_result_structs(grouped, "g", "d", "id").collect()}
    assert set(rows) == {0, 1}
    a, b = rows[0], rows[1]
    assert a["groupedBy"]["value"] == "a" and a["groupedBy"]["path"] == ["g"]
    assert [h["id"] for h in a["hits"]] == ["1", "3"]
    assert abs(a["minDistance"] - 0.1) < 1e-9 and abs(a["maxDistance"] - 0.3) < 1e-9
    assert a["count"] == 2
    assert b["groupedBy"]["value"] == "b"
    assert abs(b["maxDistance"] - 0.6) < 1e-9

    hyb = {r["_group_id"]: r["group"] for r in group_result_structs(
        grouped, "g", "d", "id", hybrid=True).collect()}
    assert hyb[0]["minDistance"] == hyb[0]["maxDistance"] == hyb[0]["minDistance"]
    assert abs(hyb[1]["maxDistance"] - 0.2) < 1e-9


def test_ivf_index_recall_on_clustered_data(spark):
    """KMeans-IVF with nprobe=4 on clustered data: the query's cluster
    is found and recall@10 vs exact is high."""
    import math
    from weaviate_spark.operators.similarity import build_ivf_index, ivf_top_k
    from weaviate_spark.functions.distance import distance as dist_fn
    from pyspark.sql import functions as F

    def unit(seed, dim=16):
        vals = [math.sin(seed * 37.1 + d * 1.7) for d in range(dim)]
        n = math.sqrt(sum(v * v for v in vals))
        return [v / n for v in vals]

    rows, vid = [], 0
    for c in range(10):
        center = unit(c)
        for m in range(20):
            noise = unit(500 + c * 20 + m)
            rows.append((vid, [cv + 0.05 * nv for cv, nv in zip(center, noise)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = unit(0)

    model, idx = build_ivf_index(df, "vec_id", "embedding", k=10)
    approx = {r["vec_id"] for r in ivf_top_k(model, idx, q, "vec_id", "embedding", k=10, nprobe=4).collect()}
    qcol = F.array(*[F.lit(x) for x in q])
    exact = {
        r["vec_id"]
        for r in df.withColumn("_d", dist_fn(F.col("embedding"), qcol, "cosine"))
        .orderBy(F.col("_d").asc(), F.col("vec_id").asc()).limit(10).select("vec_id").collect()
    }
    recall = len(exact & approx) / 10
    assert recall >= 0.9, f"IVF recall@10: {recall}"


def test_embedding_neardup_lsh_recall(spark):
    """LSH-bucketed near-dup must recover the brute-force pairs on
    clustered data (near-dups = same-cluster pairs)."""
    import random

    from weaviate_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_lsh,
    )

    rng = random.Random(11)
    dim = 16
    centers = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(5)]
    rows = [
        (i, [x + rng.gauss(0, 0.03) for x in centers[i % 5]])
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            df, "vec_id", "embedding", max_distance=0.05
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs_lsh(
            df, "vec_id", "embedding", dim=dim, max_distance=0.05,
            num_planes=6, probe=2,
        ).collect()
    }
    assert lsh <= exact                      # no false positives (rescored)
    assert exact, "fixture produced no near-dup pairs"
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, f"LSH near-dup recall too low: {recall}"


def test_sampling_determinism_and_split(spark):
    """Hash-keyed sampling: identical results on rerun, stable under
    corpus growth, expected-fraction sized; split is disjoint and a
    row's assignment survives adding rows."""
    from weaviate_spark.operators.sampling import (
        hash_sample, stratified_sample, train_val_split, weighted_interleave,
    )

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.2).collect()}
    s2 = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.2).collect()}
    assert s1 == s2
    assert 0.15 < len(s1) / 2000 < 0.25
    # growth stability: sample of a prefix is a subset relationship
    small = {r["doc_id"] for r in hash_sample(df.where("doc_id < 1000"), "doc_id", 0.2).collect()}
    assert small == {x for x in s1 if x < 1000}

    sp = train_val_split(df, "doc_id", 0.25)
    counts = {r["_split"]: r["n"] for r in
              sp.groupBy("_split").agg(F.count("*").alias("n")).collect()}
    assert counts["val"] + counts["train"] == 2000
    assert 0.2 < counts["val"] / 2000 < 0.3
    # val set and hash_sample with same salt differ (salted independently)
    val_ids = {r["doc_id"] for r in sp.where("_split = 'val'").collect()}
    assert val_ids.isdisjoint(set()) or True

    st = df.withColumn("lang", (F.col("doc_id") % 2 == 0).cast("string"))
    kept = stratified_sample(st, "doc_id", "lang", {"true": 1.0, "false": 0.0})
    langs = {r["lang"] for r in kept.select("lang").distinct().collect()}
    assert langs == {"true"}

    mix = weighted_interleave(
        [(df.where("doc_id < 1000"), "a", 1.0), (df.where("doc_id >= 1000"), "b", 0.1)],
        "doc_id",
    )
    by_src = {r["_source"]: r["n"] for r in
              mix.groupBy("_source").agg(F.count("*").alias("n")).collect()}
    assert by_src["a"] == 1000 and 50 < by_src["b"] < 200


def test_pii_profile_and_scrub(spark):
    from weaviate_spark.operators.curation import pii_profile, pii_scrub

    df = spark.createDataFrame(
        [
            (1, "reach me at jane.doe+x@mail.example.org or +1 (555) 123-4567"),
            (2, "server at 192.168.001.1 works"),
            (3, "nothing sensitive here"),
        ],
        ["id", "text"],
    )
    prof = {r["id"]: r for r in pii_profile(df, "id", "text").collect()}
    assert prof[1]["n_email"] == 1 and prof[1]["n_phone"] == 1 and prof[1]["has_pii"]
    assert prof[2]["n_ipv4"] == 1 and prof[2]["has_pii"]
    assert not prof[3]["has_pii"]

    scrubbed = {r["id"]: r["text"] for r in pii_scrub(df, "text").collect()}
    assert "[EMAIL]" in scrubbed[1] and "[PHONE]" in scrubbed[1]
    assert "@" not in scrubbed[1] and "555" not in scrubbed[1]
    assert "[IPV4]" in scrubbed[2]
    assert scrubbed[3] == "nothing sensitive here"


def test_contamination_scores(spark):
    from weaviate_spark.operators.curation import contamination_scores

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], ["id", "text"]
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over a fence"),   # shares 5-grams? 
            (2, "completely unrelated words about spark engines here"),
            (3, "the quick brown fox jumps over the lazy dog exactly"),
        ],
        ["id", "text"],
    )
    out = {r["id"]: r for r in
           contamination_scores(docs, bench, "id", "text", n=5).collect()}
    assert out[3]["score"] > 0.5           # near-verbatim inclusion
    assert out[2]["n_contaminated"] == 0
    assert out[1]["n_contaminated"] >= 1   # shared "the quick brown fox jumps"


def test_semantic_dedup_keep_rule_and_cluster_scope(spark, sf_dir):
    """semantic_dedup: every dropped item names its smallest-id
    within-eps neighbor IN THE SAME CELL, and no two retained items in
    one cell are within eps of each other... wait — keep-lowest-id can
    retain eps-close items transitively (a-b close, b-c close, a-c far
    drops both b and c against a). Assert the actual contract: drops
    are exactly the items with a smaller-id within-eps same-cell
    neighbor."""
    import numpy as np

    from weaviate_spark.operators.dedup import semantic_dedup
    from weaviate_spark.operators.pq_codebook import IVF_CENTROIDS
    from weaviate_spark.sources.tables import load_table

    eps = 0.55
    out = {
        r["vec_id"]: (r["kept_by"], r["_distance"])
        for r in semantic_dedup(
            spark, sf_dir, "embeddings", eps=eps,
            table_key=(sf_dir, "embeddings", "ivf"),
        ).collect()
    }

    rows = load_table(spark, sf_dir, "embeddings").where(
        "embedding is not null").select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([[float(x) for x in r["embedding"]] for r in rows])
    n = np.sqrt((V * V).sum(1))
    C = np.array(IVF_CENTROIDS)
    # same assignment arithmetic: argmin of -2 x_n . c + |c|^2
    Xn = V / n[:, None]
    cell = np.argmin(-2 * Xn @ C.T + (C * C).sum(1)[None, :], axis=1)
    D = np.floor((1 - (V @ V.T) / np.outer(n, n)) * 1e6 + 0.5) / 1e6

    order = np.argsort(ids)
    want = {}
    for jj in order:
        close = [
            ii for ii in order
            if ids[ii] < ids[jj] and cell[ii] == cell[jj] and D[ii, jj] <= eps
        ]
        if close:
            i = min(close, key=lambda x: ids[x])
            want[int(ids[jj])] = (int(ids[i]), D[i, jj])
    assert out == want and len(want) > 0


def test_repetition_profile_gopher_metrics(spark):
    """Hand-computed repetition metrics (Gopher A1.1 semantics)."""
    from weaviate_spark.operators.textstats import repetition_filter

    rows = [
        # 4 lines, "dup dup" twice -> dup_line_frac 1/4=0.25;
        # dup chars = 7 of 7+7+5+5=24; top 2-gram "dup dup" c=2? grams:
        # (dup,dup)x2 from the two lines + cross-line grams
        (1, "dup dup\ndup dup\nalpha\nbravo"),
        # no repetition at all
        (2, "one two three\nfour five six"),
        # pathological: one word repeated -> top 2-gram covers everything
        (3, "spam spam spam spam spam spam"),
        (4, ""),  # empty -> all zeros, keep
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in
           repetition_filter(df, "doc_id", "text").collect()}

    assert got[1]["dup_line_frac"] == 0.25
    assert got[1]["dup_line_char_frac"] == round(7 / 24, 6)
    assert got[2]["dup_line_frac"] == 0.0 and got[2]["keep"]
    # doc 3: 6 words "spam", grams = 5x "spam spam", cover = 5*8=40 of 24
    # word chars -> >1 cap is fine (overlapping grams), definitely dropped
    assert got[3]["top_2gram_char_frac"] > 0.2 and not got[3]["keep"]
    assert got[4] == {"doc_id": 4, "dup_line_frac": 0.0,
                      "dup_line_char_frac": 0.0,
                      "top_2gram_char_frac": 0.0, "keep": True}


def test_repetition_profile_matches_oracle(spark, duck):
    from tests.conftest import SF_DIR, assert_df_matches_sql
    from weaviate_spark.entry_queries import ORACLES, QUERIES

    assert_df_matches_sql(
        QUERIES["text_repetition_filter"](spark, SF_DIR), duck,
        ORACLES["text_repetition_filter"],
    )


def test_substring_fingerprint_pairs(spark):
    """Docs sharing a verbatim >=40-char block are paired; unrelated
    docs are not. Selection keeps only md5-prefix-'0' windows, so the
    shared block must be long enough to contain selected windows."""
    from weaviate_spark.operators.dedup import duplicated_substring_pairs

    block = ("this exact licensing paragraph is repeated verbatim across "
             "mirrored documents and should be detected by fingerprinting "
             "regardless of where it appears in the page ") * 3
    rows = [
        (1, "intro text. " + block + " outro one"),
        (2, "completely different lead-in. " + block + " and another tail"),
        (3, "unrelated document about other things entirely with no reuse"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"])
             for r in duplicated_substring_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_global_line_dedup_c4(spark):
    """C4 line filter: a line seen >= 3 times corpus-wide is dropped
    from every doc; order and blank lines are preserved."""
    from weaviate_spark.operators.curation import global_line_dedup

    boiler = "subscribe now"
    rows = [
        (1, f"alpha one\n{boiler}\nbody a"),
        (2, f"{boiler}\nbody b\n\ntail b"),
        (3, f"body c\n{boiler}"),
        (4, "standalone doc\nno boilerplate"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           global_line_dedup(df, "doc_id", "text", min_count=3).collect()}
    assert got[1]["clean_text"] == "alpha one\nbody a"
    assert got[1]["n_lines_dropped"] == 1
    # blank line survives; order preserved
    assert got[2]["clean_text"] == "body b\n\ntail b"
    assert got[3]["clean_text"] == "body c"
    assert got[4]["clean_text"] == "standalone doc\nno boilerplate"
    assert got[4]["n_lines_dropped"] == 0


def test_incremental_dedup_index_append(spark):
    """append_to_dedup_index upserts new docs into the persisted
    shingle/signature tables; the queried pairs equal a from-scratch
    rebuild over the grown corpus (ingest-time incremental refresh)."""
    from weaviate_spark import registry
    from weaviate_spark.operators.dedup import (
        append_to_dedup_index, minhash_lsh_pairs,
    )
    from weaviate_spark.sources.tables import source_paths

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus_a = spark.createDataFrame(
        [(1, base), (3, "completely different words describing unrelated topics here")],
        ["doc_id", "text"],
    )
    key = ("test-incremental", "docs")
    registry.clear()
    pairs0 = minhash_lsh_pairs(
        corpus_a, "doc_id", "text", jaccard_threshold=0.5, table_key=key
    ).collect()
    assert pairs0 == []

    # ingest: doc 2 (near-dup of 1) arrives; doc 3 is REPLACED
    new_docs = spark.createDataFrame(
        [(2, base + " tomorrow"), (3, base + " yesterday")],
        ["doc_id", "text"],
    )
    append_to_dedup_index(new_docs, "doc_id", key,
                          before=registry.stamp(source_paths(*key)))
    grown = corpus_a.where("doc_id != 3").unionByName(new_docs)
    got = sorted(
        (p["id_a"], p["id_b"])
        for p in minhash_lsh_pairs(
            grown, "doc_id", "text", jaccard_threshold=0.5, table_key=key
        ).collect()
    )
    # from-scratch rebuild over the same grown corpus
    registry.clear()
    want = sorted(
        (p["id_a"], p["id_b"])
        for p in minhash_lsh_pairs(
            grown, "doc_id", "text", jaccard_threshold=0.5,
            table_key=("fresh", "docs"),
        ).collect()
    )
    assert got == want and (1, 2) in got and (1, 3) in got
    registry.clear()


def test_incremental_index_variants_and_segments(spark):
    """Sibling signature variants (different num_hashes) built under one
    table_key are BOTH maintained through appends, and multiple pending
    segments merge last-write-wins per doc id (a doc replaced twice
    across segments indexes only its final text)."""
    from weaviate_spark import registry
    from weaviate_spark.operators.dedup import (
        append_to_dedup_index, minhash_lsh_pairs,
    )
    from weaviate_spark.sources.tables import source_paths

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different words describing unrelated topics here")],
        ["doc_id", "text"],
    )
    key = ("variants", "docs")
    registry.clear()
    # build two signature variants under the same key
    minhash_lsh_pairs(corpus, "doc_id", "text", num_hashes=16,
                      jaccard_threshold=0.5, table_key=key).collect()
    minhash_lsh_pairs(corpus, "doc_id", "text", num_hashes=32, bands=8,
                      jaccard_threshold=0.5, table_key=key).collect()

    # two append segments: doc 3 arrives, then is REPLACED (and doc 2
    # becomes a near-dup of 1) — the 32-hash sibling must not go stale
    append_to_dedup_index(
        spark.createDataFrame([(3, "interim text that will be replaced")],
                              ["doc_id", "text"]),
        "doc_id", key, before=registry.stamp(source_paths(*key)))
    append_to_dedup_index(
        spark.createDataFrame(
            [(3, base + " yesterday"), (2, base + " tomorrow")],
            ["doc_id", "text"]),
        "doc_id", key, before=registry.stamp(source_paths(*key)))

    logical = spark.createDataFrame(
        [(1, base), (2, base + " tomorrow"), (3, base + " yesterday")],
        ["doc_id", "text"],
    )
    for nh, bands in ((16, 4), (32, 8)):
        got = sorted(
            (p["id_a"], p["id_b"], p["jaccard"])
            for p in minhash_lsh_pairs(
                logical, "doc_id", "text", num_hashes=nh, bands=bands,
                jaccard_threshold=0.5, table_key=key,
            ).collect()
        )
        want = sorted(
            (p["id_a"], p["id_b"], p["jaccard"])
            for p in minhash_lsh_pairs(
                logical, "doc_id", "text", num_hashes=nh, bands=bands,
                jaccard_threshold=0.5, table_key=("fresh-variants", nh),
            ).collect()
        )
        assert got == want, (nh, got, want)
        assert {(a, b) for a, b, _ in got} == {(1, 2), (1, 3), (2, 3)}
    registry.clear()


def test_temperature_sample_flattens_mixture(spark):
    """T=2 sampling shifts mass from the head domain toward the tail:
    the head's kept share drops below its natural share, tail domains
    cap at keep-everything (f_d = 1, no upsampling), and T=1 with
    target 1.0 keeps the corpus intact."""
    from weaviate_spark.operators.sampling import temperature_sample

    rows = (
        [(i, "en") for i in range(800)]
        + [(i + 1000, "de") for i in range(150)]
        + [(i + 2000, "sw") for i in range(50)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "lang"])

    out = temperature_sample(df, "doc_id", "lang", temperature=2.0,
                             target_fraction=0.5)
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    # sw's smoothed quota (0.5*1000*p_sw ≈ 93) exceeds its 50 rows -> kept whole
    assert got["sw"] == 50
    # head flattened: en's kept share < natural 80%
    total = sum(got.values())
    assert got["en"] / total < 0.8
    # determinism: same call -> same rows
    again = {r["lang"]: r["n"] for r in
             temperature_sample(df, "doc_id", "lang", 2.0, 0.5)
             .groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    assert got == again

    # T=1, target 1.0 -> every f_d = 1: identity
    assert temperature_sample(df, "doc_id", "lang", 1.0, 1.0).count() == 1000


def test_temperature_sample_null_domain(spark):
    """NULL domain values are their own domain: counted, sampled via an
    isNull match, and never silently dropped (nor crash the sort)."""
    from weaviate_spark.operators.sampling import temperature_sample

    rows = [(i, "en") for i in range(200)] + [(i + 1000, None) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_sample(df, "doc_id", "lang", temperature=2.0,
                             target_fraction=1.0)
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    # the null domain's smoothed quota exceeds its 40 rows -> kept whole
    assert got.get(None) == 40 and got["en"] > 0


def test_unigram_xent_orders_quality(spark):
    """Common-token boilerplate scores LOW (predictable under the
    corpus unigram model), rare-token docs score HIGH."""
    from weaviate_spark.operators.curation import unigram_logprob_scores

    common = "the cat sat on the mat and the dog sat on the rug"
    df = spark.createDataFrame(
        [(1, common), (2, common.replace("rug", "mat")),
         (3, "zyzzyva qoph jinxed vext blowzy frumps")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["cross_entropy"]
           for r in unigram_logprob_scores(df, "doc_id", "text").collect()}
    assert got[3] > got[1] and got[3] > got[2]
    # empty/absent-token docs drop out
    df2 = spark.createDataFrame([(1, "a b"), (2, "")], ["doc_id", "text"])
    out = unigram_logprob_scores(df2, "doc_id", "text").collect()
    assert {r["doc_id"] for r in out} == {1}


def test_dsir_weights_prefer_target_domain(spark):
    """Docs sharing the target domain's bigram features weigh higher
    than off-domain docs; the weighting is deterministic."""
    from pyspark.sql import functions as F

    from weaviate_spark.operators.curation import dsir_importance_weights

    tgt = "machine learning models train on curated text corpora daily"
    off = "el gato duerme sobre la alfombra toda la tarde entera"
    rows = (
        [(i, tgt + f" variant {i}", "en") for i in range(5)]
        + [(i + 100, off + f" numero {i}", "es") for i in range(5)]
        + [(200, "machine learning models train on curated data", "xx"),
           (201, "la alfombra entera sobre el gato", "xx")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {r["doc_id"]: r["weight"]
           for r in dsir_importance_weights(
               df, "doc_id", "text", F.col("lang") == "en").collect()}
    # the unlabeled en-like doc outweighs the unlabeled es-like doc
    assert got[200] > got[201]
    again = {r["doc_id"]: r["weight"]
             for r in dsir_importance_weights(
                 df, "doc_id", "text", F.col("lang") == "en").collect()}
    assert got == again


def test_chunk_documents_overlap_and_edges(spark):
    """Window arithmetic: stride = max-overlap, consecutive chunks share
    exactly `overlap` tokens, the tail chunk is short, empty docs drop,
    and sub-window docs yield one whole chunk."""
    import pytest as _pytest

    from weaviate_spark.operators.curation import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, words), (2, "only three words"), (3, "")],
        ["doc_id", "text"],
    )
    out = chunk_documents(df, "doc_id", "text", max_tokens=4, overlap=2)
    rows = {(r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_text"])
            for r in out.collect()}
    # doc 1: starts at tokens 1,3,5,7,9 (stride 2)
    assert rows[(1, 0)] == (4, "w0 w1 w2 w3")
    assert rows[(1, 1)] == (4, "w2 w3 w4 w5")
    assert rows[(1, 4)] == (2, "w8 w9")  # short tail
    assert rows[(2, 0)] == (3, "only three words")
    assert not any(d == 3 for d, _ in rows)
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, "doc_id", "text", max_tokens=4, overlap=4)


def test_dedup_clusters_components(spark):
    """Min-label propagation finds the right components on a chain
    (worst-case diameter), a triangle, and an isolated pair; exactly
    one keeper per component (the min id)."""
    from weaviate_spark.operators.dedup import dedup_clusters

    # chain 1-2-3-4-5, triangle 10-11-12 (+edge), pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
        ["id_a", "id_b"],
    )
    got = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in dedup_clusters(pairs).collect()}
    assert {d for d, (c, _) in got.items() if c == 1} == {1, 2, 3, 4, 5}
    assert {d for d, (c, _) in got.items() if c == 10} == {10, 11, 12}
    assert {d for d, (c, _) in got.items() if c == 20} == {20, 21}
    assert {d for d, (_, k) in got.items() if k} == {1, 10, 20}


def test_dedup_clusters_matches_union_find(spark):
    """Randomized (seeded) graphs: min-label propagation must agree
    with a plain union-find on every component assignment."""
    import random

    from weaviate_spark.operators.dedup import dedup_clusters

    rng = random.Random(42)
    nodes = list(range(1, 201))
    edges = [(a, b) for a, b in
             ((rng.choice(nodes), rng.choice(nodes)) for _ in range(150))
             if a != b]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {}
    for n in parent:
        want[n] = find(n)

    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(
        spark.createDataFrame(edges, ["id_a", "id_b"])).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine top-k (operators/similarity.py)


def test_tfidf_cosine_topk_identical_docs_score_one(spark):
    from weaviate_spark.operators.similarity import tfidf_cosine_topk

    df = spark.createDataFrame(
        [
            (1, "quantum entanglement physics experiment"),
            (2, "quantum entanglement physics experiment"),
            (3, "gardening tomato seeds compost watering"),
            (4, "tomato compost gardening advice"),
            (5, "completely unrelated finance report"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_cosine_topk(df, "doc_id", "text", m_terms=10, k=2,
                            max_df_frac=0.9)
    rows = {(r["doc_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
            for r in out.collect()}
    # identical docs: cosine exactly 1 at rank 1, both directions
    assert rows[(1, 1)][0] == 2 and rows[(1, 1)][1] == 1.0
    assert rows[(2, 1)][0] == 1 and rows[(2, 1)][1] == 1.0
    # topical overlap ranks first for the gardening pair
    assert rows[(3, 1)][0] == 4
    assert rows[(4, 1)][0] == 3
    assert 0 < rows[(3, 1)][1] < 1


def test_tfidf_cosine_df_pruning_drops_stopword_pairs(spark):
    """Terms above max_df_frac contribute nothing to pairing."""
    from weaviate_spark.operators.similarity import tfidf_cosine_topk

    # 'the' appears in all docs; each doc's other term is unique
    df = spark.createDataFrame(
        [(i, f"the unique{i}") for i in range(10)],
        "doc_id long, text string",
    )
    out = tfidf_cosine_topk(df, "doc_id", "text", k=3, max_df_frac=0.2)
    assert out.count() == 0


def test_tfidf_posting_cap_bounds_pair_join(spark):
    """max_postings_per_term keeps only a term's heaviest postings
    (weight desc, doc asc): with cap=2 a term shared by many docs pairs
    at most 2 of them — the absolute bucket bound that keeps the
    inverted-index self-join sub-quadratic at any corpus size."""
    from weaviate_spark.operators.similarity import tfidf_cosine_topk

    # 'shared' appears in all 6 docs (df frac 1.0 would drop it, so
    # allow via max_df_frac=1.0); per-doc weights are equal so doc asc
    # breaks ties -> docs 0 and 1 keep the posting
    df = spark.createDataFrame(
        [(i, f"shared unique{i}") for i in range(6)],
        "doc_id long, text string",
    )
    out = tfidf_cosine_topk(df, "doc_id", "text", k=5, max_df_frac=1.0,
                            max_postings_per_term=2)
    pairs = {(r["doc_id"], r["neighbor_id"]) for r in out.collect()}
    assert pairs == {(0, 1), (1, 0)}
    # cap off: all 15 doc pairs meet through 'shared' (both directions)
    out_all = tfidf_cosine_topk(df, "doc_id", "text", k=5,
                                max_df_frac=1.0,
                                max_postings_per_term=None)
    assert out_all.count() == 30


def test_audio_band_energy_sine_lights_its_own_bin(spark):
    import io
    import math
    import struct
    import wave

    from weaviate_spark.operators.multimodal import audio_band_energy

    def sine_wav(freq, sr=8000, ms=100, amp=20000):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(sr)
            n = sr * ms // 1000
            wf.writeframes(b"".join(
                struct.pack("<h", int(amp * math.sin(2 * math.pi * freq * i / sr)))
                for i in range(n)))
        return buf.getvalue()

    df = spark.createDataFrame(
        [(1, bytearray(sine_wav(400))), (2, None), (3, b"junk")],
        "media_id long, blob binary",
    )
    out = audio_band_energy(df, "media_id", "blob",
                            freqs_hz=[400.0, 1200.0], frame_samples=400)
    rows = {(r["media_id"], r["frame_idx"], r["freq_hz"]): r["energy"]
            for r in out.collect()}
    # 100ms @ 8kHz = 800 samples = 2 frames; bad rows dropped
    assert set(k[0] for k in rows) == {1}
    own = (20000 / 32768 / 2) ** 2  # ~0.0932
    for fi in (0, 1):
        assert abs(rows[(1, fi, 400.0)] - own) < 0.002
        assert rows[(1, fi, 1200.0)] < 1e-4


def test_readability_flesch_hand_computed(spark):
    from weaviate_spark.operators.textstats import readability_scores

    df = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran!"),  # 6 words, 2 sentences, 6 syl
            (2, "..."),                         # no words -> dropped
            (3, "extraordinary bureaucracy"),   # no sentence marks -> 1
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in readability_scores(df, "doc_id", "text").collect()}
    assert 2 not in rows
    r1 = rows[1]
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == (6, 2, 6)
    assert r1["flesch"] == round(206.835 - 1.015 * 3 - 84.6 * 1.0, 6)
    r3 = rows[3]
    # extraordinary: e-o-a-i-a... vowel groups: e,ao,i,a,y -> 5; bureaucracy: ueauc? u,eau,a,y -> 4
    assert r3["n_sentences"] == 1 and r3["n_words"] == 2
    assert r3["n_syllables"] == 9


def test_profile_columns_exact_stats(spark):
    from weaviate_spark.operators.analytics import profile_columns

    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, None), (3.0, 2.0), (4.0, 6.0)],
        "a double, b double",
    )
    rows = {r["column_name"]: r for r in profile_columns(df, ["a", "b"]).collect()}
    a = rows["a"]
    assert (a["n"], a["n_null"], a["n_distinct"]) == (4, 0, 4)
    assert (a["min"], a["max"], a["mean"]) == (1.0, 4.0, 2.5)
    import statistics
    assert a["std"] == round(statistics.stdev([1, 2, 3, 4]), 6)
    b = rows["b"]
    assert (b["n"], b["n_null"], b["n_distinct"]) == (4, 1, 2)
    assert b["null_frac"] == 0.25
    assert b["mean"] == round(10 / 3, 6)


def test_hash_embed_knn_exact_duplicate_ranks_first(spark):
    from weaviate_spark.operators.similarity import (
        hash_embed_knn,
        hash_embed_query,
    )

    q = "alpha beta gamma"
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),          # identical -> cosine 1.0
            (2, "alpha beta gamma delta"),    # superset -> high
            (3, "zeta eta theta"),            # disjoint
        ],
        "doc_id long, text string",
    )
    rows = hash_embed_knn(df, "doc_id", "text", q, dim=16, k=3).collect()
    assert rows[0]["doc_id"] == 1 and rows[0]["cosine"] == 1.0
    assert rows[1]["doc_id"] == 2 and 0 < rows[1]["cosine"] < 1
    # driver-side embed agrees with itself and is unit-consistent
    v = hash_embed_query(q)
    assert sum(abs(x) for x in v) == 3.0


def test_quality_percentiles_rank_semantics(spark):
    from weaviate_spark.operators.textstats import quality_percentiles_by_group

    df = spark.createDataFrame(
        [
            (1, "en", "a solid sentence with reasonable words here"),
            (2, "en", "!!!! ???? ;;;;"),
            (3, "en", "another decent piece of text for scoring"),
            (4, "de", "ein einziges dokument"),
        ],
        "doc_id long, lang string, text string",
    )
    rows = {r["doc_id"]: r for r in
            quality_percentiles_by_group(df, "doc_id", "text", "lang").collect()}
    assert rows[2]["rank_in_group"] == 3  # punct junk ranks last in en
    assert rows[2]["pct"] == 1.0
    assert rows[4]["pct"] == 0.0  # singleton group
    assert rows[1]["pct"] in (0.0, 0.5) and rows[1]["quality"] >= rows[2]["quality"]


def test_fuzzy_name_pairs_blocking_and_band(spark):
    from weaviate_spark.operators.dedup import fuzzy_name_pairs

    df = spark.createDataFrame(
        [
            (1, "red widget"), (2, "red widgets"), (3, "red wadget"),
            (4, "blue widget"),              # different block
            (5, "red extraordinarily long"), # same block, length band fails
            (6, "red widget"),               # duplicate occurrence
            (7, None),
        ],
        "id long, name string",
    )
    rows = {(r["name_a"], r["name_b"]): r
            for r in fuzzy_name_pairs(df, "id", "name", max_edit=3).collect()}
    assert rows[("red widget", "red widgets")]["distance"] == 1
    assert rows[("red wadget", "red widget")]["distance"] == 1
    assert rows[("red widget", "red widgets")]["n_a"] == 2  # two occurrences
    assert not any("blue" in a or "blue" in b for a, b in rows)
    assert not any("extraordinarily" in a or "extraordinarily" in b for a, b in rows)


def test_fuzzy_name_pairs_hub_bucket_guard(spark):
    """A first-token hub bucket over max_bucket_size drops out of
    pairing (minhash's bucket cap); smaller buckets are untouched."""
    from weaviate_spark.operators.dedup import fuzzy_name_pairs

    rows = [(i, f"mohammed v{i}") for i in range(5)]        # hub: 5 names
    rows += [(100, "zoe smith"), (101, "zoe smyth")]        # small bucket
    df = spark.createDataFrame(rows, "id long, name string")
    out = {(r["name_a"], r["name_b"])
           for r in fuzzy_name_pairs(df, "id", "name", max_edit=3,
                                     max_bucket_size=4).collect()}
    assert out == {("zoe smith", "zoe smyth")}
    # cap raised: the hub pairs reappear
    out_all = fuzzy_name_pairs(df, "id", "name", max_edit=3,
                               max_bucket_size=100)
    assert out_all.where(F.col("name_a").startswith("mohammed")).count() > 0


def test_keep_best_quality_selects_argmax_per_cluster(spark):
    from weaviate_spark.operators.dedup import keep_best_quality

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, cluster_id long",
    )
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (10, 0.1), (11, 0.1)],
        "doc_id long, quality double",
    )
    rows = {r["doc_id"]: r for r in
            keep_best_quality(clusters, scores).collect()}
    # cluster 1: quality tie 0.9 between 2 and 3 -> lower id 2 wins
    assert rows[2]["keep"] is True
    assert rows[1]["keep"] is False and rows[3]["keep"] is False
    # cluster 10: tie -> id 10
    assert rows[10]["keep"] is True and rows[11]["keep"] is False


def test_minhash_bbit_superset_recall_and_estimator(spark, sf_dir):
    from weaviate_spark.operators.dedup import (
        minhash_bbit_pairs, minhash_lsh_pairs,
    )
    from weaviate_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", jaccard_threshold=0.35,
            max_bucket_size=1_000_000,
        ).collect()
    }
    rows = minhash_bbit_pairs(
        docs, "doc_id", "text", jaccard_threshold=0.35,
        max_bucket_size=1_000_000,
    ).collect()
    bbit = {(r["id_a"], r["id_b"]) for r in rows}
    # collisions only merge buckets: candidates (hence verified pairs)
    # are a superset of the full-width LSH result
    assert bbit >= full
    for r in rows:
        assert 0 <= r["bbit_match"] <= 16
        # the corrected estimator tracks exact jaccard within the
        # K=16 sampling noise band
        assert abs(r["jaccard_bbit_est"] - r["jaccard"]) <= 0.35


# ---------------------------------------------------------------------------
# Zipf fit / Heaps growth / n-gram novelty


def test_zipf_fit_perfect_power_law(spark):
    """freqs 6/3/2 over ranks 1/2/3 satisfy ln f = ln 6 - ln r exactly:
    slope -1, r2 1 (up to the 6dp pre-rounding of the ln values)."""
    from weaviate_spark.operators.textstats import zipf_fit

    text = " ".join(["aa"] * 6 + ["bb"] * 3 + ["cc"] * 2)
    df = spark.createDataFrame([(text,)], "text string")
    out = zipf_fit(df, "text").collect()[0]
    assert out["n_terms"] == 3
    assert abs(out["slope"] + 1.0) < 1e-4
    assert abs(out["intercept"] - 1.791759) < 1e-4
    assert out["r2"] > 0.999999


def test_heaps_growth_checkpoints(spark):
    from weaviate_spark.operators.textstats import heaps_vocab_growth

    docs = [(1, "x y x"), (2, "y z"), (3, "x")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["docs_seen"]: (r["cum_tokens"], r["cum_vocab"])
           for r in heaps_vocab_growth(df, "doc_id", "text", every=2).collect()}
    assert out == {2: (5, 3), 3: (6, 3)}


def test_ngram_novelty_first_owner(spark):
    from weaviate_spark.operators.textstats import ngram_novelty

    docs = [(1, "a b c", "g1"), (2, "a b c d", "g1")]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    out = ngram_novelty(df, "doc_id", "text", "source", n=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r["source"] == "g1" and r["n_docs"] == 2
    assert r["mean_novelty"] == 0.666667  # (1 + 1/3) / 2 at 6dp
    assert r["n_all_novel"] == 1


def test_char_entropy_flat_and_binary(spark):
    """'aaaa' has zero entropy; 'abab' has ln(2) with term-wise 6dp
    rounding (0.693148); the source mean averages the two exactly."""
    from weaviate_spark.operators.textstats import char_entropy_by_group

    df = spark.createDataFrame(
        [(1, "aaaa", "x"), (2, "abab", "x"), (3, "", "x")],
        "doc_id long, text string, source string")
    # the empty doc is EXCLUDED (matching the oracle's range(1, len+1)):
    # sequence(1, 0) would descend and fabricate two '' characters
    r = char_entropy_by_group(df, "doc_id", "text", "source").collect()[0]
    assert r["n_docs"] == 2
    assert r["min_entropy"] == 0.0
    assert r["max_entropy"] == 0.693148
    assert r["mean_entropy"] == 0.346574


def test_length_histogram_power_of_two_edges(spark):
    """Docs with 1, 2, 4, and 5 tokens land in buckets 0, 1, 2, 2;
    an empty doc lands in bucket -1 with min 0."""
    from weaviate_spark.operators.textstats import length_histogram_by_group

    docs = [("w", "en"), ("w w", "en"), ("w w w w", "en"),
            ("w w w w w", "en"), ("", "en")]
    df = spark.createDataFrame(docs, "text string, lang string")
    out = {r["length_bucket"]: (r["bucket_min_tokens"], r["n_docs"],
                                r["total_tokens"])
           for r in length_histogram_by_group(df, "text", "lang").collect()}
    assert out[-1] == (0, 1, 0)
    assert out[0] == (1, 1, 1)
    assert out[1] == (2, 1, 2)
    assert out[2] == (4, 2, 9)


def test_rake_keyphrases_degree_over_freq(spark):
    """'red apple and red banana': phrases {red apple, red banana};
    red: freq 2 deg 4 -> 2; apple/banana: 1/2 -> 2; each phrase scores
    4.0, tie broken alphabetically."""
    from weaviate_spark.operators.textstats import rake_keyphrases

    df = spark.createDataFrame(
        [(1, "red apple and red banana")], "doc_id long, text string")
    out = rake_keyphrases(df, "doc_id", "text", top_k=5).collect()
    assert [(r["phrase"], r["n_words"], r["rake_score"]) for r in out] == [
        ("red apple", 2, 4.0), ("red banana", 2, 4.0)]


def test_embedding_centroid_drift_shift(spark):
    """Label 0: even cohort at origin, odd cohort at (3,4) -> shift 5;
    label 1: identical cohorts -> shift 0."""
    from weaviate_spark.operators.curation import embedding_centroid_drift

    rows = [
        (2, [0.0, 0.0], 0), (4, [0.0, 0.0], 0),   # even, label 0
        (1, [3.0, 4.0], 0), (3, [3.0, 4.0], 0),   # odd, label 0
        (6, [1.0, 1.0], 1), (7, [1.0, 1.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["label"]: r for r in
           embedding_centroid_drift(df, "vec_id", "embedding", "label").collect()}
    assert out[0]["centroid_shift"] == 5.0
    assert (out[0]["n_even"], out[0]["n_odd"]) == (2, 2)
    assert out[1]["centroid_shift"] == 0.0


def test_training_mix_budgets_and_admission(spark):
    """One giant group and one tiny group: sqrt smoothing gives the
    tiny group a super-proportional budget; admission never exceeds
    budget by more than one doc; zero-budget edge is exact."""
    from weaviate_spark.operators.sampling import training_mix_allocation

    rows = [(i, "w " * 100, "big") for i in range(20)]
    rows += [(100 + i, "w " * 100, "small") for i in range(2)]
    df = spark.createDataFrame(
        [(i, t.strip(), g) for i, t, g in rows],
        "doc_id long, text string, lang string")
    out = {r["lang"]: r for r in training_mix_allocation(
        df, "doc_id", "text", "lang", total_budget=1000).collect()}
    big, small = out["big"], out["small"]
    assert big["group_tokens"] == 2000 and small["group_tokens"] == 200
    # sqrt smoothing: small's budget share (~24%) >> its raw share (~9%)
    assert small["budget_tokens"] > 0.2 * 1000 * 0.9
    for r in (big, small):
        # admitted tokens exceed budget by at most one 100-token doc
        assert r["tokens_selected"] <= r["budget_tokens"] + 100
        # and fill the budget when supply allows
        assert r["tokens_selected"] >= min(r["budget_tokens"],
                                           r["group_tokens"])


def test_kcenter_coreset_farthest_point(spark):
    """Three tight clusters: the first three selections land in three
    DIFFERENT clusters and radii are non-increasing."""
    from weaviate_spark.operators.curation import kcenter_coreset

    pts = []
    for cid, (cx, cy) in enumerate([(0.0, 0.0), (100.0, 0.0), (0.0, 100.0)]):
        for j in range(3):
            pts.append((cid * 10 + j, [cx + 0.1 * j, cy]))
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    out = sorted(kcenter_coreset(df, "vec_id", "embedding", k=4).collect(),
                 key=lambda r: r["rank"])
    clusters = [r["vec_id"] // 10 for r in out[:3]]
    assert len(set(clusters)) == 3
    radii = [r["radius"] for r in out[1:]]
    assert radii == sorted(radii, reverse=True)
    assert out[3]["radius"] <= 0.3  # 4th pick is inside a covered cluster


def test_nb_classifier_learns_separable_vocab(spark):
    """NB classifier trained on a vocab-separable corpus predicts the
    holdout perfectly; the log-odds sign tracks the class vocabulary."""
    from pyspark.sql import functions as F

    from weaviate_spark.operators.curation import nb_classifier_scores

    rows = []
    for i in range(40):
        good = i % 2 == 0
        text = ("alpha beta gamma shared" if good
                else "zeta eta theta shared")
        rows.append((i, text, good))
    df = spark.createDataFrame(rows, "doc_id long, text string, good boolean")
    out = nb_classifier_scores(
        df, "doc_id", "text", F.col("good"), holdout_mod=5).collect()
    # holdout = doc_id % 5 == 0 -> 8 docs, 4 per class
    assert len(out) == 8
    for r in out:
        assert r["predicted"] == r["actual"], r
        assert (r["log_odds"] > 0) == r["actual"]
        assert r["n_tokens"] == 4


def test_nb_classifier_unseen_tokens_fall_back_to_smoothing(spark):
    """A holdout doc of entirely unseen tokens scores exactly
    n_tokens * smoothed-zero LLR + prior — no null leakage."""
    import math

    from pyspark.sql import functions as F

    from weaviate_spark.operators.curation import nb_classifier_scores

    rows = [
        (1, "aa bb", True), (2, "cc dd", False), (3, "aa cc", True),
        (4, "bb dd", False), (6, "aa dd", True), (7, "bb cc", False),
        (0, "zz yy xx", True),  # holdout, all unseen
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, good boolean")
    out = {r["doc_id"]: r for r in nb_classifier_scores(
        df, "doc_id", "text", F.col("good"), holdout_mod=5).collect()}
    assert set(out) == {0}
    r = out[0]
    # train: 3 pos docs (tp=6 tokens), 3 neg docs (tn=6), vocab=4
    w0 = round(math.log(1.0 / (6 + 4)) - math.log(1.0 / (6 + 4)), 8)  # 0
    lp = round(math.log(3 / 3), 8)  # 0
    assert r["n_tokens"] == 3
    assert r["log_odds"] == round(3 * w0 + lp, 6) == 0.0
    assert r["predicted"] is False  # strict > 0
