"""M4: tokenizers + BM25F semantics (FIXTURES.md §A3 micro-corpus)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from weaviate_spark.functions.text import EN_STOPWORDS, remove_stopwords, tokenize, tokenize_py

pytestmark = pytest.mark.usefixtures("tmp_artifact_roots")


@pytest.mark.parametrize(
    "mode,text,want",
    [
        ("word", "Hello, World-42!", ["hello", "world", "42"]),
        ("lowercase", "Hello  World-42!", ["hello", "world-42!"]),
        ("whitespace", "Hello  World", ["Hello", "World"]),
        ("field", "  Hello World ", ["Hello World"]),
        ("trigram", "Spark", ["spa", "par", "ark"]),
    ],
)
def test_tokenize_modes(spark, mode, text, want):
    df = spark.createDataFrame([(text,)], ["t"])
    got = df.select(tokenize(F.col("t"), mode).alias("toks")).collect()[0]["toks"]
    assert got == want
    assert tokenize_py(text, mode) == want  # driver-side mirrors JVM-side


def test_stopword_removal(spark):
    df = spark.createDataFrame([("the quick fox",)], ["t"])
    got = df.select(
        remove_stopwords(tokenize(F.col("t"))).alias("toks")
    ).collect()[0]["toks"]
    assert "the" not in got and "quick" in got


def test_bm25f_hand_computed(spark, tmp_path):
    """3-doc corpus, hand-computed BM25 score for a 1-term query."""
    from weaviate_spark.operators.bm25 import BM25Prop, BM25Spec, bm25_score_df

    rows = [
        (1, "apple banana apple"),   # len 3, freq(apple)=2
        (2, "apple cherry"),         # len 2, freq(apple)=1
        (3, "banana cherry date"),   # len 3, freq=0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spec = BM25Spec(
        collection="x", query="apple", properties=[BM25Prop("text")],
        id_col="doc_id", round_digits=None,
    )
    out = {r["doc_id"]: r["_score"] for r in bm25_score_df(df, spec).collect()}
    N, n = 3, 2
    idf = math.log(1 + (N - n + 0.5) / (n + 0.5))
    avgdl = (3 + 2 + 3) / 3
    k1, b = 1.2, 0.75

    def tf(freq, dl):
        return freq / (freq + k1 * (1 - b + b * dl / avgdl))

    assert out[1] == pytest.approx(tf(2, 3) * idf)
    assert out[2] == pytest.approx(tf(1, 2) * idf)
    assert 3 not in out


def test_bm25f_multi_prop_boost(spark):
    """title^2 + body: contribution = tf*idf*boost summed over props;
    avgdl = mean of per-prop means (bm25_searcher.go:408-446)."""
    from weaviate_spark.operators.bm25 import BM25Prop, BM25Spec, bm25_score_df

    rows = [
        (1, "apple", "banana fruit"),
        (2, "banana", "apple apple pie"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "title", "body"])
    spec = BM25Spec(
        collection="x", query="apple",
        properties=[BM25Prop("title", boost=2.0), BM25Prop("body")],
        id_col="doc_id", round_digits=None,
    )
    out = {r["doc_id"]: r["_score"] for r in bm25_score_df(df, spec).collect()}
    k1, b = 1.2, 0.75
    avgdl = (1.0 + 2.5) / 2  # mean of per-prop mean lengths
    idf_title = math.log(1 + (2 - 1 + 0.5) / (1 + 0.5))  # n=1 in title
    idf_body = math.log(1 + (2 - 1 + 0.5) / (1 + 0.5))   # n=1 in body

    def tf(freq, dl):
        return freq / (freq + k1 * (1 - b + b * dl / avgdl))

    assert out[1] == pytest.approx(tf(1, 1) * idf_title * 2.0)
    assert out[2] == pytest.approx(tf(2, 3) * idf_body * 1.0)


def test_bm25_duplicate_term_boost(spark):
    """Duplicate query terms multiply frequency (terms.go:59)."""
    from weaviate_spark.operators.bm25 import BM25Prop, BM25Spec, bm25_score_df

    df = spark.createDataFrame([(1, "apple pie"), (2, "cherry pie")], ["doc_id", "text"])
    single = bm25_score_df(df, BM25Spec(
        collection="x", query="apple", properties=[BM25Prop("text")],
        id_col="doc_id", round_digits=None,
    )).collect()
    double = bm25_score_df(df, BM25Spec(
        collection="x", query="apple apple", properties=[BM25Prop("text")],
        id_col="doc_id", round_digits=None,
    )).collect()
    s1 = {r["doc_id"]: r["_score"] for r in single}[1]
    s2 = {r["doc_id"]: r["_score"] for r in double}[1]
    assert s2 > s1  # boosted frequency saturates higher


def test_stats_tables_match_recompute(spark, tmp_path):
    """The materialized-index path (build_bm25_index + load_stats and
    the postings handle) must score identically to the per-query
    recompute path — including with a where-filter, where stats stay
    collection-wide but only candidates are scored
    (bm25_searcher.go:235-239, :885-893)."""
    from dataclasses import replace

    from weaviate_spark.operators.bm25 import (
        BM25Prop,
        BM25Spec,
        _postings_handle,
        bm25_score_df,
        build_bm25_index,
        load_stats,
    )

    rows = [
        (1, "apple banana apple", "a"),
        (2, "apple cherry", "b"),
        (3, "banana cherry date apple", "a"),
        (4, "cherry date elder", "b"),
        (5, "apple apple apple banana", "a"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "grp"])
    props = [BM25Prop("text")]
    spec = BM25Spec(
        collection="x", query="apple banana", properties=props,
        id_col="doc_id", round_digits=None,
    )
    cs, tdf, post = build_bm25_index(df, props, "doc_id")
    stats = replace(load_stats(cs, tdf), postings=_postings_handle(post))

    for cand in (df, df.where(F.col("grp") == "a")):
        recompute = {
            r["doc_id"]: r["_score"]
            for r in bm25_score_df(cand, spec, corpus_df=df).collect()
        }
        fed = {
            r["doc_id"]: r["_score"]
            for r in bm25_score_df(
                cand, BM25Spec(**{**spec.__dict__, "stats": stats}), corpus_df=df
            ).collect()
        }
        assert set(fed) == set(recompute)
        for k in fed:
            assert fed[k] == pytest.approx(recompute[k], abs=1e-12)


def test_index_build_matches_per_property_reference(spark):
    """The single tokenize pass of build_bm25_index gives the tables a
    naive per-property build gives: two text properties, a NULL and an
    empty text, a property with no token in any row, repeated terms.
    n_docs counts every row; n_docs_with_prop and sum_len only rows
    holding tokens; every postings row carries its document's token
    count in that property."""
    from collections import Counter

    from weaviate_spark.operators.bm25 import BM25Prop, build_bm25_index

    rows = [
        (1, "Apple pie apple", "banana split", None),
        (2, None, "cherry cherry apple", ""),
        (3, "", "apple", "  ,, "),
        (4, "date date date", None, None),
        (5, "pie", "", "--"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, title string, body string, tags string")
    props = [BM25Prop("title"), BM25Prop("body"), BM25Prop("tags")]
    cs, tdf, post = build_bm25_index(df, props, "doc_id")

    want_cs, want_tdf, want_post, want_dl = set(), Counter(), set(), set()
    for i, p in enumerate(props):
        with_prop = sum_len = 0
        for r in rows:
            toks = tokenize_py(r[i + 1]) if r[i + 1] is not None else []
            if toks:
                with_prop += 1
                sum_len += len(toks)
                want_dl.add((p.name, r[0], len(toks)))
            for term, f in Counter(toks).items():
                want_post.add((p.name, r[0], term, f, len(toks)))
                want_tdf[p.name, term] += 1
        want_cs.add((p.name, len(rows), with_prop, sum_len))

    assert want_cs == {("title", 5, 3, 7), ("body", 5, 3, 6), ("tags", 5, 0, 0)}
    assert set(map(tuple, (r.values() for r in cs.to_pylist()))) == want_cs
    assert {(r["prop"], r["term"]): r["df"] for r in tdf.to_pylist()} == dict(want_tdf)
    assert len(tdf) == len(want_tdf)
    got_post = set(map(tuple, post.collect()))
    assert got_post == want_post
    assert post.count() == len(want_post)
    # the written doclen table sums _f per document: it must agree
    # with the _len every postings row carries
    sum_f = Counter()
    for p, d, _, f, _ in got_post:
        sum_f[p, d] += f
    assert {(p, d, n) for p, d, _, _, n in got_post} == want_dl
    assert {(p, d, n) for (p, d), n in sum_f.items()} == want_dl


def test_read_on_built_index_runs_no_eager_job(spark, sf_dir):
    """Once an index is built, building a bm25 or a hybrid read for a
    new term set runs no Spark job: the corpus statistics are looked up
    on the driver, so the only jobs are the read's own action."""
    from weaviate_spark.entry_queries import QVEC
    from weaviate_spark.operators.bm25 import BM25Prop, BM25Spec, bm25_search
    from weaviate_spark.operators.hybrid import HybridSpec, hybrid_search

    def reads(query):
        return [
            bm25_search(spark, sf_dir, BM25Spec(
                collection="documents", query=query,
                properties=[BM25Prop("text")], id_col="doc_id", limit=10)),
            hybrid_search(spark, sf_dir, HybridSpec(
                collection="docs_embedded", query=query, vector=QVEC,
                properties=[BM25Prop("text")], id_col="doc_id", limit=10)),
        ]

    for df in reads("spark filter"):  # builds both indexes
        df.collect()
    sc = spark.sparkContext
    group = "bm25-read-build"
    sc.setJobGroup(group, group)
    try:
        frames = reads("join data query")
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        for df in frames:
            assert df.collect()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()


def _keyword_reads(spark, sf_dir, query):
    from weaviate_spark.entry_queries import QVEC
    from weaviate_spark.operators.bm25 import BM25Prop, BM25Spec, bm25_search
    from weaviate_spark.operators.hybrid import HybridSpec, hybrid_search

    return {
        "bm25": bm25_search(spark, sf_dir, BM25Spec(
            collection="documents", query=query,
            properties=[BM25Prop("text")], id_col="doc_id", limit=10)),
        "hybrid": hybrid_search(spark, sf_dir, HybridSpec(
            collection="docs_embedded", query=query, vector=QVEC,
            properties=[BM25Prop("text")], id_col="doc_id", limit=10)),
    }


def _run_in_group(df, group):
    """Collect ``df`` under its own job group: (rows, job counts,
    executed plan node counts)."""
    from weaviate_spark.plans.profile import executed_node_counts, job_group_counts

    sc = df.sparkSession.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc._jsc.clearJobGroup()
    return rows, job_group_counts(sc, group), executed_node_counts(df)


def _warm_keyword_reads(spark, sf_dir, tag):
    """Fill the postings caches with one pair of reads, then profile a
    second pair for other terms: name -> (rows, jobs, plan nodes)."""
    for df in _keyword_reads(spark, sf_dir, "spark filter").values():
        df.collect()
    return {name: _run_in_group(df, f"{tag}-{name}")
            for name, df in _keyword_reads(spark, sf_dir, "join data query").items()}


def test_keyword_reads_on_built_index_run_one_job(spark, sf_dir):
    """The cached postings carry each document's length and are
    clustered by document: on a built index a bm25 read and a hybrid
    read each run ONE job, and neither plan holds an exchange (no
    shuffle for the per-document aggregation, no broadcast of a length
    table)."""
    for name, (rows, counts, nodes) in _warm_keyword_reads(
            spark, sf_dir, "one-job").items():
        assert rows, name
        assert counts["jobs"] == 1, (name, counts)
        assert "ShuffleExchange" not in nodes, (name, nodes)
        assert "BroadcastExchange" not in nodes, (name, nodes)


def test_bm25_read_plan_same_on_build_and_reload(spark, sf_dir, monkeypatch):
    """A bm25 read executes the same plan whether its postings handle
    came from the build that wrote the artifact or from a reload of the
    written artifact (the reload joins the stored lengths back in)."""
    import shutil

    from weaviate_spark import registry
    from weaviate_spark.operators import bm25 as bm25_mod

    writes = []
    real = bm25_mod._write_index_artifact

    def counted(*args, **kwargs):
        writes.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(bm25_mod, "_write_index_artifact", counted)
    registry.clear()
    shutil.rmtree(bm25_mod.BM25_ARTIFACT_ROOT, ignore_errors=True)
    built = _warm_keyword_reads(spark, sf_dir, "build")["bm25"]
    assert writes == [1]
    registry.clear()
    reloaded = _warm_keyword_reads(spark, sf_dir, "reload")["bm25"]
    assert writes == [1], "the reload rebuilt the index"
    assert reloaded[0] == built[0] and reloaded[0]
    assert reloaded[1]["jobs"] == 1, reloaded[1]
    assert reloaded[2] == built[2]
    registry.clear()


def test_postings_path_scores_identical(spark, sf_dir):
    """The inverted-index (postings with lengths) scoring path must
    produce byte-identical scores to the tokenize-the-corpus path."""
    from dataclasses import replace
    from pyspark.sql import functions as F
    from weaviate_spark.operators.bm25 import (
        BM25Prop, BM25Spec, bm25_score_df, with_materialized_stats,
    )
    from weaviate_spark.sources.tables import load_table

    spec = BM25Spec(
        collection="documents", query="spark filter join data",
        properties=[BM25Prop("text")], id_col="doc_id",
    )
    full = load_table(spark, sf_dir, "documents")
    sp = with_materialized_stats(spec, full, (sf_dir, "documents"))
    assert sp.stats.postings is not None

    def rows(s):
        return sorted(
            (r["doc_id"], r["_score"], r["_terms_matched"])
            for r in bm25_score_df(full, s, corpus_df=full).collect()
        )

    with_postings = rows(sp)
    assert sp.stats.postings.columns == ["prop", "_doc", "_term", "_f", "_len"]
    without = rows(replace(sp, stats=replace(sp.stats, postings=None)))
    assert with_postings == without and len(with_postings) > 0


def test_hybrid_degenerate_alphas(spark, sf_dir):
    """alpha=0 reduces to pure keyword ranking, alpha=1 to pure vector
    ranking (hybrid weights (1-alpha, alpha)); zero-weight legs may
    introduce zero-scored rows but never displace positive scores."""
    from weaviate_spark.operators.bm25 import BM25Prop, BM25Spec, bm25_search
    from weaviate_spark.operators.hybrid import HybridSpec, hybrid_search
    from weaviate_spark.operators.vector import NearVectorSpec, near_vector
    from weaviate_spark.entry_queries import QVEC

    def hybrid_ids(alpha):
        return [r["doc_id"] for r in hybrid_search(spark, sf_dir, HybridSpec(
            collection="docs_embedded", query="spark filter join", vector=QVEC,
            properties=[BM25Prop("text")], id_col="doc_id",
            alpha=alpha, fusion="relativeScore", limit=10,
        )).collect()]

    kw = [r["doc_id"] for r in bm25_search(spark, sf_dir, BM25Spec(
        collection="docs_embedded", query="spark filter join",
        properties=[BM25Prop("text")], id_col="doc_id", limit=10,
    )).collect()]
    vec = [r["doc_id"] for r in near_vector(spark, sf_dir, NearVectorSpec(
        collection="docs_embedded", vector=QVEC, vector_col="embedding",
        id_col="doc_id", limit=10,
    )).collect()]
    assert hybrid_ids(0.0) == kw
    assert hybrid_ids(1.0) == vec


def test_written_stats_tables_prune_and_skip_tokenize(spark, sf_dir):
    """The written inverted-index artifact: postings live on disk
    partitioned by term hash-bucket, and the scoring plan tokenizes NO
    document (VERDICT r05 ask #6)."""
    import os

    from weaviate_spark import registry
    from weaviate_spark.operators.bm25 import (
        BM25_ARTIFACT_ROOT, BM25Prop, BM25Spec, bm25_search,
    )

    import shutil

    registry.clear()
    shutil.rmtree(BM25_ARTIFACT_ROOT, ignore_errors=True)
    try:
        assert not os.path.exists(BM25_ARTIFACT_ROOT)
        spec = BM25Spec(
            collection="documents", query="spark filter join",
            properties=[BM25Prop("text")], id_col="doc_id", limit=20,
        )
        out = bm25_search(spark, sf_dir, spec)
        rows = out.collect()
        assert rows
        # artifact written: postings partitioned by _tb, doclen by prop
        roots = []
        for dirpath, dirnames, _ in os.walk(BM25_ARTIFACT_ROOT):
            if "postings" in dirnames:
                roots.append(dirpath)
        assert roots, "postings artifact not written"
        tb_dirs = [d for d in os.listdir(os.path.join(roots[0], "postings")) if d.startswith("_tb=")]
        assert tb_dirs, "postings not partitioned by term bucket"

        plan = out._jdf.queryExecution().executedPlan().toString()
        # no document tokenization appears anywhere in the query plan
        # (the corpus-recompute path would show the regexp split + explode)
        assert "explode" not in plan.lower(), plan

        # the same query in a way that skips the session memo still reads
        # the written tables (no rebuild: artifact commit marker unchanged)
        marker = None
        for dirpath, _, filenames in os.walk(BM25_ARTIFACT_ROOT):
            for f in filenames:
                if f == "_COMMITTED":
                    marker = os.path.join(dirpath, f)
        assert marker is not None
        mtime = os.path.getmtime(marker)
        bm25_search(spark, sf_dir, spec).collect()
        assert os.path.getmtime(marker) == mtime
    finally:
        registry.clear()


def test_incremental_bm25_artifact_advance(spark, tmp_path):
    """advance_bm25_artifacts: appending a batch advances the WRITTEN
    inverted-index artifact in place (segment appends + delta stat rows
    + O(1) fingerprint re-root) — scores over the grown corpus equal
    the from-scratch recompute path, and the original build is never
    re-run (commit marker survives the rename untouched)."""
    import os

    from weaviate_spark import registry
    from weaviate_spark.operators import bm25 as bm25_mod
    from weaviate_spark.operators.bm25 import (
        BM25Prop, BM25Spec, advance_bm25_artifacts, bm25_search,
    )

    registry.clear()
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        [(1, "spark filter join engine"), (2, "filter pushdown scan"),
         (3, "entirely different topic words")],
        "doc_id long, text string",
    ).write.parquet(f"{sf}/docs.parquet")

    spec = BM25Spec(
        collection="docs", query="spark filter join",
        properties=[BM25Prop("text")], id_col="doc_id", limit=20,
    )
    bm25_search(spark, sf, spec).collect()  # builds + writes the artifact

    import re

    tag = re.sub(r"[^A-Za-z0-9]+", "_", sf.strip("/"))
    marker = None
    for dirpath, _, filenames in os.walk(bm25_mod.BM25_ARTIFACT_ROOT):
        for f in filenames:
            if f == "_COMMITTED" and tag in dirpath:
                marker = os.path.join(dirpath, f)
    assert marker is not None
    # sentinel: survives the advance's rename+append; a full rebuild
    # would recreate the artifact dir without it
    sentinel_name = "_SENTINEL_NOT_REBUILT"
    open(os.path.join(os.path.dirname(marker), sentinel_name), "w").close()

    # append a batch: one doc extends the "spark filter" cluster, one is
    # background — df/avgdl/N all shift
    batch = spark.createDataFrame(
        [(4, "spark join strategies and filter order"),
         (5, "unrelated background noise")],
        "doc_id long, text string",
    )
    fp_before = registry.source_fingerprint(registry.table_path(sf, "docs"))
    batch.write.mode("append").parquet(f"{sf}/docs.parquet")
    advance_bm25_artifacts(batch, sf, "docs", fp_before)

    got = [(r["doc_id"], r["_score"])
           for r in bm25_search(spark, sf, spec).collect()]
    want = [(r["doc_id"], r["_score"])
            for r in bm25_search(spark, sf, spec,
                                 use_stats_tables=False).collect()]
    assert got == want and {d for d, _ in got} >= {1, 4}

    # the artifact advanced by rename + append — the sentinel written
    # after the original build survived (a rebuild would have recreated
    # the dir without it), and exactly one committed artifact exists
    found = []
    for dirpath, _, filenames in os.walk(bm25_mod.BM25_ARTIFACT_ROOT):
        if tag in dirpath and "_COMMITTED" in filenames:
            found.append((dirpath, sentinel_name in filenames))
    assert found == [(found[0][0], True)]
    registry.clear()


def test_bm25_artifact_compaction(spark, tmp_path):
    """compact_bm25_artifacts merges append deltas into single-segment
    form: one stat row per key afterwards, identical scores before and
    after (LSM-compaction value-identity)."""
    import os

    from weaviate_spark import registry
    from weaviate_spark.operators import bm25 as bm25_mod
    from weaviate_spark.operators.bm25 import (
        BM25Prop, BM25Spec, advance_bm25_artifacts, bm25_search,
        compact_bm25_artifacts,
    )

    registry.clear()
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        [(1, "spark filter join engine"), (2, "filter pushdown scan")],
        "doc_id long, text string",
    ).write.parquet(f"{sf}/docs.parquet")
    spec = BM25Spec(
        collection="docs", query="spark filter", limit=20,
        properties=[BM25Prop("text")], id_col="doc_id",
    )
    bm25_search(spark, sf, spec).collect()

    # two appended batches -> three delta generations in the stat tables
    for off, txt in ((3, "spark join order"), (4, "filter scan plans today")):
        batch = spark.createDataFrame([(off, txt)], "doc_id long, text string")
        fp = registry.source_fingerprint(registry.table_path(sf, "docs"))
        batch.write.mode("append").parquet(f"{sf}/docs.parquet")
        advance_bm25_artifacts(batch, sf, "docs", fp)

    before = [(r["doc_id"], r["_score"])
              for r in bm25_search(spark, sf, spec).collect()]
    assert compact_bm25_artifacts(spark, sf, "docs") == 1
    after = [(r["doc_id"], r["_score"])
             for r in bm25_search(spark, sf, spec).collect()]
    assert before == after

    # stat tables are single-generation again: one row per key
    import glob
    import re

    tag = re.sub(r"[^A-Za-z0-9]+", "_", sf.strip("/"))
    ours = [r for r in glob.glob(
        f"{bm25_mod.BM25_ARTIFACT_ROOT}/**/term_df", recursive=True
    ) if tag in r]
    assert len(ours) == 1
    tdf = spark.read.parquet(ours[0]).toPandas()
    assert not tdf.duplicated(subset=["prop", "term"]).any()
    registry.clear()


def test_out_of_band_append_is_visible_on_stats_path(spark, tmp_path):
    """A plain parquet append (what stream_ingest(upsert=False) does
    without bm25=True) must not leave the default stats-table path
    serving the pre-append index: it must equal the recompute path and
    find the appended doc."""
    import os

    from weaviate_spark import registry
    from weaviate_spark.operators.bm25 import BM25Prop, BM25Spec, bm25_search

    registry.clear()
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(1, "spark filter join engine"), (2, "filter pushdown scan"),
         (3, "entirely different topic words")], schema,
    ).write.parquet(f"{sf}/docs.parquet")
    spec = BM25Spec(collection="docs", query="zebra", limit=20,
                    properties=[BM25Prop("text")], id_col="doc_id")
    assert bm25_search(spark, sf, spec).collect() == []  # index built

    spark.createDataFrame([(4, "a zebra crossing")], schema).write.mode(
        "append").parquet(f"{sf}/docs.parquet")
    got = [(r["doc_id"], r["_score"])
           for r in bm25_search(spark, sf, spec).collect()]
    want = [(r["doc_id"], r["_score"])
            for r in bm25_search(spark, sf, spec,
                                 use_stats_tables=False).collect()]
    assert got == want and [d for d, _ in got] == [4]
    registry.clear()


def test_compaction_beside_first_query_on_new_property_set(
        spark, tmp_path, monkeypatch):
    """Compaction holds the artifact lock and releases the collection's
    bm25 entries, while a first query on a new property set holds its
    entry's lock and waits for the artifact lock: both must finish, and
    the query must score like the recompute path."""
    import os
    import threading

    from weaviate_spark import registry
    from weaviate_spark.operators import bm25 as bm25_mod
    from weaviate_spark.operators.bm25 import (
        BM25Prop, BM25Spec, bm25_search, compact_bm25_artifacts,
    )
    from weaviate_spark.sources import artifacts

    registry.clear()
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        [(1, "spark filter", "join engine"), (2, "filter scan", "spark plans")],
        "doc_id long, text string, title string",
    ).write.parquet(f"{sf}/docs.parquet")

    def spec(prop):
        return BM25Spec(collection="docs", query="spark", limit=20,
                        properties=[BM25Prop(prop)], id_col="doc_id")

    bm25_search(spark, sf, spec("text")).collect()  # an artifact to compact

    building = threading.Event()
    real = bm25_mod._load_or_build_index_tables

    def gated(*args, **kwargs):
        building.set()  # inside the entry's build: its lock is held
        return real(*args, **kwargs)

    monkeypatch.setattr(bm25_mod, "_load_or_build_index_tables", gated)
    got, errors = {}, []

    def query():
        try:
            got["title"] = [(r["doc_id"], r["_score"]) for r in
                            bm25_search(spark, sf, spec("title")).collect()]
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    def compact():
        try:
            with artifacts.LOCK:
                querier.start()
                assert building.wait(60)
                got["compacted"] = compact_bm25_artifacts(spark, sf, "docs")
        except Exception as exc:
            errors.append(exc)

    querier = threading.Thread(target=query, daemon=True)
    compactor = threading.Thread(target=compact, daemon=True)
    compactor.start()
    compactor.join(120)
    querier.join(120)
    assert not compactor.is_alive() and not querier.is_alive(), "deadlock"
    assert not errors
    want = [(r["doc_id"], r["_score"]) for r in bm25_search(
        spark, sf, spec("title"), use_stats_tables=False).collect()]
    again = [(r["doc_id"], r["_score"])
             for r in bm25_search(spark, sf, spec("title")).collect()]
    assert got["compacted"] == 1 and got["title"] == want == again
    registry.clear()
