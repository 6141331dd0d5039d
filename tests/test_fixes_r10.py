"""Round-10 regression pins.

VERDICT r09 asks / ADVICE r09 (sections 1-7 below): export slot
owner-checked release + crash recovery + terminal-status preservation;
real (JVM-level) checkpoint release in sssp/kcore; exact library
defaults for substring dedup; userdict query hygiene; SQ bounds cache
key + validation; tokenizer registry epoch with documented
plan-snapshot semantics; bench contention-sentinel shape.

Round-10 features: graph-expand probe radius + hops; wildcard-
preserving LIKE pattern tokenization (multi-term AND); the
change-tokenization migration lifecycle (FINALIZING-window overlay);
alter-schema index enforcement (delete property index, drop vector
index, 'none' sentinel); usage limits (per-namespace object caps,
collection/tenant caps, runtime overrides); hybrid+MMR diversity
balance invariants.

Self-review regressions: hybrid/neighbors vector+searchable gates,
reference-faithful default BM25 property set, upsert_partitioned cap,
registry-overwrite cap exemption, exact-id checkpoint capture sparing
caller caches, hops=0 entries-only, lexicon-only broadcast epoch, and
the COW transaction log's orphaned-claim recovery.
"""
from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.usefixtures("tmp_artifact_roots")


# ---------------------------------------------------------------------------
# export slot + crash recovery


def _orphan_export(backend, export_id):
    """Simulate a hard-killed export: slot file held + non-terminal
    metadata, no live process."""
    from weaviate_spark.sources import export as ex

    os.makedirs(os.path.join(backend, export_id), exist_ok=True)
    with open(ex._slot_path(backend), "w", encoding="utf-8") as fh:
        fh.write(export_id)
    ex._write_meta(backend, export_id, {
        "id": export_id, "backend": backend, "startedAt": ex._now(),
        "status": ex.TRANSFERRING, "classes": ["nation"],
        "shardStatus": {}, "source": "n/a",
    })


def test_export_crash_recovery(spark, sf_dir, tmp_path):
    """An orphaned slot (OOM/SIGKILL mid-export) wedges the backend;
    export_cancel on the orphaned id is the recovery path: it marks
    the export CANCELED, releases the slot, and a fresh export then
    succeeds."""
    from weaviate_spark.sources import export as ex

    backend = str(tmp_path / "backend")
    _orphan_export(backend, "dead")

    with pytest.raises(ex.ExportError, match="already running"):
        ex.export_create(spark, "new1", sf_dir, backend,
                         include=["nation"])

    meta = ex.export_cancel(backend, "dead")
    assert meta["status"] == ex.CANCELED
    assert not os.path.exists(ex._slot_path(backend))

    meta2 = ex.export_create(spark, "new1", sf_dir, backend,
                             include=["nation"])
    assert meta2["status"] == ex.SUCCESS


def test_export_slot_release_is_owner_checked(tmp_path):
    """Cancel of a stale export must NOT free a slot a newer export
    has since reserved (the r09 ADVICE race): _release_slot deletes
    only when the slot file's content equals the caller's id."""
    from weaviate_spark.sources import export as ex

    backend = str(tmp_path / "backend")
    _orphan_export(backend, "old")
    # a newer export has taken over the slot in the meantime
    with open(ex._slot_path(backend), "w", encoding="utf-8") as fh:
        fh.write("newer")

    ex.export_cancel(backend, "old")  # cancels 'old', but...
    # ...the slot still belongs to 'newer' — untouched
    with open(ex._slot_path(backend), encoding="utf-8") as fh:
        assert fh.read().strip() == "newer"

    ex._release_slot(backend, "newer")
    assert not os.path.exists(ex._slot_path(backend))


def test_export_progress_write_never_regresses_terminal(tmp_path):
    """The scan loop's shardStatus updates must not flip a CANCELED
    status (written concurrently by export_cancel) back to
    TRANSFERRING."""
    from weaviate_spark.sources import export as ex

    backend = str(tmp_path / "backend")
    meta = {
        "id": "e1", "backend": backend, "startedAt": ex._now(),
        "status": ex.CANCELED, "completedAt": ex._now(),
        "classes": ["nation"], "shardStatus": {}, "source": "n/a",
    }
    ex._write_meta(backend, "e1", meta)

    # a racing progress write from inside the (not yet aware) loop
    loop_view = dict(meta)
    loop_view["status"] = ex.TRANSFERRING
    loop_view["shardStatus"] = {"nation": {
        "status": ex.SHARD_TRANSFERRING, "objectsExported": 0}}
    ex._write_progress(backend, "e1", loop_view)

    on_disk = ex.read_metadata(backend, "e1")
    assert on_disk["status"] == ex.CANCELED          # preserved
    assert "nation" in on_disk["shardStatus"]        # progress landed


# ---------------------------------------------------------------------------
# graph checkpoint release


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_sssp_releases_generations(spark):
    """8 relaxation rounds must not leave 8 checkpointed generations
    pinned: after the call, at most the FINAL generation's blocks (plus
    the edge cache) remain registered. Dataset.unpersist() alone was a
    verified no-op here — this pins the JVM-level release."""
    from weaviate_spark.operators.graph import sssp

    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(30)] + [(0, 15, 20.0)],
        "src long, dst long, w double",
    )
    before = _persistent_rdd_count(spark)
    out = {r["node"]: r["distance"] for r in sssp(
        edges, source=0, iterations=8).collect()}
    after = _persistent_rdd_count(spark)
    assert out[8] == 8.0
    # 8 rounds relax <= 8-hop paths: node 15's 15-hop chain is out of
    # reach, so the direct 20.0 edge is the tentative distance
    assert out[15] == 20.0
    # 8 rounds => without release this grows by >= 8; with release the
    # live frame + edge cache account for <= 2
    assert after - before <= 2, (before, after)


def test_kcore_releases_generations(spark):
    from weaviate_spark.operators.graph import kcore_peel

    # a 6-clique with pendant chains: 3-core = the clique
    clique = [(a, b) for a in range(6) for b in range(6) if a < b]
    pendants = [(i, 100 + i) for i in range(6)]
    edges = spark.createDataFrame(clique + pendants, "src long, dst long")
    before = _persistent_rdd_count(spark)
    nodes = {r["node"] for r in kcore_peel(edges, k=3, rounds=6).collect()}
    after = _persistent_rdd_count(spark)
    assert nodes == set(range(6))
    assert after - before <= 2, (before, after)


# ---------------------------------------------------------------------------
# library-default policy


def test_substring_pairs_default_is_exact():
    import inspect

    from weaviate_spark.operators.dedup import duplicated_substring_pairs

    sig = inspect.signature(duplicated_substring_pairs)
    assert sig.parameters["max_docs_per_fingerprint"].default is None


# ---------------------------------------------------------------------------
# user-dict query hygiene


def test_userdict_query_leaves_registry_clean(spark, sf_dir):
    from weaviate_spark.entry_queries import QUERIES
    from weaviate_spark.functions.text import _CUSTOM_DICTS

    rows = QUERIES["text_userdict_tokens"](spark, sf_dir).collect()
    assert rows, "fixture query must produce tokens"
    toks = [r["token"] for r in rows if r["doc_id"] == rows[0]["doc_id"]]
    assert toks[:2] == ["We", "Aviate"]
    assert "SemiTechnologies" in toks
    # the plan snapshotted the replacements; the registry entry must be
    # gone so later queries against a class named 'UserDocs' are clean
    assert "UserDocs" not in _CUSTOM_DICTS


# ---------------------------------------------------------------------------
# SQ bounds cache key + validation


def test_sq_bounds_validation_and_cache_key(spark, sf_dir):
    from weaviate_spark import registry
    from weaviate_spark.operators import quantization as qz

    with pytest.raises(ValueError, match="clip_quantile"):
        qz.sq_trained_bounds(spark, sf_dir, "embeddings",
                             clip_quantile=0.5)
    with pytest.raises(ValueError, match="clip_quantile"):
        qz.sq_trained_bounds(spark, sf_dir, "embeddings",
                             clip_quantile=-0.1)

    registry.clear()
    b1 = qz.sq_trained_bounds(spark, sf_dir, "embeddings",
                              clip_quantile=0.01, sample_cap=50)
    b2 = qz.sq_trained_bounds(spark, sf_dir, "embeddings",
                              clip_quantile=0.01, sample_cap=200_000)
    # distinct cache entries — a different sample_cap can no longer
    # silently serve bounds trained under the other cap
    caps = {k[1][-1] for k in registry.View("sq_bounds")}
    assert caps == {50, 200_000}
    assert all(len(b) == 2 for b in (b1, b2))


# ---------------------------------------------------------------------------
# tokenizer registry epoch + snapshot semantics


def test_tokenizer_registry_epoch_and_snapshot(spark):
    from weaviate_spark.functions import text as T

    e0 = T.tokenizer_registry_epoch()
    T.add_custom_dict("EpochCls", None)
    assert T.tokenizer_registry_epoch() == e0 + 1
    T.load_frequency_lexicon(["测试词组\t10"])
    assert T.tokenizer_registry_epoch() == e0 + 2
    T.clear_runtime_lexicon()
    assert T.tokenizer_registry_epoch() == e0 + 3

    # DOCUMENTED snapshot semantics: a plan built before registration
    # keeps the registry state it was built under...
    df = spark.createDataFrame([("Weaviate rocks",)], ["t"])
    before_plan = df.select(
        T.tokenize_for_class(F.col("t"), "kagome_kr", "EpochCls")
        .alias("tok"))
    T.add_custom_dict("EpochCls", [{
        "tokenizer": "kagome_kr",
        "replacements": [{"source": "Weaviate", "target": "We Aviate"}],
    }])
    try:
        assert before_plan.collect()[0]["tok"] == ["weaviate", "rocks"]
        # ...and a plan REBUILT after registration sees the new dict
        after_plan = df.select(
            T.tokenize_for_class(F.col("t"), "kagome_kr", "EpochCls")
            .alias("tok"))
        assert after_plan.collect()[0]["tok"] == ["We", "Aviate", "rocks"]
    finally:
        T.add_custom_dict("EpochCls", None)


# ---------------------------------------------------------------------------
# bench sentinel shape


def test_bench_emits_calibration_fields():
    """bench.py's JSON must carry the contention sentinel (reference
    time, before/after calibration, loadavg, contended flag) — shape
    check only; the actual run happens in the driver lane."""
    import re

    src = open(os.path.join(os.path.dirname(__file__), "..",
                            "bench.py")).read()
    for field in ("calibration", "reference_sec", "before_sec",
                  "after_sec", "loadavg_before", "contended"):
        assert f'"{field}"' in src
    assert re.search(r"CAL_REF\s*=\s*[\d.]+", src)


# ---------------------------------------------------------------------------
# graph-expanded search: probe radius >= 2 + multi-hop expansion (r10)


def test_graph_expand_probe_radius_and_hops(spark, tmp_path):
    """Wider probe radius and deeper hops are monotone: the candidate
    set (and therefore recall) can only grow, and on a ring corpus a
    probe-3/hops-2 off-corpus query reaches the exact top-k that the
    probe-1/hops-1 configuration can miss. Pins the r10 off-corpus
    attempt mechanics (the 1M measurement lives in BENCH_ANN_1M_r10)."""
    import math

    from weaviate_spark import registry
    from weaviate_spark.operators.similarity import graph_expand_topk

    rows = []
    for i in range(96):
        a = 2 * math.pi * i / 96
        rows.append((i, [math.cos(a), math.sin(a)] + [0.0] * 6))
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{d}/embeddings.parquet")

    # an OFF-corpus query between ring points 10 and 11
    a = 2 * math.pi * 10.5 / 96
    q = [math.cos(a), math.sin(a)] + [0.0] * 6

    def ids(probe, hops):
        registry.clear()
        return [r["vec_id"] for r in graph_expand_topk(
            spark, d, "embeddings", q, k=5, probe=probe, hops=hops,
            on_corpus=False,
        ).collect()]

    base = ids(1, 1)
    wide = ids(3, 2)
    # ground truth: the 5 ring points nearest the query angle
    truth = {10, 11, 9, 12, 8}
    assert set(wide) == truth, wide
    assert len(set(base) & truth) <= len(set(wide) & truth)


# ---------------------------------------------------------------------------
# wildcard-preserving LIKE pattern tokenization (r10)


def test_tokenize_with_wildcards_reference_fixture():
    """Ported from entities/tokenizer/tokenizer_test.go:186-209
    (TokenizeWithWildcardsForClass): word mode keeps * and ? in the
    terms; other modes fall back to the plain tokenizer."""
    from weaviate_spark.functions.text import tokenize_with_wildcards_py

    canon = " Hello You*-beautiful_world?!"
    assert tokenize_with_wildcards_py(canon, "word") == [
        "hello", "you*", "beautiful", "world?"]
    assert tokenize_with_wildcards_py(canon, "whitespace") == [
        "Hello", "You*-beautiful_world?!"]
    assert tokenize_with_wildcards_py(canon, "field") == [canon.strip()]


def test_tokenized_like_multi_term_pattern(spark):
    """searcher.go:890-937: a LIKE pattern that tokenizes into several
    wildcard terms requires EVERY term to match some token (AND) — the
    old behavior treated the whole pattern as one token regex, which
    could never match a multi-word pattern on word-tokenized text."""
    from weaviate_spark.filters import Clause, apply_where

    df = spark.createDataFrame(
        [("The quick fox",), ("quince jam fox",), ("slow fox",)], ["t"])
    out = apply_where(df, Clause(
        operator="Like", path=["t"], value="qui* fo?",
        tokenization="word"))
    assert sorted(r["t"] for r in out.collect()) == [
        "The quick fox", "quince jam fox"]
    # uppercase pattern folds like the reference's query analysis
    out2 = apply_where(df, Clause(
        operator="Like", path=["t"], value="Qui*", tokenization="word"))
    assert sorted(r["t"] for r in out2.collect()) == [
        "The quick fox", "quince jam fox"]


# ---------------------------------------------------------------------------
# change-tokenization migration (retokenize reindex, r10)


def test_change_tokenization_migration(spark, tmp_path):
    """Full retokenize lifecycle (inverted_reindexer_searchable_
    retokenize.go + inverted/tokenization.go): the new-generation BM25
    artifact is built while the old keeps serving; a query landing in
    the FINALIZING window (overlay active, schema still old) analyzes
    against the NEW tokenization; after DONE the schema object answers
    by itself and results reflect the new analysis."""
    from weaviate_spark.operators.bm25 import BM25Prop, BM25Spec, bm25_search
    from weaviate_spark.schema import Collection, Property
    from weaviate_spark.sources.retokenize import (
        RetokenizeError, change_tokenization, resolve_tokenization,
    )

    # 'word' strips punctuation; 'whitespace' keeps it case-sensitive —
    # so a query for 'Fox!' matches nothing under word analysis but
    # matches docs 1/3 under whitespace analysis
    rows = [(1, "the quick Fox! runs"), (2, "a fox sleeps"),
            (3, "Fox! and hound"), (4, "no match here")]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, body string").write.parquet(
        f"{sf}/animals.parquet")
    coll = Collection("animals", [Property("body", "text")])

    def search(q):
        # real callers build BM25Prop from the schema object — that is
        # what makes the post-DONE flip effective without an overlay
        spec = BM25Spec(
            collection="animals", query=q,
            properties=[BM25Prop(
                "body",
                tokenization=coll.property("body").tokenization)],
            id_col="doc_id", stopwords=None)
        return sorted(r["doc_id"] for r in
                      bm25_search(spark, sf, spec).collect())

    assert search("fox") == [1, 2, 3]      # word analysis
    assert search("Fox!") == [1, 2, 3]     # folded to 'fox' under word

    probes = {}

    def probe(phase_name):
        if phase_name == "FINALIZING":
            # overlay answers NEW while the schema object is still OLD
            probes["overlay"] = resolve_tokenization(
                "animals", "body", coll.property("body").tokenization)
            probes["schema_tok"] = coll.property("body").tokenization
            probes["window_hits"] = search("Fox!")

    st = change_tokenization(spark, sf, coll, "body", "whitespace",
                             id_col="doc_id", on_phase=probe)
    assert [p for p, _ in st["phases"]] == [
        "STARTED", "REBUILDING", "FINALIZING", "DONE"]
    assert probes["schema_tok"] == "word"          # flip not yet committed
    assert probes["overlay"] == "whitespace"       # overlay already NEW
    assert probes["window_hits"] == [1, 3]         # NEW analysis in window
    assert coll.property("body").tokenization == "whitespace"
    assert search("Fox!") == [1, 3]                # post-migration schema
    assert search("fox") == [2]                    # case-sensitive now

    with pytest.raises(RetokenizeError, match="already uses"):
        change_tokenization(spark, sf, coll, "body", "whitespace",
                            id_col="doc_id")


# ---------------------------------------------------------------------------
# hybrid + MMR diversity selection (r10; hybrid_diversity acceptance)


def test_hybrid_mmr_balance_invariants(spark, sf_dir):
    """test/acceptance/hybrid_diversity/hybrid_diversity_test.go:
    MMR over the fused hybrid window with balance=1 (pure relevance)
    must reproduce the plain hybrid order; balance=0 (pure diversity)
    must reorder on a corpus with clustered vectors."""
    from pyspark.sql import functions as F

    from weaviate_spark.entry_queries import QVEC
    from weaviate_spark.operators.bm25 import BM25Prop
    from weaviate_spark.operators.hybrid import HybridSpec, hybrid_search
    from weaviate_spark.operators.rerank import mmr_select

    fused = hybrid_search(spark, sf_dir, HybridSpec(
        collection="docs_embedded", query="spark filter join", vector=QVEC,
        properties=[BM25Prop("text")], id_col="doc_id",
        alpha=0.75, fusion="relativeScore", limit=20,
    )).select("doc_id", "_score")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), "embedding")
    rows = [
        {"doc_id": r["doc_id"], "rel": float(r["_score"]),
         "embedding": [float(x) for x in r["embedding"]]}
        for r in fused.join(emb, "doc_id")
        .orderBy(F.col("_score").desc(), F.col("doc_id").asc()).collect()
    ]
    assert len(rows) >= 8
    baseline = [r["doc_id"] for r in rows][:8]
    b1 = [r["doc_id"] for r in
          mmr_select(rows, "embedding", "rel", k=8, balance=1.0)]
    b0 = [r["doc_id"] for r in
          mmr_select(rows, "embedding", "rel", k=8, balance=0.0)]
    assert b1 == baseline, "balance=1 must not reorder vs plain hybrid"
    assert b0 != baseline, "balance=0 must reorder for diversity"


# ---------------------------------------------------------------------------
# alter-schema: delete property index / drop vector index (r10)


def test_alter_schema_index_enforcement(spark, sf_dir):
    """test/acceptance/alter_schema/: deleting a property's inverted
    index makes filters on it fail with the reference's exact error
    text; dropping the vector index flips the type to the 'none'
    sentinel and rejects vector search while filters/BM25 and further
    schema updates keep working; setting 'none' directly is rejected."""
    from weaviate_spark import client as C
    from weaviate_spark.schema import (
        Collection, MissingIndexError, Property, Registry,
        VectorIndexDroppedError, delete_property_index,
        drop_vector_index, validate_vector_index_type,
    )
    from weaviate_spark.filters import Clause

    coll = Collection("embeddings", [
        Property("vec_id", "int"),
        Property("label", "int"),
    ], vector_dim=64)
    reg = Registry()
    reg.add(coll)
    cl = C.connect(spark, sf_dir, registry=reg)
    h = cl.collections.get("embeddings").with_config(
        id_col="vec_id", vector_col="embedding")

    flt = Clause(operator="Equal", path=["label"], value=3)
    assert h.query.fetch_objects(filters=flt, limit=5).count() == 5
    qv = [0.1] * 64
    assert h.query.near_vector(qv, limit=3).count() == 3

    # delete the property's index -> the reference's exact error text
    delete_property_index(coll, "label")
    with pytest.raises(MissingIndexError,
                       match="Is `indexFilterable` option of property "
                             "'label' enabled"):
        h.query.fetch_objects(filters=flt, limit=5)
    # other properties unaffected
    assert h.query.fetch_objects(
        filters=Clause(operator="Equal", path=["vec_id"], value=7),
        limit=1).count() == 1

    # drop the vector index: sentinel observable, searches rejected
    drop_vector_index(coll)
    assert coll.vector_index_type == "none"
    with pytest.raises(VectorIndexDroppedError, match="has been dropped"):
        h.query.near_vector(qv, limit=3)
    with pytest.raises(VectorIndexDroppedError):
        h.query.near_object(7, limit=3)
    # update-after-drop: non-vector reads + further schema updates work
    assert h.query.fetch_objects(limit=2).count() == 2
    delete_property_index(coll, "vec_id")  # still mutable post-drop

    # the 'none' sentinel cannot be set directly
    with pytest.raises(ValueError, match="reserved for dropped"):
        validate_vector_index_type("none")
    with pytest.raises(ValueError, match="unknown vector index type"):
        validate_vector_index_type("ivfflat")


def test_alter_schema_searchable_enforcement(spark, sf_dir):
    """BM25 on a property whose searchable index was deleted fails with
    the reference's indexSearchable error text."""
    from weaviate_spark import client as C
    from weaviate_spark.schema import (
        Collection, MissingIndexError, Property, Registry,
        delete_property_index,
    )

    coll = Collection("documents", [
        Property("doc_id", "int"),
        Property("text", "text"),
    ])
    reg = Registry()
    reg.add(coll)
    cl = C.connect(spark, sf_dir, registry=reg)
    h = cl.collections.get("documents").with_config(id_col="doc_id")

    assert h.query.bm25("scan table", limit=5).count() == 5
    delete_property_index(coll, "text", filterable=False, searchable=True)
    # EXPLICIT property -> the reference's indexSearchable error
    with pytest.raises(MissingIndexError,
                       match="Is `indexSearchable` option of property "
                             "'text' enabled"):
        h.query.bm25("scan table", query_properties=["text"], limit=5)
    # DEFAULT property set (index.go:2239-2258): unsearchable props are
    # EXCLUDED, and when none remain the WEAVIATE-471 error fires
    with pytest.raises(ValueError,
                       match="No properties provided, and no indexed "
                             "properties found in class"):
        h.query.bm25("scan table", limit=5)
    # hybrid's keyword leg enforces the same rule (review finding #1:
    # hybrid used to bypass enforcement entirely)
    with pytest.raises(MissingIndexError):
        h.query.hybrid("scan table", vector=None, alpha=0.5,
                       query_properties=["text"], limit=5)


# ---------------------------------------------------------------------------
# usage limits (r10; usecases/usagelimits + namespace_limits acceptance)


def test_usage_limits_objects_per_namespace(spark, tmp_path):
    """Object cap enforced at the write chokepoints, scoped per
    namespace via the qualified class name (manager.go:20-23,84-88):
    a batch that would cross the cap is rejected WHOLE with the typed
    error (stable code USAGE_LIMIT_EXCEEDED, operator template
    rendered), a different namespace is unaffected, and raising the
    runtime-overridable cap unblocks without restart."""
    from weaviate_spark import usage_limits as UL
    from weaviate_spark.sources import crud

    root = str(tmp_path)
    spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]).write.parquet(
        f"{root}/ns1:Docs.parquet")
    spark.createDataFrame([(1, "x")], ["k", "v"]).write.parquet(
        f"{root}/ns2:Docs.parquet")

    cap = {"objects": 3}
    UL.set_usage_limits(UL.LimitConfig(
        max_objects=lambda: cap["objects"],
        error_template="{limit} capped at {value} — upgrade at "
                       "example.test/plans",
    ))
    try:
        add = spark.createDataFrame([(3, "c"), (4, "d")], ["k", "v"])
        with pytest.raises(UL.LimitExceededError) as ei:
            crud.upsert(spark, f"{root}/ns1:Docs.parquet", add, "k")
        assert ei.value.error_code == "USAGE_LIMIT_EXCEEDED"
        assert ei.value.limit == "objects" and ei.value.value == 3
        assert "upgrade at example.test/plans" in str(ei.value)
        # whole-batch rejection: nothing landed
        assert spark.read.parquet(f"{root}/ns1:Docs.parquet").count() == 2
        # ns2 counts separately: 1 + 2 <= 3 passes
        crud.upsert(spark, f"{root}/ns2:Docs.parquet", add, "k")
        assert spark.read.parquet(f"{root}/ns2:Docs.parquet").count() == 3
        # runtime override (DynamicValue re-read per check): raise the
        # cap, the same write now lands
        cap["objects"] = 10
        crud.upsert(spark, f"{root}/ns1:Docs.parquet", add, "k")
        assert spark.read.parquet(f"{root}/ns1:Docs.parquet").count() == 4
    finally:
        UL.set_usage_limits(None)


def test_usage_limits_collections_and_tenants(spark, tmp_path):
    from weaviate_spark import usage_limits as UL
    from weaviate_spark.schema import Collection, Registry
    from weaviate_spark.sources.crud import TenantRegistry

    UL.set_usage_limits(UL.LimitConfig(
        max_collections=1, max_tenants_per_collection=2))
    try:
        reg = Registry()
        reg.add(Collection("A"))
        with pytest.raises(UL.LimitExceededError) as ei:
            reg.add(Collection("B"))
        assert ei.value.limit == "collections"
        # default template text (template.go)
        assert "collections count limit of 1 reached" in str(ei.value)

        tr = TenantRegistry(str(tmp_path / "t.parquet"), "_tenant")
        tr.create("t1")
        tr.create("t2")
        with pytest.raises(UL.LimitExceededError) as ei2:
            tr.create("t3")
        assert ei2.value.limit == "tenants" and ei2.value.value == 2
    finally:
        UL.set_usage_limits(None)


def test_usage_limits_inactive_is_free(spark, tmp_path):
    """Without a configured manager the chokepoints are no-ops — no
    counting jobs run (the common case must stay zero-cost)."""
    from weaviate_spark.sources import crud

    root = str(tmp_path)
    spark.createDataFrame([(1, "a")], ["k", "v"]).write.parquet(
        f"{root}/T.parquet")
    crud.upsert(spark, f"{root}/T.parquet",
                spark.createDataFrame([(2, "b")], ["k", "v"]), "k")
    assert spark.read.parquet(f"{root}/T.parquet").count() == 2


# ---------------------------------------------------------------------------
# review-pass regressions (r10 self-review findings)


def test_hybrid_and_neighbors_respect_dropped_vector_index(spark, sf_dir):
    """Review finding: hybrid() and neighbors() bypassed the vector
    gate — the vector leg of a hybrid and the neighbors route must
    reject after drop_vector_index, same as near_vector."""
    from weaviate_spark import client as C
    from weaviate_spark.schema import (
        Collection, Property, Registry, VectorIndexDroppedError,
        drop_vector_index,
    )

    coll = Collection("embeddings", [
        Property("vec_id", "int"), Property("label", "int"),
    ], vector_dim=64)
    reg = Registry()
    reg.add(coll)
    cl = C.connect(spark, sf_dir, registry=reg)
    h = cl.collections.get("embeddings").with_config(
        id_col="vec_id", vector_col="embedding")
    drop_vector_index(coll)
    with pytest.raises(VectorIndexDroppedError):
        h.query.hybrid("x", vector=[0.1] * 64, alpha=0.5, limit=3)
    with pytest.raises(VectorIndexDroppedError):
        h.query.neighbors(7, limit=3)


def test_upsert_partitioned_respects_object_cap(spark, tmp_path):
    """Review finding: upsert_partitioned lacked the usage-limit
    chokepoint — the documented path for partitioned tables must
    enforce the same cap as upsert."""
    from weaviate_spark import usage_limits as UL
    from weaviate_spark.sources import crud

    root = str(tmp_path)
    spark.createDataFrame(
        [(1, "a", "t1"), (2, "b", "t2")], ["k", "v", "p"]
    ).write.partitionBy("p").parquet(f"{root}/T.parquet")
    UL.set_usage_limits(UL.LimitConfig(max_objects=2))
    try:
        add = spark.createDataFrame([(3, "c", "t1")], ["k", "v", "p"])
        with pytest.raises(UL.LimitExceededError):
            crud.upsert_partitioned(spark, f"{root}/T.parquet", add,
                                    "k", "p")
    finally:
        UL.set_usage_limits(None)


def test_registry_overwrite_not_blocked_by_collection_cap():
    """Review finding: replacing an existing collection (a schema
    update) must not count against the collection cap."""
    from weaviate_spark import usage_limits as UL
    from weaviate_spark.schema import Collection, Property, Registry

    UL.set_usage_limits(UL.LimitConfig(max_collections=1))
    try:
        reg = Registry()
        reg.add(Collection("A"))
        reg.add(Collection("A", [Property("x", "text")]))  # update: OK
        assert reg.resolve("A").properties
        with pytest.raises(UL.LimitExceededError):
            reg.add(Collection("B"))
    finally:
        UL.set_usage_limits(None)


def test_checkpoint_release_spares_caller_cache(spark):
    """Review finding: the before/after persistent-RDD diff could
    capture a caller's lazily-cached frame materializing inside the
    eager checkpoint job and force-unpersist it. The exact-id capture
    (LogicalRDD.rdd().id()) must leave the caller's cache alone."""
    from weaviate_spark.operators.graph import sssp

    caller_cached = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(20)],
        "src long, dst long, w double",
    ).cache()  # LAZY: materializes inside sssp's first checkpoint job
    out = {r["node"]: r["distance"]
           for r in sssp(caller_cached, iterations=4).collect()}
    assert out[4] == 4.0
    # the caller's cache must still be alive and usable
    assert caller_cached.storageLevel.useMemory
    assert caller_cached.count() == 20
    caller_cached.unpersist()


def test_graph_expand_hops_zero_is_entries_only(spark, tmp_path):
    """Review finding: hops=0 was silently coerced to one hop."""
    import math

    from weaviate_spark import registry
    from weaviate_spark.operators.similarity import graph_expand_topk

    rows = []
    for i in range(48):
        a = 2 * math.pi * i / 48
        rows.append((i, [math.cos(a), math.sin(a)] + [0.0] * 6))
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{d}/embeddings.parquet")
    registry.clear()
    q = rows[5][1]
    out = graph_expand_topk(spark, d, "embeddings", q, k=3, hops=0,
                            on_corpus=True)
    got = [r["vec_id"] for r in out.collect()]
    assert got and got[0] == 5  # entries-only rescoring still returns


def test_lexicon_epoch_independent_of_user_dicts():
    """Review finding: the ~8 MB lexicon broadcast was keyed on the
    shared registry epoch, so user-dict registrations forced pointless
    re-merges and re-broadcasts. The lexicon epoch must move only on
    lexicon mutations."""
    from weaviate_spark.functions import text as T

    le0 = T.lexicon_epoch()
    re0 = T.tokenizer_registry_epoch()
    T.add_custom_dict("EpochX", None)
    assert T.tokenizer_registry_epoch() == re0 + 1
    assert T.lexicon_epoch() == le0          # unchanged
    T.load_frequency_lexicon(["词典条目\t5"])
    assert T.lexicon_epoch() == le0 + 1      # lexicon mutation bumps
    T.clear_runtime_lexicon()
    assert T.lexicon_epoch() == le0 + 2


# ---------------------------------------------------------------------------
# CRUD claim crash recovery (r10 — the OCC analogue of the export slot
# recovery the verdict asked for)


def test_recover_orphaned_claims(spark, tmp_path):
    """A writer hard-killed between claim and commit leaves an
    orphaned .claim marker that blocks every future write on that
    version with ConcurrentWriteError; recover_orphaned_claims removes
    exactly the claims without commits (never a committed version's
    markers) and writes proceed."""
    from weaviate_spark.sources import crud

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], ["k", "v"]).write.parquet(path)
    crud.upsert(spark, path,
                spark.createDataFrame([(2, "b")], ["k", "v"]), "k")
    v = crud.table_version(path)
    assert v == 1

    # simulate the crash: claim v+1, never commit
    crud._claim_version(path, v, staging="/nonexistent-staging")
    with pytest.raises(crud.ConcurrentWriteError, match="claimed"):
        crud.upsert(spark, path,
                    spark.createDataFrame([(3, "c")], ["k", "v"]), "k")

    recovered = crud.recover_orphaned_claims(path)
    assert recovered == [v + 1]
    # committed versions' markers are untouched; version unchanged
    assert crud.table_version(path) == v

    crud.upsert(spark, path,
                spark.createDataFrame([(3, "c")], ["k", "v"]), "k")
    assert crud.table_version(path) == v + 1
    assert spark.read.parquet(path).count() == 3
