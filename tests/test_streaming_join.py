"""Stream-stream interval join (purchase_attribution_join): streaming
replay must equal the batch run (unified model), and the streaming plan
must carry watermarks on BOTH sides so join state is bounded."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.usefixtures("tmp_artifact_roots")


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    from weaviate_spark.sources.tables import load_table
    from weaviate_spark.streaming.ingest import purchase_attribution_join

    events = load_table(spark, sf_dir, "events")
    batch = {
        (r["purchase_id"], r["click_id"], r["lag_sec"])
        for r in purchase_attribution_join(
            events.where(F.col("event_type") == "purchase"),
            events.where(F.col("event_type") == "click"),
            window_minutes=240,
        ).collect()
    }
    assert batch  # non-trivial at sf0.001 too

    src = str(tmp_path / "ev_src")
    events.write.parquet(src)
    p_stream = (
        spark.readStream.schema(events.schema).parquet(src)
        .where(F.col("event_type") == "purchase")
    )
    c_stream = (
        spark.readStream.schema(events.schema).parquet(src)
        .where(F.col("event_type") == "click")
    )
    joined = purchase_attribution_join(p_stream, c_stream, window_minutes=240)
    assert joined.isStreaming
    q = (
        joined.writeStream.outputMode("append")
        .format("memory").queryName("attrib")
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(180)  # False = still running: timed out
    streamed = {
        (r["purchase_id"], r["click_id"], r["lag_sec"])
        for r in spark.sql("SELECT * FROM attrib").collect()
    }
    assert streamed == batch


def test_stream_stream_join_state_is_bounded(spark, sf_dir, tmp_path):
    """The analyzed streaming plan must show event-time watermarks on
    both inputs — the precondition for Spark to expire join state via
    the range predicate instead of buffering both streams forever."""
    from weaviate_spark.sources.tables import load_table
    from weaviate_spark.streaming.ingest import purchase_attribution_join

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ev_src2")
    events.write.parquet(src)
    mk = lambda t: (  # noqa: E731
        spark.readStream.schema(events.schema).parquet(src)
        .where(F.col("event_type") == t)
    )
    joined = purchase_attribution_join(mk("purchase"), mk("click"))
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2, plan


def test_stream_ingest_maintains_dedup_index(spark, tmp_path):
    """Per-micro-batch index maintenance: after the stream drains, the
    PERSISTED shingle/signature tables already contain the new docs and
    a minhash query finds the cross-batch near-dup pair — equal to a
    from-scratch rebuild."""
    from weaviate_spark import registry
    from weaviate_spark.operators.dedup import (
        minhash_lsh_pairs, with_shingle_table,
    )
    from weaviate_spark.streaming.ingest import stream_ingest_with_index_maintenance

    base = "the quick brown fox jumps over the lazy dog again and again today"
    schema = "doc_id long, text string"
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    key = ("stream-dedup", "docs")
    registry.clear()

    # standing corpus: doc 1 (indexed at rest)
    corpus0 = spark.createDataFrame([(1, base)], schema)
    corpus0.write.parquet(tgt)
    with_shingle_table(spark.read.parquet(tgt), "doc_id", "text", 3, key)

    # stream in doc 2 (near-dup of 1) + unrelated doc 3
    spark.createDataFrame(
        [(2, base + " tomorrow"),
         (3, "unrelated words describing entirely different topics")],
        schema,
    ).write.parquet(src)
    q = stream_ingest_with_index_maintenance(
        spark, src, schema, tgt, "doc_id", dedup_index_key=key,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120)  # False = still running: timed out

    grown = spark.read.parquet(tgt)
    got = sorted(
        (p["id_a"], p["id_b"])
        for p in minhash_lsh_pairs(
            grown, "doc_id", "text", jaccard_threshold=0.5, table_key=key
        ).collect()
    )
    registry.clear()
    want = sorted(
        (p["id_a"], p["id_b"])
        for p in minhash_lsh_pairs(
            grown, "doc_id", "text", jaccard_threshold=0.5,
            table_key=("fresh-stream", "docs"),
        ).collect()
    )
    assert got == want == [(1, 2)]
    registry.clear()


def test_stream_ingest_upsert_sink_replaces_by_id(spark, tmp_path):
    """upsert=True sink: a re-arrived id REPLACES its row in the table
    (crud MERGE per batch) and the maintained index matches a rebuild
    over the upserted table — table and index stay consistent for
    update streams."""
    from weaviate_spark import registry
    from weaviate_spark.operators.dedup import (
        minhash_lsh_pairs, with_shingle_table,
    )
    from weaviate_spark.streaming.ingest import stream_ingest_with_index_maintenance

    base = "the quick brown fox jumps over the lazy dog again and again today"
    schema = "doc_id long, text string"
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    key = ("stream-upsert", "docs")
    registry.clear()

    # standing corpus: doc 1 + doc 2 (doc 2 unrelated), indexed at rest
    spark.createDataFrame(
        [(1, base), (2, "unrelated words describing entirely different topics")],
        schema,
    ).write.parquet(tgt)
    with_shingle_table(spark.read.parquet(tgt), "doc_id", "text", 3, key)

    # stream UPDATES doc 2 into a near-dup of 1 and adds doc 3
    spark.createDataFrame(
        [(2, base + " tomorrow"), (3, "still unrelated filler content entirely")],
        schema,
    ).write.parquet(src)
    q = stream_ingest_with_index_maintenance(
        spark, src, schema, tgt, "doc_id", dedup_index_key=key,
        checkpoint_dir=str(tmp_path / "ckpt"), upsert=True,
    )
    assert q.awaitTermination(120)  # False = still running: timed out

    table = spark.read.parquet(tgt)
    rows = {r["doc_id"]: r["text"] for r in table.collect()}
    assert len(rows) == 3 and rows[2] == base + " tomorrow"  # replaced, not duplicated

    got = sorted(
        (p["id_a"], p["id_b"])
        for p in minhash_lsh_pairs(
            table, "doc_id", "text", jaccard_threshold=0.5, table_key=key
        ).collect()
    )
    registry.clear()
    want = sorted(
        (p["id_a"], p["id_b"])
        for p in minhash_lsh_pairs(
            table, "doc_id", "text", jaccard_threshold=0.5,
            table_key=("fresh-upsert", "docs"),
        ).collect()
    )
    assert got == want == [(1, 2)]
    registry.clear()


def test_stream_ingest_maintains_bm25_and_dedup(spark, tmp_path):
    """stream_ingest_with_index_maintenance advances BOTH the near-dup
    index and the written BM25 inverted-index artifact per micro-batch:
    after the stream drains, BM25 scores over the grown table equal the
    from-scratch recompute path WITHOUT a corpus rebuild, and the
    near-dup index finds the cross-batch pair."""
    import os
    import re

    from weaviate_spark.operators import bm25 as bm25_mod
    from weaviate_spark import registry
    from weaviate_spark.operators.bm25 import BM25Prop, BM25Spec, bm25_search
    from weaviate_spark.operators.dedup import (
        minhash_lsh_pairs, with_shingle_table,
    )
    from weaviate_spark.streaming.ingest import (
        stream_ingest_with_index_maintenance,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    schema = "doc_id long, text string"
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    src, tgt = str(tmp_path / "src"), f"{sf}/docs.parquet"
    key = ("stream-bm25", "docs")
    registry.clear()

    spark.createDataFrame([(1, base)], schema).write.parquet(tgt)
    spec = BM25Spec(
        collection="docs", query="quick brown fox", limit=20,
        properties=[BM25Prop("text")], id_col="doc_id",
    )
    bm25_search(spark, sf, spec).collect()        # build + write artifact
    with_shingle_table(spark.read.parquet(tgt), "doc_id", "text", 3, key)

    tag = re.sub(r"[^A-Za-z0-9]+", "_", sf.strip("/"))
    markers = [os.path.join(dp, f)
               for dp, _, fs in os.walk(bm25_mod.BM25_ARTIFACT_ROOT)
               for f in fs if f == "_COMMITTED" and tag in dp]
    assert len(markers) == 1
    # sentinel: survives the per-batch advance (rename+append); a full
    # rebuild would recreate the artifact dir without it
    sentinel = os.path.join(os.path.dirname(markers[0]), "_SENTINEL_NOT_REBUILT")
    open(sentinel, "w").close()

    spark.createDataFrame(
        [(2, base + " tomorrow"),
         (3, "a quick note about brown paint and nothing else")],
        schema,
    ).write.parquet(src)
    q = stream_ingest_with_index_maintenance(
        spark, src, schema, tgt, "doc_id",
        dedup_index_key=key, bm25=True,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120)  # False = still running: timed out

    got = [(r["doc_id"], r["_score"])
           for r in bm25_search(spark, sf, spec).collect()]
    want = [(r["doc_id"], r["_score"])
            for r in bm25_search(spark, sf, spec,
                                 use_stats_tables=False).collect()]
    assert got == want and {d for d, _ in got} == {1, 2, 3}

    # artifact advanced in place — the sentinel survived and exactly
    # one committed artifact exists (a rebuild would have dropped it)
    found = [(dp, "_SENTINEL_NOT_REBUILT" in fs)
             for dp, _, fs in os.walk(bm25_mod.BM25_ARTIFACT_ROOT)
             if tag in dp and "_COMMITTED" in fs]
    assert found == [(found[0][0], True)]

    grown = spark.read.parquet(tgt)
    pairs = sorted(
        (p["id_a"], p["id_b"])
        for p in minhash_lsh_pairs(
            grown, "doc_id", "text", jaccard_threshold=0.5, table_key=key
        ).collect()
    )
    assert pairs == [(1, 2)]
    registry.clear()


def test_stream_ingest_maintains_vector_index(spark, tmp_path):
    """vector_index_key: streamed vectors land in the session's BQ
    index as append segments; a post-drain bq_topk over the grown table
    serves the maintained index and ranks a streamed near-duplicate
    vector first — equal to the no-index recompute."""
    import random

    from weaviate_spark import registry
    from weaviate_spark.operators.quantization import bq_topk, with_bq_index
    from weaviate_spark.streaming.ingest import (
        stream_ingest_with_index_maintenance,
    )

    rng = random.Random(5)
    dim = 64
    q = [rng.uniform(-1, 1) for _ in range(dim)]
    schema = "vec_id long, embedding array<float>"
    sf = str(tmp_path / "sf")
    src, tgt = str(tmp_path / "src"), f"{sf}/vecs.parquet"
    key = (sf, "vecs")
    registry.clear()

    base = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(20)]
    spark.createDataFrame(base, schema).write.parquet(tgt)
    with_bq_index(spark.read.parquet(tgt), "vec_id", "embedding", dim, key)

    # stream a near-copy of the query vector (id 100) + one random vector
    near = [x + 0.01 for x in q]
    spark.createDataFrame(
        [(100, near), (101, [rng.uniform(-1, 1) for _ in range(dim)])],
        schema,
    ).write.parquet(src)
    stream = stream_ingest_with_index_maintenance(
        spark, src, schema, tgt, "vec_id", vector_index_key=key,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert stream.awaitTermination(120)  # False = still running: timed out

    got = [(r["vec_id"], r["_distance"])
           for r in bq_topk(spark, sf, "vecs", q, k=5, table_key=key).collect()]
    registry.clear()
    want = [(r["vec_id"], r["_distance"])
            for r in bq_topk(spark, sf, "vecs", q, k=5).collect()]
    assert got == want and got[0][0] == 100
    registry.clear()


def test_upsert_sink_carries_its_maintained_index(spark, tmp_path):
    """upsert=True with vector_index_key on the target table itself:
    the sink's own crud write does not rebuild the BQ index it
    maintains (the appends re-stamp it, O(batch)), and the maintained
    index serves the upserted vectors exactly like a fresh build."""
    import random

    from weaviate_spark import registry
    from weaviate_spark.operators.quantization import bq_topk, with_bq_index
    from weaviate_spark.streaming.ingest import (
        stream_ingest_with_index_maintenance,
    )

    rng = random.Random(9)
    dim = 64
    q = [rng.uniform(-1, 1) for _ in range(dim)]
    schema = "vec_id long, embedding array<float>"
    sf = str(tmp_path / "sf")
    src, tgt = str(tmp_path / "src"), f"{sf}/vecs.parquet"
    key = (sf, "vecs")
    registry.clear()

    base = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(20)]
    spark.createDataFrame(base, schema).write.parquet(tgt)
    with_bq_index(spark.read.parquet(tgt), "vec_id", "embedding", dim, key)
    entry = ("vector", (registry.table_path(sf, "vecs"),), ("bq", dim))
    built = registry.builds[entry]
    assert built >= 1

    # id 3 is REPLACED by a near-copy of the query; id 100 is new
    spark.createDataFrame(
        [(3, [x + 0.01 for x in q]),
         (100, [rng.uniform(-1, 1) for _ in range(dim)])],
        schema,
    ).write.parquet(src)
    stream = stream_ingest_with_index_maintenance(
        spark, src, schema, tgt, "vec_id", vector_index_key=key,
        checkpoint_dir=str(tmp_path / "ckpt"), upsert=True,
    )
    assert stream.awaitTermination(120)  # False = still running: timed out

    got = [(r["vec_id"], r["_distance"])
           for r in bq_topk(spark, sf, "vecs", q, k=5, table_key=key).collect()]
    assert registry.builds[entry] == built  # carried, not rebuilt
    registry.clear()
    want = [(r["vec_id"], r["_distance"])
            for r in bq_topk(spark, sf, "vecs", q, k=5, table_key=key).collect()]
    assert got == want and got[0][0] == 3
    assert spark.read.parquet(tgt).count() == 21
    registry.clear()


def test_stream_stream_left_outer_emits_unattributed(spark, sf_dir, tmp_path):
    """left_outer interval join: the batch left join keeps EVERY
    purchase (attributed rows carry click_id/lag_sec, organic purchases
    NULLs); the streaming replay emits the identical attributed set,
    and emits the NULL rows for every purchase old enough that the
    final watermark PROVED no qualifying click can arrive — rows at the
    watermark frontier are correctly withheld, never wrongly emitted."""
    from weaviate_spark.sources.tables import load_table
    from weaviate_spark.streaming.ingest import purchase_attribution_join

    window = 240
    events = load_table(spark, sf_dir, "events")
    batch_rows = purchase_attribution_join(
        events.where(F.col("event_type") == "purchase"),
        events.where(F.col("event_type") == "click"),
        window_minutes=window, join_type="left_outer",
    ).collect()
    batch = {(r["purchase_id"], r["click_id"], r["lag_sec"]) for r in batch_rows}
    purchase_ts = {r["purchase_id"]: r["purchase_ts"] for r in batch_rows}
    # every purchase survives the batch left join
    assert {p for p, _, _ in batch} == {
        r["event_id"] for r in
        events.where(F.col("event_type") == "purchase").collect()
    }
    assert any(c is None for _, c, _ in batch)      # organic purchases exist
    assert any(c is not None for _, c, _ in batch)  # attributed ones too

    src = str(tmp_path / "ev_lo")
    events.write.parquet(src)
    mk = lambda t: (  # noqa: E731
        spark.readStream.schema(events.schema).parquet(src)
        .where(F.col("event_type") == t)
    )
    joined = purchase_attribution_join(
        mk("purchase"), mk("click"), window_minutes=window,
        join_type="left_outer",
    )
    assert joined.isStreaming
    q = (
        joined.writeStream.outputMode("append")
        .format("memory").queryName("attrib_lo")
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(180)  # False = still running: timed out
    streamed = {
        (r["purchase_id"], r["click_id"], r["lag_sec"])
        for r in spark.sql("SELECT * FROM attrib_lo").collect()
    }
    # attributed (inner) results replay exactly; no spurious rows
    assert {t for t in streamed if t[1] is not None} == {
        t for t in batch if t[1] is not None
    }
    assert streamed <= batch
    # NULL rows: emitted for every purchase the final watermark
    # (max event time - 2*window delay) has provably passed; only the
    # frontier tail may be withheld
    import datetime

    max_ts = max(r["ts"] for r in events.select("ts").collect())
    cutoff = max_ts - datetime.timedelta(minutes=3 * window)
    proven_nulls = {t for t in batch
                    if t[1] is None and purchase_ts[t[0]] < cutoff}
    assert proven_nulls and proven_nulls <= streamed


def test_stream_ingest_maintains_hll_sketch(spark, tmp_path):
    """distinct_sketch upkeep: after the stream drains, the maintained
    register store answers the running distinct count without touching
    the table — and equals a from-scratch sketch of the full corpus."""
    from pyspark.sql import functions as F

    from weaviate_spark.operators.sketches import (
        hll_estimate_registers, hll_group_registers, hll_sketch_estimate,
        invalidate_hll_sketches,
    )
    from weaviate_spark.streaming.ingest import (
        stream_ingest_with_index_maintenance,
    )

    schema = "doc_id long, author string"
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    key = ("stream-hll", "docs")
    invalidate_hll_sketches()

    rows = [(i, f"author-{i % 57}") for i in range(300)]
    # two files -> at least one micro-batch each with maxFilesPerTrigger
    spark.createDataFrame(rows[:150], schema).write.parquet(src)
    spark.createDataFrame(rows[150:], schema).write.mode("append").parquet(src)

    q = stream_ingest_with_index_maintenance(
        spark, src, schema, tgt, "doc_id",
        distinct_sketch=(key, "author"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120)

    est = hll_sketch_estimate(spark, key).collect()[0]["hll_estimate"]
    direct = hll_estimate_registers(
        hll_group_registers(
            spark.read.parquet(tgt), "author", F.lit(1), "_all"
        ),
        "_all",
    ).collect()[0]["hll_estimate"]
    invalidate_hll_sketches()
    assert est == direct
    assert 40 <= est <= 75  # 57 true distinct authors


def test_stream_ingest_maintains_cms_sketch(spark, tmp_path):
    """count_sketch upkeep: counters merged across micro-batches answer
    the heavy-hitter readout without rescanning the table — and match
    the batch-built sketch's estimates exactly (mergeable counters)."""
    from weaviate_spark.operators.sketches import (
        cms_heavy_hitters, cms_sketch_topk, invalidate_cms_sketches,
    )
    from weaviate_spark.streaming.ingest import (
        stream_ingest_with_index_maintenance,
    )

    schema = "doc_id long, term string"
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    key = ("stream-cms", "docs")
    invalidate_cms_sketches()

    # skewed vocabulary: term-j appears j times, plus a runaway term
    rows, i = [], 0
    for j in range(1, 25):
        for _ in range(j):
            rows.append((i, f"term-{j:02d}")); i += 1
    rows += [(i + k, "hot") for k in range(200)]
    spark.createDataFrame(rows[: len(rows) // 2], schema).write.parquet(src)
    spark.createDataFrame(rows[len(rows) // 2:], schema).write.mode(
        "append").parquet(src)

    q = stream_ingest_with_index_maintenance(
        spark, src, schema, tgt, "doc_id",
        count_sketch=(key, "term"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120)

    maintained = {r["item"]: r["cms_estimate"]
                  for r in cms_sketch_topk(spark, key, k=10).collect()}
    batch = {r["item"]: (r["cms_estimate"], r["true_count"])
             for r in cms_heavy_hitters(
                 spark.read.parquet(tgt), "term", k=10).collect()}
    invalidate_cms_sketches()
    assert set(maintained) == set(batch)
    for item, est in maintained.items():
        assert est == batch[item][0]          # merge == from-scratch
        assert est >= batch[item][1]          # one-sided error
    assert maintained["hot"] >= 200


def test_stream_ingest_dedup_exact_across_batches(spark, tmp_path):
    """Redelivered ids within the watermark are dropped across
    micro-batches; distinct ids all land exactly once."""
    import datetime

    from weaviate_spark.streaming.ingest import stream_ingest_dedup_exact

    schema = "event_id long, ts timestamp, v string"
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    batch1 = [(i, t0 + datetime.timedelta(seconds=i), f"v{i}") for i in range(5)]
    batch2 = [(2, t0 + datetime.timedelta(seconds=2), "dup"),
              (3, t0 + datetime.timedelta(seconds=3), "dup"),
              (9, t0 + datetime.timedelta(seconds=9), "v9")]
    spark.createDataFrame(batch1, schema).write.parquet(src)
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)

    q = stream_ingest_dedup_exact(
        spark, src, schema, tgt, "event_id", "ts",
        watermark_delay="1 hour", checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120)
    rows = spark.read.parquet(tgt).collect()
    ids = sorted(r["event_id"] for r in rows)
    assert ids == [0, 1, 2, 3, 4, 9]          # each id exactly once
    vals = {r["event_id"]: r["v"] for r in rows}
    assert vals[9] == "v9"
