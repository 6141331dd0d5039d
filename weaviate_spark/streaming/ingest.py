"""Streaming ingestion (SURVEY §2.9).

Weaviate's "streaming" surface is ingestion-shaped: gRPC BatchStream
(grpc/proto/v1/weaviate.proto:22) and the async vector-index queue
(adapters/repos/db/vector_index_queue.go) that makes writes searchable
eventually. The Spark mapping is Structured Streaming:

* ``stream_ingest`` — readStream -> (optional transform, e.g. the
  vectorizer/text-profile stage) -> foreachBatch append to the
  collection's table. foreachBatch is the BatchStream analogue: each
  micro-batch is one atomic append, per-batch error isolation, and the
  table becomes queryable per batch (eventual visibility ≈ weaviate's
  async indexing).
* ``windowed_event_counts`` — tumbling-window aggregation with a
  watermark for late data: not a weaviate feature (it has no streaming
  query operators) but table stakes for the events table in a training
  pipeline.

Scale: foreachBatch appends are parallel parquet writes (one file per
partition); the watermark bounds state size for the windowed agg. On a
real deployment the sink would be Delta for ACID appends + compaction;
plain parquet-append keeps the dependency surface to what is baked in.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_ingest(
    spark: SparkSession,
    source_dir: str,
    schema,
    target_dir: str,
    transform: Optional[Callable[[DataFrame], DataFrame]] = None,
    checkpoint_dir: Optional[str] = None,
    available_now: bool = True,
    sink: Optional[Callable[[DataFrame, int], None]] = None,
):
    """File-source streaming ingest into a parquet table via foreachBatch.

    With ``available_now`` the stream drains everything currently in
    `source_dir` and stops — the batch-replay mode used by tests and
    backfills; without it the query keeps tailing the directory.
    ``sink`` overrides the default append-to-parquet batch writer (one
    place owns the reader/checkpoint/trigger wiring; variants supply a
    sink instead of re-plumbing it)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    if transform is not None:
        stream = transform(stream)

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(target_dir)

    writer = stream.writeStream.foreachBatch(sink or _append)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ingest_with_index_maintenance(
    spark: SparkSession,
    source_dir: str,
    schema,
    target_dir: str,
    id_col: str,
    *,
    dedup_index_key: Optional[tuple] = None,
    bm25: bool = False,
    vector_index_key: Optional[tuple] = None,
    distinct_sketch: Optional[tuple] = None,
    count_sketch: Optional[tuple] = None,
    transform: Optional[Callable[[DataFrame], DataFrame]] = None,
    checkpoint_dir: Optional[str] = None,
    available_now: bool = True,
    upsert: bool = False,
):
    """stream_ingest + per-micro-batch index maintenance — the streaming
    form of the reference's per-write index refresh (LSM inverted
    segments in shard_write_inverted.go, the async vector-index queue in
    vector_index_queue.go): each batch writes to the table AND advances
    the derived index structures in O(batch), so queries between batches
    never re-tokenize or re-scan the standing corpus.

    * ``dedup_index_key`` — record an append segment against every
      persisted near-dup index (shingle table with its signature and
      shingle-set tables) built under the key
      (dedup.append_to_dedup_index; merge deferred to compaction; each
      index shingles the batch with the text column and n it was built
      with).
    * ``bm25=True`` — advance the written BM25 inverted-index artifacts
      (bm25.advance_bm25_artifacts): the postings and doclen tables
      gain the batch's segment files, term_df/corpus_stats one delta
      file each (written on the driver), and the artifact re-roots to
      the new source fingerprint — no corpus re-tokenize. The next
      query reloads the advanced artifact: postings joined with doclen
      into one cached frame clustered by document. Requires
      ``target_dir`` shaped ``<sf_dir>/<collection>.parquet`` (the
      table-loader layout the artifacts are keyed by) and an
      append-only id stream.
    * ``vector_index_key`` — record an append segment against every
      quantized vector index (BQ/PQ/RQ and the IVF cell assignment that
      rides on PQ) built under the key
      (quantization.append_to_vector_indexes — each index re-encodes
      only the batch with its own stored pipeline).
    * ``count_sketch=(key, col)`` — fold each batch's count-min
      counters into the session's sketch store
      (sketches.append_to_cms_sketch): running heavy-hitter estimates
      readable at any time via sketches.cms_sketch_topk without
      rescanning the table.
    * ``distinct_sketch=(key, col[, group_col])`` — fold each batch's
      HLL registers into the session's register store
      (sketches.append_to_hll_sketch): running distinct-of-``col``
      estimates (optionally per group) readable at any time via
      sketches.hll_sketch_estimate without rescanning the table.

    The near-dup and vector indexes follow the reference's object
    upsert (one segment store, weaviate_spark/incremental.py): a
    re-arrived id REPLACES its indexed version, and an id whose new
    vector is NULL (or whose new text is too short to shingle) leaves
    the index. Pick the sink to match:

    * ``upsert=True`` — each batch MERGEs into the table by ``id_col``
      (crud.upsert under optimistic-concurrency retry), so table and
      index stay row-for-row consistent for update streams. COW cost:
      the table rewrite is O(table) per batch — for low-rate update
      streams; the maintained dedup/vector indexes are carried across
      the write and advanced incrementally, while BM25 stats (df counts
      are not replace-mergeable) rebuild at the next query.
    * ``upsert=False`` (default) — plain parquet append, O(batch).
      Correct for append-only id streams (the common ingest case); if
      an id DOES re-arrive, the raw log keeps the superseded rows while
      the indexes track only the latest version — read the table
      through the crud/upsert path (or run with ``upsert=True``) when
      ids can repeat.
    """
    import os

    from weaviate_spark import registry
    from weaviate_spark.operators import bm25 as bm25_mod
    from weaviate_spark.operators.dedup import append_to_dedup_index
    from weaviate_spark.operators.quantization import append_to_vector_indexes
    from weaviate_spark.sources import crud
    from weaviate_spark.sources.tables import source_paths

    sf_dir = coll = None
    if bm25:
        if not target_dir.endswith(".parquet"):
            raise ValueError(
                "bm25 maintenance needs target_dir = <sf_dir>/<collection>.parquet"
            )
        sf_dir = os.path.dirname(target_dir)
        coll = os.path.basename(target_dir)[: -len(".parquet")]

    def _stamp(key: Optional[tuple]) -> Optional[tuple]:
        return None if key is None else registry.stamp(source_paths(*key[:2]))

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # stamps before the write: the appenders re-stamp only the
        # entries that were current before this batch landed
        dedup_before, vector_before = _stamp(dedup_index_key), _stamp(vector_index_key)
        fp_before = (
            registry.source_fingerprint(target_dir) if bm25 and not upsert
            else None
        )
        if upsert and os.path.exists(target_dir):
            # crud's write hook releases the table's derived state; the
            # hold keeps the entries this sink advances below (its
            # appends match the upsert's replace-by-id semantics), and
            # their stamps make everything else rebuild from the merged
            # table at the next query
            with registry.hold(target_dir):
                crud.transact(lambda: crud.upsert(spark, target_dir, batch_df, id_col))
        else:
            batch_df.write.mode("append").parquet(target_dir)
        if dedup_index_key is not None:
            append_to_dedup_index(batch_df, id_col, dedup_index_key,
                                  before=dedup_before)
        if fp_before is not None:
            bm25_mod.advance_bm25_artifacts(batch_df, sf_dir, coll, fp_before)
        if vector_index_key is not None:
            append_to_vector_indexes(batch_df, id_col, vector_index_key,
                                     before=vector_before)
        if distinct_sketch is not None:
            from weaviate_spark.operators.sketches import append_to_hll_sketch

            skey, scol = distinct_sketch[0], distinct_sketch[1]
            sgroup = distinct_sketch[2] if len(distinct_sketch) > 2 else None
            append_to_hll_sketch(batch_df, scol, skey, group_col=sgroup)
        if count_sketch is not None:
            from weaviate_spark.operators.sketches import append_to_cms_sketch

            append_to_cms_sketch(batch_df, count_sketch[1], count_sketch[0])

    return stream_ingest(
        spark, source_dir, schema, target_dir, transform=transform,
        checkpoint_dir=checkpoint_dir, available_now=available_now,
        sink=_sink,
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling-window counts with late-data watermark; works on both
    streaming and batch DataFrames (identical semantics — Spark's
    unified model)."""
    df = events
    ts_type = df.schema[ts_col].dataType.simpleString()
    # Spark's watermark requires TIMESTAMP (LTZ) event time; the shipped
    # parquet carries TIMESTAMP_NTZ.  The session timezone is pinned UTC
    # (session.py), so the cast is value-identity; we cast the window
    # bound back so batch and streaming emit the identical schema.
    needs_cast = ts_type == "timestamp_ntz"
    if df.isStreaming:
        if needs_cast:
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        df = df.withWatermark(ts_col, watermark)
    start = F.col("_w.start")
    if needs_cast:
        start = start.cast("timestamp_ntz")
    return (
        df.groupBy(F.window(F.col(ts_col), window).alias("_w"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            start.alias("window_start"),
            *group_cols,
            "n_events",
            "total_value",
        )
    )


def stream_dedup(
    stream: DataFrame,
    key_cols: tuple[str, ...],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact-dedup stage: drop records whose key was already
    seen within the watermark horizon (exactly the ingest-side dedup a
    training-data stream needs before the batch near-dup passes).

    Built on dropDuplicatesWithinWatermark — state is bounded by the
    watermark (keys age out), so a forever-running ingest never grows
    state without bound; at-least-once sources collapse to exactly-once
    per key within the horizon. On a batch frame the same call
    degenerates to dropDuplicates (unified semantics, testable in
    replay)."""
    if stream.isStreaming:
        df = stream
        ntz = df.schema[ts_col].dataType.simpleString() == "timestamp_ntz"
        if ntz:  # watermark needs LTZ; UTC session makes the cast identity
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        df = df.withWatermark(ts_col, watermark) \
            .dropDuplicatesWithinWatermark(list(key_cols))
        if ntz:
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp_ntz"))
        return df
    return stream.dropDuplicates(list(key_cols))


def sessionized_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "4 hours",
    group_cols: tuple[str, ...] = ("user_id",),
    watermark: str = "8 hours",
) -> DataFrame:
    """Session-window aggregation: per key, events closer than ``gap``
    merge into one session (F.session_window — Spark's native session
    semantics, state-merged incrementally in streaming mode under the
    watermark). Not a weaviate feature (it has no streaming operators);
    table stakes for event analytics over the events table. Batch and
    streaming share this exact code path (unified model).

    Scale: one shuffle on the session-window key; streaming state is
    bounded by the watermark (sessions older than it finalize and
    evict). The batch equivalent of the gaps-and-islands SQL without
    the two windowed passes."""
    df = events
    ntz = df.schema[ts_col].dataType.simpleString() == "timestamp_ntz"
    if df.isStreaming:
        if ntz:  # watermark needs LTZ; UTC session makes the cast identity
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        df = df.withWatermark(ts_col, watermark)
    start = F.col("_w.start")
    if ntz and df.isStreaming:
        start = start.cast("timestamp_ntz")
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("_w"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            *group_cols,
            start.alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def _make_running_totals_update(key_cols: tuple[str, ...]):
    """Build the applyInPandasWithState update function for
    stateful_running_totals (module-level so the timeout/eviction
    contract is unit-testable with a fake GroupState)."""
    import pandas as pd

    def update(key, pdfs, state):
        if state.hasTimedOut:
            # watermark passed the key's last event: evict state, emit
            # nothing (a timeout invocation carries no data — re-saving
            # state here would leak it forever and re-emit stale rows).
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        # only data-bearing invocations re-arm the timeout
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
        yield pd.DataFrame({
            **{k: [key[i]] for i, k in enumerate(key_cols)},
            "n_events": [n],
            "total_value": [round(total, 2)],
        })

    return update


def stateful_running_totals(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    watermark: str = "8 hours",
):
    """Custom stateful streaming operator (applyInPandasWithState): per
    key, carry (n_events, total_value, last_ts) across micro-batches and
    emit the UPDATED running totals every batch the key appears in —
    the incremental per-user ledger an ingest-time quota/abuse check
    needs, which windowed aggs can't express (state is cumulative, not
    windowed). Idle keys expire via event-time timeout once the
    watermark passes their last event (bounded state forever).

    On a batch frame the same semantics degenerate to one groupBy
    (cumulative == total when all data is in one batch) — used by the
    equivalence test.

    Scale: one shuffle on the key; state per live key is three scalars;
    Arrow batches stream per group (iterator contract, nothing
    materializes a partition)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        ", ".join(f"{k} long" for k in key_cols)
        + ", n_events long, total_value double"
    )
    state_schema = "n long, total double"

    if not events.isStreaming:
        return (
            events.groupBy(*key_cols)
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        )

    update = _make_running_totals_update(key_cols)

    df = events
    if df.schema[ts_col].dataType.simpleString() == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def purchase_attribution_join(
    purchases: DataFrame,
    clicks: DataFrame,
    window_minutes: int = 240,
    ts_col: str = "ts",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream event-time interval join — Structured Streaming's
    canonical two-stream pattern (not in the reference, which has no
    streaming at all): attribute each purchase to every click by the
    same user within the preceding `window_minutes`.

    Unified model: on batch frames this is a plain equi+range join; on
    streaming frames BOTH sides get event-time watermarks and the
    time-range predicate lets Spark BOUND THE JOIN STATE — clicks are
    dropped from state once no future purchase can reach back to them,
    purchases once their window has passed the click watermark. Without
    the range condition a stream-stream join would buffer both streams
    forever; with it, state size is (events within one window), not
    (events since job start) — the property that makes this run
    indefinitely at production rates.

    Returns (purchase_id, click_id, user_id, purchase_ts, lag_sec),
    lag_sec = seconds from click to purchase.

    ``join_type="left_outer"`` keeps UNattributed purchases too
    (click_id/lag_sec NULL) — on a stream the null-matched row is
    emitted only once the watermark proves no qualifying click can
    still arrive, the other canonical stream-stream shape (outer
    interval join with state-store expiry); on batch it is an ordinary
    left join. Attribution reports need both: conversion rows AND the
    organic-purchase remainder.
    """
    if join_type not in ("inner", "left_outer"):
        raise ValueError(f"join_type must be inner or left_outer, got {join_type!r}")
    def prep(df: DataFrame, role: str) -> DataFrame:
        ts_type = df.schema[ts_col].dataType.simpleString()
        if df.isStreaming:
            if ts_type == "timestamp_ntz":
                df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
            df = df.withWatermark(ts_col, f"{window_minutes * 2} minutes")
        return df.select(
            F.col("event_id").alias(f"{role}_id"),
            F.col("user_id").alias(f"{role}_user"),
            F.col(ts_col).alias(f"{role}_ts"),
        )

    p = prep(purchases, "purchase")
    c = prep(clicks, "click")
    cond = (
        (p["purchase_user"] == c["click_user"])
        & (c["click_ts"] >= p["purchase_ts"] - F.expr(f"INTERVAL {window_minutes} MINUTES"))
        & (c["click_ts"] <= p["purchase_ts"])
    )
    return p.join(c, cond, join_type).select(
        "purchase_id", "click_id",
        F.col("purchase_user").alias("user_id"),
        "purchase_ts",
        (F.unix_timestamp(F.col("purchase_ts").cast("timestamp"))
         - F.unix_timestamp(F.col("click_ts").cast("timestamp"))).alias("lag_sec"),
    )


def stream_ingest_dedup_exact(
    spark: SparkSession,
    source_dir: str,
    schema,
    target_dir: str,
    id_col: str,
    ts_col: str,
    watermark_delay: str = "10 minutes",
    checkpoint_dir: Optional[str] = None,
    available_now: bool = True,
):
    """Exactly-once-by-id ingest: `dropDuplicatesWithinWatermark` on the
    id drops redelivered events ACROSS micro-batches while the
    watermark keeps the dedup state bounded (the at-least-once ->
    exactly-once repair every event pipeline needs; the reference's
    batch path dedups by object id the same way, batch_manager.go).
    State is per-id only until the watermark passes — O(ids within the
    delay window), not O(stream)."""
    def _dedup(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark(ts_col, watermark_delay)
            .dropDuplicatesWithinWatermark([id_col])
        )

    return stream_ingest(
        spark, source_dir, schema, target_dir, transform=_dedup,
        checkpoint_dir=checkpoint_dir, available_now=available_now,
    )
