"""LSM-shaped incremental maintenance for single-frame session indexes.

The reference indexes writes asynchronously: a batch lands in the object
store and an index queue applies it to the vector index in the
background (adapters/repos/db/vector_index_queue.go), so searches never
pay a full-corpus re-encode after ingest. The Spark analogue for the
session-persisted encoded tables (BQ/SQ/PQ/RQ codes — which also back
the IVF cell assignment): each append lands as a small immutable
SEGMENT (one localCheckpoint'ed encoded frame per micro-batch, O(batch)
work) and queries read a compacted generation. Compaction (last-write-
wins by id) runs lazily at the next resolve, or inside append once
``_MAX_SEGMENTS`` pile up — the only O(corpus) step, amortized exactly
like LSM compaction.

Every frame is localCheckpoint(eager=True): lineage never deepens with
batch count (and segments built inside a defunct foreachBatch don't
root in the dead stream), and replaced generations are reclaimed by
Spark's ContextCleaner when the last reference drops — no explicit
unpersist can race a query holding last generation's frame.

Each index is one derived-state registry entry (weaviate_spark/
registry.py), which owns its key, stamp and lock; this module holds the
append and compaction logic. The near-dup index keeps its own
multi-table variant of this pattern (operators/dedup.py) because its
three tables must swap as one atomic generation.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from weaviate_spark import registry
from weaviate_spark.sources.tables import source_paths

_MAX_SEGMENTS = 16
FAMILY = "vector"


def _ckpt(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


class _Segments:
    """A compacted index frame, its pending append segments, and the
    ``encode`` closure (the exact build pipeline over a batch) so
    appends re-encode only the batch — the caller of ``append`` never
    needs to know which variants (quantizers, dims, normalizations)
    were built under a corpus key."""

    __slots__ = ("frame", "segments", "id_col", "encode")

    def __init__(self, frame: DataFrame, id_col: str, encode):
        self.frame = frame
        self.segments: list[DataFrame] = []
        self.id_col = id_col
        self.encode = encode


def resolve(
    spark,
    table_key: tuple,
    variant: tuple,
    id_col: str,
    build: Callable[[], DataFrame],
    encode: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The compacted frame of index (table_key, variant), built on first
    use and merging any pending segments first. ``encode`` maps a batch
    DataFrame to rows in the frame's schema."""
    def _current(st: _Segments) -> DataFrame:
        if st.segments:
            _compact(st)
        return st.frame

    return registry.resolve(
        spark, FAMILY, source_paths(*table_key[:2]),
        (*table_key[2:], *variant),
        lambda: _Segments(_ckpt(build()), id_col, encode), use=_current,
    )


def append(table_key: tuple, batch_df: DataFrame, before: tuple) -> int:
    """Record ``batch_df`` as a pending segment for every index built
    under ``table_key`` (a key prefix); O(batch) per
    index (one encode pass into a checkpointed segment). ``before`` is
    the registry stamp taken before the batch was written. Returns the
    number of indexes appended to — 0 means nothing was built under the
    key (the next query builds from the full table anyway)."""
    def _add(st: _Segments, _variant: tuple) -> None:
        st.segments.append(_ckpt(st.encode(batch_df)))
        if len(st.segments) >= _MAX_SEGMENTS:
            _compact(st)

    return registry.advance(
        batch_df.sparkSession, FAMILY, source_paths(*table_key[:2]),
        tuple(table_key[2:]), _add, before,
    )


def _compact(st: _Segments) -> None:
    """Merge pending segments into a new generation (caller holds the
    entry lock): last-write-wins per id across segments (a re-arrived id
    is a replacement — the reference's object-upsert semantics), then
    replaced/new ids evict their old-generation rows via a broadcast
    anti-join."""
    idc = st.id_col
    tagged = [
        s.withColumn("_seq", F.lit(i)) for i, s in enumerate(st.segments)
    ]
    allr = reduce(lambda a, b: a.unionByName(b), tagged)
    w = Window.partitionBy(idc).orderBy(F.col("_seq").desc())
    latest = (
        allr.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_seq", "_rn")
    )
    ids = latest.select(idc)
    st.frame = _ckpt(
        st.frame.join(F.broadcast(ids), idc, "left_anti").unionByName(latest)
    )
    st.segments = []
