"""The one LSM segment store: incremental maintenance of session indexes.

The reference indexes writes asynchronously: a batch lands in the object
store and an index queue applies it to the vector index in the
background (adapters/repos/db/vector_index_queue.go), and inverted
writes land as LSM segments that a background cycle compacts
(adapters/repos/db/lsmkv/). The Spark analogue, for every session index
that advances by appends (the BQ/SQ/PQ/RQ code tables, which also back
the IVF cell assignment, and the near-dup shingle index): each append
lands as a small immutable SEGMENT, O(batch) work, and queries read a
compacted generation. A segment is the batch's ids plus the batch
encoded into index rows. Compaction (last write wins by id, the
reference's replace-by-id bucket) runs lazily at the next resolve, or
inside append once ``_MAX_SEGMENTS`` pile up, and is the only O(corpus)
step, amortized exactly like LSM compaction. An id whose latest batch
encodes to no rows (a NULL vector, a text too short to shingle) is
still evicted: eviction follows the batch ids, not the encoded rows.

An index may also hold per-id tables derived from its rows (the near-dup
signature variants and shingle sets). Each is built on first request,
and every compaction merges it from the same new rows, so all tables of
an index advance as one generation under the entry lock.

Every frame is localCheckpoint(eager=True): lineage never deepens with
batch count (and segments built inside a defunct foreachBatch don't
root in the dead stream), and replaced generations are reclaimed by
Spark's ContextCleaner when the last reference drops — no explicit
unpersist can race a query holding last generation's frame.

Each index is one derived-state registry entry (weaviate_spark/
registry.py) of the caller's family, which owns its key, stamp and
lock; this module holds the append and compaction logic.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from weaviate_spark import registry
from weaviate_spark.sources.tables import source_paths

_MAX_SEGMENTS = 16


def checkpoint(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


class _Index:
    """A compacted index frame, the per-id tables derived from it, its
    pending segments, and the ``encode`` closure (the exact build
    pipeline over a batch) so appends encode only the batch — the caller
    of ``append`` never needs to know which variants (quantizers, dims,
    normalizations, shingle sizes) were built under a corpus key."""

    __slots__ = ("frame", "derived", "segments", "id_col", "encode")

    def __init__(self, frame: DataFrame, id_col: str, encode):
        self.frame = frame
        self.derived: dict = {}   # name -> (fn, table)
        self.segments: list[tuple[DataFrame, DataFrame]] = []  # (ids, rows)
        self.id_col = id_col
        self.encode = encode


def resolve(
    spark,
    family: str,
    table_key: tuple,
    variant: tuple,
    id_col: str,
    build: Callable[[], DataFrame],
    encode: Callable[[DataFrame], DataFrame],
    derived: dict | None = None,
) -> tuple[DataFrame, dict]:
    """(frame, {name: table}) of index (table_key, variant), a registry
    entry of ``family``, all of one generation: pending segments merge
    first. ``build`` returns the frame over the whole table, already
    materialized (each family checkpoints its own base build);
    ``encode`` maps a batch DataFrame to rows in the frame's schema;
    ``id_col`` is the frame's id column. ``derived`` ({name: fn}) names
    the per-id tables ``fn(frame)`` wanted beside the frame, each built
    on first request."""
    derived = derived or {}

    def _current(ix: _Index):
        if ix.segments:
            _compact(ix)
        for name, fn in derived.items():
            if name not in ix.derived:
                ix.derived[name] = (fn, checkpoint(fn(ix.frame)))
        return ix.frame, {name: ix.derived[name][1] for name in derived}

    return registry.resolve(
        spark, family, source_paths(*table_key[:2]),
        (*table_key[2:], *variant),
        lambda: _Index(build(), id_col, encode), use=_current,
    )


def append(family: str, table_key: tuple, batch_df: DataFrame, id_col: str,
           before: tuple) -> int:
    """Record ``batch_df`` as a pending segment of every index of
    ``family`` built under ``table_key`` (a key prefix): the batch's
    ``id_col`` values, checkpointed once and shared by all of them, and
    the batch encoded by each index (O(batch) per index). ``before`` is
    the registry stamp taken before the batch was written. Returns the
    number of indexes appended to — 0 means nothing was built under the
    key (the next query builds from the full table anyway)."""
    ids = None

    def _add(ix: _Index, _variant: tuple) -> None:
        nonlocal ids
        if ids is None:
            ids = checkpoint(batch_df.select(F.col(id_col).alias("_id")).distinct())
        ix.segments.append((ids, checkpoint(ix.encode(batch_df))))
        if len(ix.segments) >= _MAX_SEGMENTS:
            _compact(ix)

    return registry.advance(
        batch_df.sparkSession, family, source_paths(*table_key[:2]),
        tuple(table_key[2:]), _add, before,
    )


def _compact(ix: _Index) -> None:
    """Merge pending segments into the next generation (caller holds
    the entry lock). Last write wins per id: an id keeps the rows of the
    latest segment whose batch carried it (none, when that batch's row
    encoded to nothing), and every id of a segment evicts its
    old-generation rows through a broadcast anti-join. Each derived
    table merges ``fn`` of the same new rows. The dropDuplicates guards
    duplicate rows within one batch."""
    idc = ix.id_col
    latest = reduce(DataFrame.unionByName, [
        ids.select(F.col("_id").alias(idc), F.lit(seq).alias("_seq"))
        for seq, (ids, _) in enumerate(ix.segments)
    ]).groupBy(idc).agg(F.max("_seq").alias("_seq"))
    new = (
        reduce(DataFrame.unionByName, [
            rows.withColumn("_seq", F.lit(seq))
            for seq, (_, rows) in enumerate(ix.segments)
        ])
        .join(latest, [idc, "_seq"])
        .drop("_seq")
        .dropDuplicates()
    )
    evicted = F.broadcast(latest.select(idc))

    def _merge(old: DataFrame, fresh: DataFrame) -> DataFrame:
        return checkpoint(old.join(evicted, idc, "left_anti").unionByName(fresh))

    frame = _merge(ix.frame, new)
    derived = {name: (fn, _merge(table, fn(new)))
               for name, (fn, table) in ix.derived.items()}
    ix.frame, ix.derived, ix.segments = frame, derived, []
