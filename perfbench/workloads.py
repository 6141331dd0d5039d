"""The benchmark's workloads: seeded operation streams, how each
operation runs through the engine's public surface, and what its
correct result is.

Streams are pure functions of the seed (no Spark), so the same seed
replays the same operations. Every timed read materialises every
output column with ``collect()``, every corpus-pass step with a noop
sink.
"""

from __future__ import annotations

import contextlib
import itertools
import os
from typing import Iterator

import numpy as np

import datagen

STOPWORDS = {"the", "a"}
QUERY_VOCAB = [w for w in datagen.VOCAB if w not in STOPWORDS]
PART_COLUMNS = ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
                "p_retailprice"]

# search_mix: operations of each kind in one round; a round runs them
# in seeded order, so every run sees the mix in the same proportions.
# Nine per round puts the median op inside one kind's cluster (the
# aggregates, between the vector and bm25 latencies) instead of on the
# boundary between two kinds, where it would jump from run to run.
SEARCH_ROUND = {"fetch": 2, "vector": 2, "aggregate": 2, "bm25": 2,
                "hybrid": 1}

# ingest_mix: documents per write batch, half new ids, half updates
BATCH_NEW = 20
BATCH_UPDATED = 20
# ingest_mix: reads after the fresh ones in each cycle (served from the
# rebuilt state); the fetch is on a collection the writes leave alone
STEADY_READS = ("fetch", "bm25")
# ingest_mix: the corpus pass that ends each cycle, over the documents
# and vectors as written so far: (entry query, operators module that
# computes it). Each output is written to a noop sink, so every column
# is computed, and checked against the query's DuckDB oracle.
PIPELINE = (("text_quality_scores", "textstats"),
            ("dedup_minhash_lsh", "dedup"),
            ("knn_classification", "rerank"),
            ("classification_ref_meta", "classification_job"))


def _vector(rng: np.random.Generator) -> list[float]:
    return [round(float(x), 6) for x in rng.normal(0.0, 1.0, datagen.DIM)]


def _terms(rng: np.random.Generator, k: int) -> str:
    return " ".join(QUERY_VOCAB[i] for i in
                    rng.choice(len(QUERY_VOCAB), k, replace=False))


def read_op(kind: str, rng: np.random.Generator) -> dict:
    if kind == "fetch":
        return {"kind": "fetch", "collection": "part",
                "min_size": int(rng.integers(1, 45)),
                "p_type": datagen.PART_TYPES[int(rng.integers(0, 6))],
                "limit": int(rng.choice([10, 20, 50])),
                "columns": PART_COLUMNS}
    if kind == "aggregate":
        return {"kind": "aggregate", "collection": "orders",
                "group_by": str(rng.choice(["o_orderstatus", "o_orderpriority"])),
                "prop": "o_totalprice",
                "min_value": round(float(rng.uniform(0, 400000)), 2)}
    if kind == "bm25":
        return {"kind": "bm25", "collection": "documents",
                "query": _terms(rng, int(rng.integers(1, 4))), "limit": 10}
    if kind == "vector":
        return {"kind": "vector", "collection": "embeddings",
                "vector": _vector(rng), "limit": 10}
    if kind == "hybrid":
        return {"kind": "hybrid", "collection": "docs_embedded",
                "query": _terms(rng, int(rng.integers(1, 3))),
                "vector": _vector(rng),
                "alpha": round(float(rng.uniform(0.2, 0.8)), 2),
                "fusion": str(rng.choice(["ranked", "relativeScore"])),
                "limit": 10}
    raise ValueError(kind)


def search_stream(seed: int) -> Iterator[list[dict]]:
    """Rounds of read operations (lists of SEARCH_ROUND's size)."""
    rng = np.random.default_rng([seed, 1])
    kinds = [k for k, n in SEARCH_ROUND.items() for _ in range(n)]
    while True:
        yield [read_op(kinds[i], rng) for i in rng.permutation(len(kinds))]


def write_batch(seed: int, cycle: int, next_id: int, n_vectors: int) -> dict:
    """The rows one ingest cycle writes: BATCH_NEW new ids from
    ``next_id`` and BATCH_UPDATED existing ids that have a vector.
    Every text starts with a marker term no other document carries, so
    a keyword read finds exactly this batch."""
    rng = np.random.default_rng([seed, 2, cycle])
    ids = list(range(next_id, next_id + BATCH_NEW)) + sorted(
        int(i) for i in rng.choice(n_vectors, BATCH_UPDATED, replace=False))
    marker = f"fresh{cycle}"
    docs = datagen.documents(rng, len(ids), dup_frac=0.0, marker=marker)
    vecs, labels = datagen.vectors(rng, datagen.label_centers(seed), len(ids))
    return {"ids": ids, "marker": marker,
            "texts": docs.column("text").to_pylist(),
            "langs": docs.column("lang").to_pylist(),
            "sources": docs.column("source").to_pylist(),
            "vectors": [[float(x) for x in v] for v in vecs],
            "labels": [int(x) for x in labels]}


def pipeline_ops() -> list[dict]:
    return [{"kind": "pipeline", "query": q, "module": m} for q, m in PIPELINE]


def ingest_stream(seed: int, n_docs: int, n_vectors: int
                  ) -> Iterator[list[dict]]:
    """Cycles of: upsert documents, upsert their vectors, the first read
    of each kind (bm25, hybrid, near_vector) on the fresh state, steady
    reads including a fetch on an unrelated collection, then the corpus
    pass."""
    rng = np.random.default_rng([seed, 3])
    next_id = n_docs
    for cycle in itertools.count():
        batch = write_batch(seed, cycle, next_id, n_vectors)
        next_id += BATCH_NEW
        probe = int(rng.integers(0, len(batch["ids"])))
        yield [
            {"kind": "write", "collection": "documents", "batch": batch},
            {"kind": "write", "collection": "embeddings", "batch": batch},
            {"kind": "bm25", "fresh": True, "collection": "documents",
             "query": batch["marker"], "limit": len(batch["ids"]) + 5,
             "expect_ids": sorted(batch["ids"])},
            {"kind": "hybrid", "fresh": True, "collection": "docs_embedded",
             "query": f"{batch['marker']} {_terms(rng, 1)}",
             "vector": batch["vectors"][probe], "alpha": 0.5,
             "fusion": "relativeScore", "limit": 10},
            {"kind": "vector", "fresh": True, "collection": "embeddings",
             "vector": batch["vectors"][probe], "limit": 10,
             "expect_top": batch["ids"][probe]},
            *(read_op(kind, rng) for kind in STEADY_READS),
            *pipeline_ops(),
        ]


# ---------------------------------------------------------------------------
# execution through the client facade


class Target:
    """Collection handles over one data root (built once, at set-up)."""

    ID_COLS = {"documents": "doc_id", "docs_embedded": "doc_id",
               "embeddings": "vec_id", "part": "p_partkey",
               "orders": "o_orderkey"}

    def __init__(self, spark, root: str):
        from weaviate_spark.client import connect

        self.spark, self.root = spark, root
        client = connect(spark, root)
        self.h = {name: client.collections.get(name).with_config(id_col=col)
                  for name, col in self.ID_COLS.items()}

    def run(self, op: dict, tracer=None):
        """Run one operation to completion; returns its result rows (a
        corpus pass: its DataFrame, collected by the check). The
        DataFrame a read computed stays in ``last_df``. With a tracer, a
        corpus pass is one span named after its operators module."""
        from weaviate_spark.client import Filter

        kind = op["kind"]
        self.last_df = None
        if kind == "pipeline":
            from weaviate_spark.entry_queries import QUERIES

            with (tracer.span(f"operators.{op['module']}.exec") if tracer
                  else contextlib.nullcontext()):
                df = QUERIES[op["query"]](self.spark, self.root)
                df.write.format("noop").mode("overwrite").save()
            self.last_df = df
            return df
        h = self.h[op["collection"]]
        if kind == "write":
            h.data.insert_many(op["frame"], key=self.ID_COLS[op["collection"]])
            return []
        if kind == "fetch":
            df = h.query.fetch_objects(
                filters=Filter.all_of([
                    Filter.by_property("p_size").greater_than(op["min_size"]),
                    Filter.by_property("p_type").equal(op["p_type"])]),
                sort=[("p_retailprice", "desc"), ("p_partkey", "asc")],
                limit=op["limit"])
            cols = op["columns"]
        elif kind == "aggregate":
            p = op["prop"]
            df = h.aggregate.over_all(
                group_by=op["group_by"],
                metrics=[(p, ["count", "mean", "maximum"])],
                filters=Filter.by_property(p).greater_than(op["min_value"]))
            cols = [op["group_by"], f"{p}_count", f"{p}_mean", f"{p}_maximum"]
        elif kind == "bm25":
            df = h.query.bm25(op["query"], limit=op["limit"])
            cols = ["doc_id", "_score"]
        elif kind == "vector":
            df = h.query.near_vector(op["vector"], limit=op["limit"])
            cols = ["vec_id", "_distance"]
        elif kind == "hybrid":
            df = h.query.hybrid(
                op["query"], vector=op["vector"], alpha=op["alpha"],
                fusion_type=op["fusion"], limit=op["limit"])
            cols = ["doc_id", "_score"]
        else:
            raise ValueError(kind)
        self.last_df = df
        return [tuple(r[c] for c in cols) for r in df.collect()]

    def write_frame(self, op: dict):
        """The Spark DataFrame a write op hands to ``insert_many`` (built
        before the write is timed: it is the caller's input)."""
        b = op["batch"]
        if op["collection"] == "documents":
            rows = list(zip(b["ids"], b["texts"], b["langs"], b["sources"],
                            [len(t) for t in b["texts"]]))
            schema = "doc_id long, text string, lang string, source string, n_chars long"
        else:
            rows = list(zip(b["ids"], b["vectors"], b["labels"]))
            schema = "vec_id long, embedding array<float>, label int"
        return self.spark.createDataFrame(rows, schema)


def check(oracle, op: dict, got: list[tuple]) -> str | None:
    """None when ``got`` is the correct result of ``op``, else why not."""
    from oracle import rows_match

    if op["kind"] == "write":
        return None
    if op["kind"] == "pipeline":
        got = list(zip(*(c.to_pylist() for c in got.toArrow().columns)))
    if "expect_ids" in op and sorted(r[0] for r in got) != op["expect_ids"]:
        return "written batch not visible to the next keyword read"
    if "expect_top" in op and (not got or got[0][0] != op["expect_top"]):
        return "written vector is not its own nearest neighbour"
    want = getattr(oracle, op["kind"])(op)
    if not rows_match(got, want,
                      ordered=op["kind"] not in ("aggregate", "pipeline")):
        return f"result differs from oracle: got {got[:3]}.. want {want[:3]}.."
    return None


def user_bytes(op: dict) -> int:
    """Payload bytes of a write batch: text UTF-8 plus 8 bytes per
    integer / 4 per vector element — the size the caller hands over."""
    b = op["batch"]
    if op["collection"] == "documents":
        return sum(len(t.encode()) + len(l) + len(s) + 16
                   for t, l, s in zip(b["texts"], b["langs"], b["sources"]))
    return len(b["ids"]) * (8 + 4 + 4 * datagen.DIM)


def table_ids(root: str, table: str, id_col: str) -> set[int]:
    import duckdb

    glob = os.path.join(root, f"{table}.parquet", "*.parquet")
    return {r[0] for r in duckdb.sql(
        f"SELECT {id_col} FROM read_parquet('{glob}')").fetchall()}
