"""Seeded synthetic tables in the shape of the engine's testdata.

The shapes follow the sf0.1 tables the contract queries read
(documents, embeddings, part, orders): bag-of-words documents over a
small vocabulary, 64-dim float vectors with an integer label, and
TPC-H-style part/orders rows. Every value derives from the seed, so the
same seed writes byte-identical parquet and the DuckDB oracle reads the
very files the engine reads.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
DIM = 64
LABELS = 10
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD"]
PART_WORDS = ["large", "hot", "blue", "ring", "bolt", "steel", "red", "nut"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def doc_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def documents(rng: np.random.Generator, n: int, dup_frac: float = 0.05,
              marker: str | None = None) -> pa.Table:
    """``n`` documents; ``dup_frac`` of them copy an earlier document
    with one word appended (the sf0.1 documents hold near-duplicates
    too).
    ``marker`` is prepended to every text (a term no base document
    contains, used to find a write batch by keyword)."""
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < dup_frac:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " "
                         + VOCAB[int(rng.integers(0, len(VOCAB)))])
        else:
            texts.append(doc_text(rng, int(rng.integers(8, 100))))
    if marker:
        texts = [f"{marker} {t}" for t in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def label_centers(seed: int) -> np.ndarray:
    return np.random.default_rng(seed ^ 0x5EED).normal(
        0.0, 1.0, (LABELS, DIM))


def vectors(rng: np.random.Generator, centers: np.ndarray, n: int
            ) -> tuple[np.ndarray, np.ndarray]:
    labels = rng.integers(0, LABELS, n)
    vecs = centers[labels] + rng.normal(0.0, 1.6, (n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels.astype(np.int32)


def embeddings(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray
               ) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, len(ids) * DIM + 1, DIM), pa.int32()), flat),
        "label": pa.array(labels, pa.int32()),
    })


def part(rng: np.random.Generator, n: int) -> pa.Table:
    w = rng.integers(0, len(PART_WORDS), (n, 2))
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900.0, 2100.0, n), 2),
    })


def orders(rng: np.random.Generator, n: int, n_customers: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
        "o_orderstatus": [ORDER_STATUS[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(800.0, 500000.0, n), 2),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
    })


def write(table: pa.Table, root: str, name: str) -> str:
    """Write ``<root>/<name>.parquet`` as a one-file directory (the
    layout the copy-on-write store rewrites in place)."""
    path = os.path.join(root, f"{name}.parquet")
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
    return path


SIZES = {"documents": 5000, "embeddings": 2000, "part": 20000,
         "orders": 150000}


def tables(seed: int, root: str, names: tuple[str, ...]) -> None:
    """Write the named sf0.1-sized tables under ``root``: 5k documents,
    2k vectors (vec_id == doc_id for the first 2k documents, the
    docs_embedded join), 20k parts, 150k orders over 15k customers.
    Each table has its own random stream, so a table's content does not
    depend on which others are written."""
    for name in names:
        rng = np.random.default_rng([seed, list(SIZES).index(name)])
        n = SIZES[name]
        if name == "documents":
            table = documents(rng, n)
        elif name == "embeddings":
            vecs, labels = vectors(rng, label_centers(seed), n)
            table = embeddings(np.arange(n), vecs, labels)
        elif name == "part":
            table = part(rng, n)
        else:
            table = orders(rng, n, n // 10)
        write(table, root, name)
