"""DuckDB oracles for the benchmark's operations.

Views read the run's table directories afresh on every query, so after
a copy-on-write swap the oracle sees the state the engine just wrote.
Comparisons take whole rows, in order where the operation defines
one, with floats equal within a small tolerance.
"""

from __future__ import annotations

import os

import duckdb

from weaviate_spark.entry_queries import ORACLES
from weaviate_spark.operators.bm25 import bm25_oracle_sql
from weaviate_spark.operators.hybrid import hybrid_oracle_sql


class Oracle:
    def __init__(self, root: str, tables: list[str]):
        self.con = duckdb.connect()
        # checks run between operations, while Spark is idle
        self.con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        for t in tables:
            glob = os.path.join(root, f"{t}.parquet", "*.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    # -- per-kind expected results ----------------------------------------

    def fetch(self, op: dict) -> list[tuple]:
        cols = ", ".join(op["columns"])
        return self.rows(
            f"SELECT {cols} FROM {op['collection']} "
            f"WHERE p_size > {op['min_size']} AND p_type = '{op['p_type']}' "
            f"ORDER BY p_retailprice DESC, p_partkey ASC LIMIT {op['limit']}")

    def aggregate(self, op: dict) -> list[tuple]:
        p = op["prop"]
        return self.rows(
            f"SELECT {op['group_by']}, count({p}), avg({p}), max({p}) "
            f"FROM {op['collection']} WHERE {p} > {op['min_value']} "
            f"GROUP BY 1 ORDER BY 1")

    def bm25(self, op: dict) -> list[tuple]:
        return self.rows(
            "SELECT doc_id, _score FROM (" + bm25_oracle_sql(
                op["collection"], "text", "doc_id", op["query"],
                limit=op["limit"]) + ")")

    def vector(self, op: dict) -> list[tuple]:
        qv = "[" + ", ".join(repr(float(x)) for x in op["vector"]) + "]::DOUBLE[]"
        return self.rows(f"""
            SELECT vec_id, round(1 - list_dot_product(ev, q) /
              (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(q, q))), 6) AS d
            FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev,
                         {qv} AS q FROM {op['collection']})
            ORDER BY d ASC, vec_id ASC LIMIT {op['limit']}""")

    def hybrid(self, op: dict) -> list[tuple]:
        return self.rows(
            "SELECT doc_id, _score FROM (" + hybrid_oracle_sql(
                op["query"], op["vector"], alpha=op["alpha"],
                fusion=op["fusion"], limit=op["limit"]) + ")")

    def pipeline(self, op: dict) -> list[tuple]:
        return self.rows(ORACLES[op["query"]])


def _close(a, b, tol: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        a, b = float(a), float(b)
        return abs(a - b) <= tol * max(1.0, abs(a), abs(b))
    return a == b


def _sort_key(row: tuple) -> tuple:
    return tuple((x is None, round(x, 3) if isinstance(x, float) else x)
                 for x in row)


def rows_match(got: list[tuple], want: list[tuple], ordered: bool = True,
               tol: float = 2e-6) -> bool:
    """Row-for-row equality, floats within ``tol`` (relative above 1):
    engine and oracle round the same sums taken in different orders.
    Unordered results compare as sorted lists."""
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    return all(
        len(g) == len(w) and all(_close(a, b, tol) for a, b in zip(g, w))
        for g, w in zip(got, want))
