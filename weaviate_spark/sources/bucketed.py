"""Physical bucketed fact-table layout (ingest-time artifact).

SCALING.md's central 100-TB layout claim: fact tables are WRITTEN
bucketed + sorted on their primary join key, so reference-resolution
joins between two fact tables run as SortMergeJoins with ZERO
ShuffleExchange on either bucketed side. Reference analogue: the
per-shard key-ordered LSM segment layout
(adapters/repos/db/lsmkv/strategies.go:24-29) — data pre-organised by
key at write time so reads never re-partition.

Spark mechanics: ``df.write.bucketBy(n, key).sortBy(key).saveAsTable``
records the bucket spec in the catalog. A join of two tables bucketed
on their join keys with the same bucket count already satisfies both
sides' required hash-clustered distribution, so EnsureRequirements
inserts no Exchange (proof: tests/test_bucketed.py asserts the executed
plan has a SortMergeJoin, `Bucketed: true` scans, and zero shuffle
exchanges below the join). ``repartition(n, key)`` before the write
uses the same Murmur3 hash as the bucket spec, so each task holds
exactly one bucket -> one file per bucket, which also lets Spark trust
the ``sortBy`` order and skip the pre-join Sort.

At 100 TB this write runs ONCE at ingest (the reference compacts LSM
segments the same way); here the artifact is written at first use per
(source fingerprint, key, bucket count) under .artifacts/bucketed
(sources/artifacts.py) and registered in each session's catalog.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from weaviate_spark import registry
from weaviate_spark.sources import artifacts
from weaviate_spark.sources.tables import load_table, source_paths

ARTIFACT_ROOT = os.path.join(artifacts.ROOT, "bucketed")

# table -> default bucket key (the join key its ref-resolution uses)
BUCKET_KEYS: dict[str, str] = {
    "orders": "o_custkey",      # customer<-orders ref resolution
    "customer": "c_custkey",
    "lineitem": "l_orderkey",   # orders<-lineitem ref resolution
}
N_BUCKETS = 16


class _CatalogTable(str):
    """A registered bucketed table's name; releasing the registry entry
    drops the catalog table (the written files stay: the next resolve
    registers them again while the source is unchanged)."""

    def release(self) -> None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            try:
                spark.sql(f"DROP TABLE IF EXISTS {self}")
            except Exception:
                pass  # catalog unavailable: the next build overwrites it


def bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    key: str | None = None,
    buckets: int = N_BUCKETS,
) -> DataFrame:
    """Load `name` from its bucketed physical layout, building the
    artifact on first use in this session. The returned frame's scan is
    `Bucketed: true`: joins on `key` against an equally-bucketed side
    need no Exchange."""
    from pyspark.sql import functions as F

    key = key or BUCKET_KEYS[name]

    def _build() -> _CatalogTable:
        # the table name and path embed the source fingerprint: a
        # rewritten source is never served from the stale layout, even
        # across sessions
        root = artifacts.artifact_dir(ARTIFACT_ROOT, sf_dir, name, (key, buckets))
        if root is None:
            raise FileNotFoundError(registry.table_path(sf_dir, name))
        tbl = "ws_" + "_".join(os.path.relpath(root, ARTIFACT_ROOT).split(os.sep))
        if spark.catalog.tableExists(tbl):
            return _CatalogTable(tbl)
        df = load_table(spark, sf_dir, name)
        artifacts.build(root, lambda r: (
            df.repartition(buckets, F.col(key))
            .write.format("parquet")
            .bucketBy(buckets, key)
            .sortBy(key)
            .option("path", f"{r}/table")
            .saveAsTable(tbl)
        ))
        if not spark.catalog.tableExists(tbl):
            # committed by an earlier session: register the written files
            # (the bucket spec lives in the catalog, not in the files)
            spark.sql(
                f"CREATE TABLE {tbl} ({df._jdf.schema().toDDL()}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {buckets} BUCKETS "
                f"LOCATION '{root}/table'")
        return _CatalogTable(tbl)

    return spark.table(registry.resolve(
        spark, "bucketed", source_paths(sf_dir, name), (key, buckets), _build))


def bucketed_join(
    left: DataFrame, right: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """Co-located fact-fact join over two bucketed frames. The `merge`
    hint pins SortMergeJoin (at test scale the optimizer would broadcast
    the smaller side; at 100 TB neither fact side fits a broadcast, and
    SMJ over the shared bucket layout is the exchange-free plan)."""
    return left.join(right.hint("merge"), on, how)
