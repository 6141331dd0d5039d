"""Nodes status API (GET /v1/nodes, /v1/nodes/{nodeName}).

Reference: usecases/nodes/handler.go GetNodeStatus →
adapters/repos/db/nodes.go:115-153 LocalNodeStatus, :277-344
getShardsNodeStatus, :241-249 localNodeBatchStats; models at
entities/models/node_status.go, node_shard_status.go, node_stats.go.

Semantics ported:
* verbosity ``minimal`` (the default) omits the per-shard list and the
  node-level stats; ``verbose`` fills both (nodes.go:129-135).
* an unknown ``class_name`` returns an EMPTY status, not an error
  (nodes.go:120-123 "class not found" → ``&models.NodeStatus{}``).
* ``shard_name`` narrows the verbose listing to one shard
  (nodes.go:277-282); counts and shardCount reflect the narrowed set.
* per-shard fields: objectCount (metadata count — the analogue of
  ``shard.ObjectCountAsync``, nodes.go:309), vectorIndexingStatus =
  the shard's storage status string (nodes.go:331 ``shard.GetStatus()``
  — wired to sources/storagestate.py), vectorQueueLength (0: this
  engine compresses/indexes at ingest, there is no async vector queue —
  matching nodes.go:311-318 where a nil queue reports 0), compressed =
  a committed BQ/SQ code table for the table as it is now (nodes.go:368
  ``isAnyVectorIndexCompressed``), loaded (false only for unloaded /
  shutdown shards, nodes.go:294-303).
* batchStats: ratePerSecond; queueLength only when async indexing is
  off (nodes.go:241-249) — always the case here, so 0.
* operationalMode comes from config, enum-checked like the swagger
  model (node_status.go OperationalMode enum).

Spark mapping: a collection is a ``root/<name>.parquet`` directory
(layout contract shared with usage_limits.local_object_count and
crud._check_object_limit); a SHARD is the whole table for single-shard
collections (shard name = class name) or one ``_tenant=…`` partition
for multi-tenant collections (the reference likewise surfaces tenants
as shards — adapters/repos/db/get_shards_status_with_tenant_test.go).

Scale: the per-shard object counts compile to count-only parquet scans
(footer metadata, no data pages); the DataFrame surface unions one
count aggregate per class — each a 1-row partial-agg, so the union is
driver-cheap at any table size. Nothing here collects data rows.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

OUTPUT_MINIMAL = "minimal"
OUTPUT_VERBOSE = "verbose"

STATUS_HEALTHY = "HEALTHY"
STATUS_UNHEALTHY = "UNHEALTHY"

# node_status.go OperationalMode enum
OPERATIONAL_MODES = ("ReadWrite", "WriteOnly", "ReadOnly", "ScaleOut")

DEFAULT_NODE_NAME = "weaviate-0"


def _tables(root: str) -> list[tuple[str, str]]:
    """(class_name, path) for every table under root, sorted by name."""
    out = []
    for p in sorted(glob.glob(os.path.join(root, "*.parquet"))):
        out.append((os.path.basename(p)[: -len(".parquet")], p))
    return out


def _tenant_partitions(path: str) -> list[tuple[str, str]]:
    """(tenant, partition_path) when the table is partitioned by a
    ``<col>=<value>`` directory layout; [] for single-shard tables."""
    parts = []
    try:
        for d in sorted(os.listdir(path)):
            full = os.path.join(path, d)
            if os.path.isdir(full) and "=" in d:
                parts.append((d.split("=", 1)[1], full))
    except OSError:
        return []
    return parts


def _count_rows(path: str) -> int:
    """Metadata-only row count (parquet footers via pyarrow) — the
    batch analogue of the reference's async per-shard counter
    (nodes.go:309 ObjectCountAsync). Never touches data pages."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


def _is_compressed(root: str, class_name: str) -> bool:
    """isAnyVectorIndexCompressed (nodes.go:368-373): true when a
    committed BQ/SQ code table exists for ``root/class_name`` at the
    table's current fingerprint (an NN graph or LSH bucket table is an
    index, not a compressed one)."""
    from weaviate_spark.operators.quantization import VECTOR_ARTIFACT_ROOT
    from weaviate_spark.sources import artifacts

    fp_dir = artifacts.fingerprint_dir(VECTOR_ARTIFACT_ROOT, root, class_name)
    return fp_dir is not None and any(
        artifacts.committed(d) and os.path.isdir(os.path.join(d, "codes"))
        for d in glob.glob(os.path.join(fp_dir, "*")))


def _shard_rows(root: str, class_name: str = "", shard_name: str = "",
                detect_compression: bool = True) -> list[dict]:
    """One dict per shard, mirroring models.NodeShardStatus."""
    from weaviate_spark.sources import storagestate as ss

    rows: list[dict] = []
    for cls, path in _tables(root):
        if class_name and cls != class_name:
            continue
        tenants = _tenant_partitions(path)
        shards = tenants if tenants else [(cls, path)]
        compressed = detect_compression and _is_compressed(root, cls)
        for shard, spath in shards:
            if shard_name and shard != shard_name:
                continue
            # tenant shards carry their own status key; the whole-table
            # flip covers all of them (storagestate.py check order)
            status = ss.get_shard_status(path, shard if tenants else "")
            if status == ss.STATUS_READY:
                status = ss.get_shard_status(path)
            loaded = status not in (ss.STATUS_SHUTDOWN, ss.STATUS_LOADING,
                                    ss.STATUS_LAZY_LOADING)
            rows.append({
                "class": cls,
                "name": shard,
                # unloaded shards report no count (nodes.go:294-303)
                "object_count": _count_rows(spath) if loaded else 0,
                "vector_indexing_status": status,
                "vector_queue_length": 0,
                "compressed": compressed,
                "loaded": loaded,
            })
    return rows


def local_node_status(root: str, *, output: str = OUTPUT_MINIMAL,
                      class_name: str = "", shard_name: str = "",
                      node_name: str = DEFAULT_NODE_NAME,
                      version: str = "", git_hash: str = "",
                      operational_mode: str = "ReadWrite",
                      rate_per_second: int = 0,
                      detect_compression: bool = True) -> dict:
    """LocalNodeStatus (nodes.go:119-153): the single-node status dict
    in the swagger model's field names."""
    if operational_mode not in OPERATIONAL_MODES:
        raise ValueError(
            f"operationalMode must be one of {OPERATIONAL_MODES}")
    if class_name and not any(
            c == class_name for c, _ in _tables(root)):
        return {}  # class not found → empty status (nodes.go:120-123)

    status: dict = {
        "name": node_name,
        "status": STATUS_HEALTHY,
        "version": version,
        "gitHash": git_hash,
        "operationalMode": operational_mode,
        # queueLength reported because async indexing is off
        # (nodes.go:241-249)
        "batchStats": {"ratePerSecond": rate_per_second,
                       "queueLength": 0},
        "shards": None,
        "stats": None,
    }
    if output == OUTPUT_VERBOSE:
        shards = _shard_rows(root, class_name, shard_name,
                             detect_compression)
        status["shards"] = shards
        status["stats"] = {
            "shardCount": len(shards),
            "objectCount": sum(s["object_count"] for s in shards),
        }
    return status


def node_status_df(spark: SparkSession, root: str, *,
                   class_name: str = "", shard_name: str = "",
                   node_name: str = DEFAULT_NODE_NAME,
                   detect_compression: bool = True) -> DataFrame:
    """Verbose node status as a DataFrame — one row per shard plus the
    node-level stats columns, computed ON Spark: each class contributes
    a count-only aggregate over its parquet scan, the per-class 1-row
    frames are unioned, and the node totals are a window over the union
    (all 1-row-per-class work, trivially cheap at any scale).

    Columns: node, class, shard, object_count, vector_indexing_status,
    vector_queue_length, compressed, loaded, shard_count,
    total_object_count — the flattened NodeStatus/NodeShardStatus/
    NodeStats field set.
    """
    from pyspark.sql.window import Window
    from weaviate_spark.sources import storagestate as ss
    from weaviate_spark.sources.tables import _ensure_session_confs

    _ensure_session_confs(spark)  # events stores TIMESTAMP(NANOS)
    frames: list[DataFrame] = []
    for cls, path in _tables(root):
        if class_name and cls != class_name:
            continue
        tenants = _tenant_partitions(path)
        compressed = detect_compression and _is_compressed(root, cls)
        base = spark.read.parquet(path)
        if tenants:
            tenant_col = os.path.basename(
                tenants[0][1]).split("=", 1)[0]
            counts = (base.groupBy(F.col(tenant_col).cast("string")
                                   .alias("shard"))
                      .agg(F.count(F.lit(1)).alias("object_count")))
        else:
            counts = base.agg(
                F.count(F.lit(1)).alias("object_count"),
            ).select(F.lit(cls).alias("shard"), "object_count")
        if shard_name:
            counts = counts.where(F.col("shard") == F.lit(shard_name))

        def _status_of(shard: str) -> str:
            s = ss.get_shard_status(path, shard)
            return s if s != ss.STATUS_READY else ss.get_shard_status(path)

        _unloaded = (ss.STATUS_SHUTDOWN, ss.STATUS_LOADING,
                     ss.STATUS_LAZY_LOADING)
        if tenants:
            # per-tenant status literals via a map lookup (registry is
            # driver-side; the map is tiny — one entry per tenant)
            smap = {t: _status_of(t) for t, _ in tenants}
            pairs = [F.lit(x) for kv in smap.items() for x in kv]
            status_col = F.coalesce(
                F.create_map(*pairs)[F.col("shard")],
                F.lit(ss.STATUS_READY))
            loaded_col = ~status_col.isin(*_unloaded)
            count_col = F.when(loaded_col, F.col("object_count")) \
                .otherwise(F.lit(0))
        else:
            status = _status_of("")
            loaded = status not in _unloaded
            status_col = F.lit(status)
            loaded_col = F.lit(bool(loaded))
            count_col = (F.col("object_count") if loaded else F.lit(0))
        frames.append(counts.select(
            F.lit(node_name).alias("node"),
            F.lit(cls).alias("class"),
            F.col("shard"),
            count_col.cast("long").alias("object_count"),
            status_col.alias("vector_indexing_status"),
            F.lit(0).cast("long").alias("vector_queue_length"),
            F.lit(bool(compressed)).alias("compressed"),
            loaded_col.alias("loaded"),
        ))
    if not frames:
        return spark.createDataFrame(
            [], "node string, class string, shard string, "
                "object_count long, vector_indexing_status string, "
                "vector_queue_length long, compressed boolean, "
                "loaded boolean, shard_count long, "
                "total_object_count long")
    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)
    w = Window.partitionBy("node")
    return union.select(
        "*",
        F.count(F.lit(1)).over(w).alias("shard_count"),
        F.sum("object_count").over(w).alias("total_object_count"),
    )
