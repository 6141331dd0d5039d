"""Nodes status API (usecases/nodes/handler.go, adapters/repos/db/
nodes.go LocalNodeStatus / getShardsNodeStatus)."""

from __future__ import annotations

import os

import pytest

from weaviate_spark.sources import nodes as N
from weaviate_spark.sources import storagestate as ss


@pytest.fixture()
def clean_status():
    yield
    ss.clear()


def test_minimal_omits_shards_and_stats(sf_dir):
    st = N.local_node_status(sf_dir, detect_compression=False)
    assert st["shards"] is None and st["stats"] is None
    assert st["status"] == "HEALTHY"
    assert st["name"] == "weaviate-0"
    # async indexing off → queueLength reported (nodes.go:241-249)
    assert st["batchStats"] == {"ratePerSecond": 0, "queueLength": 0}


def test_verbose_counts_every_table(sf_dir):
    st = N.local_node_status(sf_dir, output="verbose",
                             detect_compression=False)
    assert st["stats"]["shardCount"] == 10
    by_class = {s["class"]: s for s in st["shards"]}
    assert set(by_class) == {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings"}
    # single-shard collections: shard name = class name
    assert all(s["name"] == s["class"] for s in st["shards"])
    assert st["stats"]["objectCount"] == sum(
        s["object_count"] for s in st["shards"])
    assert by_class["region"]["object_count"] == 5
    assert all(s["vector_indexing_status"] == "READY"
               and s["loaded"] for s in st["shards"])


def test_unknown_class_returns_empty_status(sf_dir):
    # nodes.go:120-123: class not found → empty status, NOT an error
    assert N.local_node_status(sf_dir, output="verbose",
                               class_name="NoSuchClass") == {}


def test_class_and_shard_filters(sf_dir):
    st = N.local_node_status(sf_dir, output="verbose",
                             class_name="region",
                             detect_compression=False)
    assert st["stats"] == {"shardCount": 1, "objectCount": 5}
    st2 = N.local_node_status(sf_dir, output="verbose",
                              class_name="region", shard_name="nope",
                              detect_compression=False)
    assert st2["stats"] == {"shardCount": 0, "objectCount": 0}


def test_operational_mode_enum():
    with pytest.raises(ValueError):
        N.local_node_status("/tmp", operational_mode="Turbo")
    st = N.local_node_status("/tmp/empty-none", operational_mode="ReadOnly")
    assert st["operationalMode"] == "ReadOnly"


def test_shard_status_wired_to_storagestate(sf_dir, clean_status):
    table = os.path.join(sf_dir, "region.parquet")
    ss.update_shard_status(table, "READONLY", reason="disk pressure")
    st = N.local_node_status(sf_dir, output="verbose",
                             class_name="region",
                             detect_compression=False)
    (shard,) = st["shards"]
    # vectorIndexingStatus carries shard.GetStatus() (nodes.go:331);
    # READONLY still serves reads, so the shard stays loaded + counted
    assert shard["vector_indexing_status"] == "READONLY"
    assert shard["loaded"] and shard["object_count"] == 5
    ss.update_shard_status(table, "SHUTDOWN")
    st = N.local_node_status(sf_dir, output="verbose",
                             class_name="region",
                             detect_compression=False)
    (shard,) = st["shards"]
    # unloaded shards report no count (nodes.go:294-303)
    assert not shard["loaded"] and shard["object_count"] == 0


def test_compressed_detects_vector_artifacts(spark, sf_dir, tmp_path,
                                             monkeypatch):
    import shutil

    from weaviate_spark.operators import quantization as Q
    from weaviate_spark.operators.similarity import _nng_artifact_dir
    from weaviate_spark.sources import artifacts

    monkeypatch.setattr(Q, "VECTOR_ARTIFACT_ROOT", str(tmp_path / "vec"))
    assert not N._is_compressed(sf_dir, "embeddings")
    # a committed NN graph is an index, not a compressed one
    nng = _nng_artifact_dir(sf_dir, "embeddings", 5, 1, "vec_id",
                            "embedding", 4, 42)
    artifacts.build(nng, lambda r: os.makedirs(f"{r}/graph"))
    assert not N._is_compressed(sf_dir, "embeddings")
    # another sf's BQ codes say nothing about this one
    other = tmp_path / "other_sf"
    other.mkdir()
    shutil.copy(f"{sf_dir}/embeddings.parquet", other / "embeddings.parquet")
    assert Q.build_bq_artifact(spark, str(other), "embeddings")
    assert not N._is_compressed(sf_dir, "embeddings")
    assert N._is_compressed(str(other), "embeddings")
    assert Q.build_bq_artifact(spark, sf_dir, "embeddings")
    assert N._is_compressed(sf_dir, "embeddings")
    st = N.local_node_status(sf_dir, output="verbose",
                             class_name="embeddings")
    (shard,) = st["shards"]
    assert shard["compressed"]  # isAnyVectorIndexCompressed


def test_df_matches_local_status(spark, sf_dir):
    rows = N.node_status_df(spark, sf_dir,
                            detect_compression=False).collect()
    st = N.local_node_status(sf_dir, output="verbose",
                             detect_compression=False)
    got = {(r["class"], r["shard"]): r["object_count"] for r in rows}
    want = {(s["class"], s["name"]): s["object_count"]
            for s in st["shards"]}
    assert got == want
    assert rows[0]["shard_count"] == 10
    assert rows[0]["total_object_count"] == st["stats"]["objectCount"]


def test_df_tenant_shards(spark, tmp_path, clean_status):
    from weaviate_spark.sources.crud import write_tenant_partitioned

    table = str(tmp_path / "mt.parquet")
    df = spark.createDataFrame(
        [(1, "a", "t1"), (2, "b", "t1"), (3, "c", "t2")],
        "id long, v string, _tenant string")
    write_tenant_partitioned(df, table, "_tenant")
    # tenant partitions surface as shards (get_shards_status_with_
    # tenant_test.go analogue); a tenant-level flip shows per shard
    ss.update_shard_status(table, "READONLY", shard="t2")
    rows = {r["shard"]: r for r in N.node_status_df(
        spark, str(tmp_path), detect_compression=False).collect()}
    assert set(rows) == {"t1", "t2"}
    assert rows["t1"]["object_count"] == 2
    assert rows["t2"]["object_count"] == 1
    assert rows["t1"]["vector_indexing_status"] == "READY"
    assert rows["t2"]["vector_indexing_status"] == "READONLY"
    st = N.local_node_status(str(tmp_path), output="verbose",
                             detect_compression=False)
    assert {s["name"]: s["object_count"] for s in st["shards"]} == {
        "t1": 2, "t2": 1}
