"""Round-11 regression pins for the r10 ADVICE findings.

1. Boost-suffixed query properties ('text^2') hit the same
   searchable-index gate as the bare name (client.py).
2. Export final SUCCESS write is terminal-preserving: a cancel landing
   after the last per-class check is not overwritten (export.py).
3. usage_limits.local_object_count surfaces unreadable tables instead
   of silently undercounting (usage_limits.py).
4. validate_where_indexed walks NESTED property definitions and gates
   IsNull on the indexNullState analogue (schema.py).
5. _release_slot serializes on a dedicated never-unlinked .lock path —
   no stale-inode window (export.py).
"""
from __future__ import annotations

import os

import pytest


# ---------------------------------------------------------------------------
# 1. boost-suffix property validation (ADVICE r10 #1, medium)


def test_boost_suffix_hits_searchable_gate(spark, sf_dir):
    """'text^2' (the documented prop^boost format) must be validated as
    'text': a deleted searchable index rejects the boosted form too."""
    from weaviate_spark import client as C
    from weaviate_spark.schema import (
        Collection, MissingIndexError, Property, Registry,
        delete_property_index,
    )

    coll = Collection("documents", [
        Property("doc_id", "int"),
        Property("text", "text"),
    ])
    reg = Registry()
    reg.add(coll)
    cl = C.connect(spark, sf_dir, registry=reg)
    h = cl.collections.get("documents").with_config(id_col="doc_id")

    # boosted form works while the index exists
    assert h.query.bm25("scan table", query_properties=["text^2"],
                        limit=5).count() == 5
    delete_property_index(coll, "text", filterable=False, searchable=True)
    with pytest.raises(MissingIndexError,
                       match="Is `indexSearchable` option of property "
                             "'text' enabled"):
        h.query.bm25("scan table", query_properties=["text^2"], limit=5)
    # hybrid keyword leg takes the same path
    with pytest.raises(MissingIndexError):
        h.query.hybrid("scan table", vector=None, alpha=0.5,
                       query_properties=["text^2"], limit=5)


# ---------------------------------------------------------------------------
# 2. export final-SUCCESS write preserves a terminal CANCELED
#    (ADVICE r10 #2, low)


def test_export_success_does_not_overwrite_cancel(spark, sf_dir, tmp_path,
                                                  monkeypatch):
    """A cancel that lands AFTER the last per-class _CANCEL check (so
    the scan loop completes normally) must still win: the final status
    write routes through the terminal-preserving _write_progress."""
    from weaviate_spark.sources import export as ex

    backend = str(tmp_path / "backend")
    real_snapshot = ex._snapshot_export
    state = {"cancelled": False}

    def snapshot_then_cancel(spark_, sfd, name, dst):
        real_snapshot(spark_, sfd, name, dst)
        if not state["cancelled"]:
            # cancel lands mid-final-class: after this, the loop sees
            # no more _CANCEL checks before writing the terminal status
            state["cancelled"] = True
            ex.export_cancel(backend, "exp-race")

    monkeypatch.setattr(ex, "_snapshot_export", snapshot_then_cancel)
    meta = ex.export_create(spark, "exp-race", sf_dir, backend,
                            include=["region"])
    assert meta["status"] == ex.CANCELED
    on_disk = ex.read_metadata(backend, "exp-race")
    assert on_disk["status"] == ex.CANCELED
    # artifacts written before the cancel are kept (scheduler.go:314-317)
    assert spark.read.parquet(
        os.path.join(backend, "exp-race", "region")).count() > 0


# ---------------------------------------------------------------------------
# 3. unreadable tables are surfaced, not silently skipped
#    (ADVICE r10 #3, low)


def test_object_count_surfaces_unreadable_table(spark, sf_dir, tmp_path):
    from weaviate_spark.usage_limits import local_object_count

    root = tmp_path / "root"
    root.mkdir()
    # one good table, one corrupt one
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")) \
        .write.mode("overwrite").parquet(str(root / "region.parquet"))
    (root / "broken.parquet").write_bytes(b"not a parquet footer")

    with pytest.warns(RuntimeWarning, match="table 'broken' unreadable"):
        n = local_object_count(spark, str(root))
    assert n == 5  # the readable table still counts
    with pytest.raises(RuntimeError, match="cannot count table 'broken'"):
        local_object_count(spark, str(root), strict=True)


# ---------------------------------------------------------------------------
# 4. nested filterable walk + IsNull null-state gate (ADVICE r10 #4, low)


def test_validate_where_indexed_nested_and_isnull():
    from weaviate_spark.filters import Clause
    from weaviate_spark.schema import (
        Collection, MissingIndexError, Property,
    )

    coll = Collection("people", [
        Property("profile", "object", nested=[
            Property("geo", "object", nested=[
                Property("nat", "text", index_filterable=False),
                Property("city", "text"),
            ]),
        ]),
        Property("name", "text"),
    ])
    from weaviate_spark.schema import validate_where_indexed

    # deep nested property without indexFilterable -> reference error
    # (searcher_nested.go gates each nested property on its own flag)
    with pytest.raises(MissingIndexError,
                       match="Is `indexFilterable` option of property "
                             "'nat' enabled"):
        validate_where_indexed(coll, Clause(
            operator="Equal", path=["profile", "geo", "nat"], value="x"))
    # sibling nested property with the flag on passes
    validate_where_indexed(coll, Clause(
        operator="Equal", path=["profile", "geo", "city"], value="x"))
    # unmodeled segments are left to the compiler (no false rejection)
    validate_where_indexed(coll, Clause(
        operator="Equal", path=["profile", "unmodeled", "leaf"], value=1))

    # IsNull gate: indexNullState off -> typed error, on -> passes
    isnull = Clause(operator="IsNull", path=["name"], value=True)
    validate_where_indexed(coll, isnull)
    coll.index_null_state = False
    with pytest.raises(MissingIndexError, match="indexNullState"):
        validate_where_indexed(coll, isnull)
    # ...including nested inside a boolean tree
    coll2 = Collection("c2", [Property("name", "text")])
    coll2.index_null_state = False
    tree = Clause(operator="And", operands=[
        Clause(operator="Equal", path=["name"], value="a"),
        Clause(operator="IsNull", path=["name"], value=False),
    ])
    with pytest.raises(MissingIndexError, match="indexNullState"):
        validate_where_indexed(coll2, tree)


# ---------------------------------------------------------------------------
# 5. slot release on a dedicated never-unlinked lock path
#    (ADVICE r10 #5, low)


def test_release_slot_dedicated_lock_path(tmp_path):
    """The releaser locks <slot>.lock (never unlinked) and re-reads the
    slot path fresh under the lock — an interleaved new reservation is
    never deleted, and repeated reserve/release cycles keep working."""
    from weaviate_spark.sources import export as ex

    backend = str(tmp_path / "b")
    slot = ex._slot_path(backend)

    ex._reserve_slot(backend, "A")
    ex._release_slot(backend, "B")          # wrong owner: no-op
    assert os.path.exists(slot)
    ex._release_slot(backend, "A")          # owner: released
    assert not os.path.exists(slot)
    assert os.path.exists(slot + ".lock")   # lock path persists

    # stale releaser after a NEW reservation reuses the slot file:
    # fresh-open-under-lock reads the new owner, never deletes it
    ex._reserve_slot(backend, "C")
    ex._release_slot(backend, "A")
    assert os.path.exists(slot)
    with open(slot) as fh:
        assert fh.read().strip() == "C"
    ex._release_slot(backend, "C")
    assert not os.path.exists(slot)
    # releasing against a missing backend_root is a silent no-op
    ex._release_slot(str(tmp_path / "nope"), "X")


# ---------------------------------------------------------------------------
# tenant lifecycle: batch create/delete acceptance parity (VERDICT r10
# ask #2; test/acceptance/multi_tenancy/create_delete_update_tenants_test.go)


def test_tenant_batch_create_delete_acceptance(spark, tmp_path):
    import os

    from weaviate_spark.sources.crud import (
        TenantRegistry, write_tenant_partitioned,
    )

    tdir = str(tmp_path / "mt")
    df = spark.createDataFrame(
        [(1, "tenant1", 1.0), (2, "tenant2", 2.0), (3, "tenant3", 3.0)],
        ["id", "_tenant", "v"],
    )
    write_tenant_partitioned(df, tdir, "_tenant")
    reg = TenantRegistry(tdir, "_tenant")

    # 'Create duplicate tenant once': same name twice in ONE request
    # errors with the reference's message (tenant.go:131)...
    with pytest.raises(ValueError,
                       match="tenant name DoubleTenant existed multiple"):
        reg.create_tenants(["DoubleTenant", "DoubleTenant"])
    # ...and nothing was created by the failed request
    assert "DoubleTenant" not in reg.list()
    assert reg.create_tenants(["DoubleTenant"]) == ["DoubleTenant"]

    # 'Create same tenant multiple times': idempotent, status kept
    reg.create_tenants([("tenant1", "INACTIVE")])
    assert reg.create_tenants(["tenant1"]) == []
    assert reg.status("tenant1") == "INACTIVE"

    # 'Fail to create tenant with forbidden activity status'
    for bad in ("FROZEN", "FREEZING", "UNFREEZING", "OFFLOADED",
                "OFFLOADING", "ONLOADING"):
        with pytest.raises(ValueError):
            reg.create_tenants([("tenantX", bad)])

    # 'Delete same tenant multiple times' / duplicates / non-existent:
    # idempotent, and the tenant's data goes with it
    reg.create_tenants(["tenant2", "tenant3"])
    assert os.path.isdir(os.path.join(tdir, "_tenant=tenant2"))
    assert reg.delete_tenants(["tenant2", "tenant2"]) == ["tenant2"]
    assert not os.path.isdir(os.path.join(tdir, "_tenant=tenant2"))
    assert reg.delete_tenants(["tenant2", "tenant3"]) == ["tenant3"]
    assert reg.delete_tenants(["tenant2"]) == []
    # deleting an OFFLOADED tenant removes the cold copy too
    reg.create_tenants(["tenant1x"])  # keep registry non-trivial
    reg.update("tenant1", "OFFLOADED")
    cold = tdir + "_offload/_tenant=tenant1"
    assert os.path.isdir(cold)
    assert reg.delete_tenants(["tenant1"]) == ["tenant1"]
    assert not os.path.isdir(cold)
    with pytest.raises(KeyError, match="tenant not found"):
        reg.status("tenant1")


# ---------------------------------------------------------------------------
# hybrid leg-reuse scan budget (VERDICT r10 ask #4)


def test_hybrid_executed_scan_budget(spark, sf_dir):
    """hybrid_relative_score's EXECUTED tree (not the toString text,
    which re-prints cached build lineage under every InMemoryTableScan
    and over-reported 44 'scan nodes' at r10): the corpus parquet files
    are scanned ZERO times per query — every corpus read is a cached
    InMemoryTableScan of the session-materialized docs_embedded
    collection — and total executed cache reads stay within the
    <=2-per-leg budget (2 legs + capped leg-frame caches => <=6)."""
    from weaviate_spark.entry_queries import QUERIES
    from weaviate_spark.plans.profile import executed_node_counts

    for name, imts_budget in (("hybrid_relative_score", 6),
                              ("hybrid_rrf", 6)):
        df = QUERIES[name](spark, sf_dir)
        df.count()  # materialize so the AQE final plan exists
        counts = executed_node_counts(df)
        assert counts.get("scan:documents", 0) == 0, (name, counts)
        assert counts.get("scan:embeddings", 0) == 0, (name, counts)
        n_imts = counts.get("InMemoryTableScan", 0)
        assert 1 <= n_imts <= imts_budget, (name, counts)


def test_tenant_auto_creation_and_activation(spark, tmp_path):
    """MultiTenancyConfig.autoTenantCreation / autoTenantActivation
    (multi_tenancy_config.go:32-35): with the flags OFF the reference's
    sentinel errors fire; with creation ON a write to a missing tenant
    creates it ACTIVE (auto_schema.go:565-595); with activation ON an
    INACTIVE or OFFLOADED tenant re-activates implicitly on access —
    including physically onloading an offloaded partition."""
    import os

    from weaviate_spark.sources.crud import (
        TenantRegistry, write_tenant_partitioned,
    )

    tdir = str(tmp_path / "mt")
    df = spark.createDataFrame(
        [(1, "t1", 1.0), (2, "t2", 2.0)], ["id", "_tenant", "v"])
    write_tenant_partitioned(df, tdir, "_tenant")

    # flags off: reference sentinel errors
    strict = TenantRegistry(tdir, "_tenant")
    strict.create_tenants([("t1", "INACTIVE")])
    with pytest.raises(KeyError, match="tenant not found"):
        strict.ensure_active_for_write("brand-new")
    with pytest.raises(PermissionError, match="tenant not active"):
        strict.ensure_active_for_write("t1")
    with pytest.raises(PermissionError, match="tenant not active"):
        strict.read(spark, "t1")

    # flags on: create-on-write, activate-on-access
    auto = TenantRegistry(tdir, "_tenant", auto_tenant_creation=True,
                          auto_tenant_activation=True)
    auto.create_tenants([("t1", "INACTIVE"), "t2"])
    assert auto.ensure_active_for_write("t1", "brand-new", "t1") == [
        "t1", "brand-new"]          # deduped; each touched once
    assert auto.status("t1") == "ACTIVE"
    assert auto.status("brand-new") == "ACTIVE"

    # offloaded tenant: read implicitly onloads the partition
    auto.update("t2", "OFFLOADED")
    assert os.path.isdir(tdir + "_offload/_tenant=t2")
    rows = auto.read(spark, "t2").collect()
    assert [r["id"] for r in rows] == [2]
    assert auto.status("t2") == "ACTIVE"
    assert not os.path.isdir(tdir + "_offload/_tenant=t2")
    assert os.path.isdir(os.path.join(tdir, "_tenant=t2"))

    # creation alone does not grant activation
    create_only = TenantRegistry(tdir, "_tenant", auto_tenant_creation=True)
    create_only.create_tenants([("cold", "INACTIVE")])
    create_only.ensure_active_for_write("fresh")   # created
    with pytest.raises(PermissionError, match="tenant not active"):
        create_only.ensure_active_for_write("cold")


# ---------------------------------------------------------------------------
# shard storage status (entities/storagestate/status.go + the
# PUT /v1/schema/{class}/shards/{shard} surface)


def test_shard_status_readonly_gate(spark, sf_dir, tmp_path):
    """READONLY rejects every mutation with the reference's exact error
    text ('store is read-only', with the 'due to: <reason>' variant
    when the flip carried one) while reads keep serving; READY restores
    writes; ValidateStatus rejects unknown statuses; a tenant shard can
    flip independently, and a table-level READONLY covers all tenants."""
    import os

    from weaviate_spark.sources import crud, storagestate as st

    tdir = str(tmp_path / "t.parquet")
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")) \
        .write.parquet(tdir)
    try:
        # settable statuses only (status.go:43 ValidateStatus)
        with pytest.raises(st.InvalidStatusError,
                           match="invalid storage status"):
            st.update_shard_status(tdir, "LUKEWARM")
        with pytest.raises(st.InvalidStatusError):
            st.update_shard_status(tdir, "LOADING")  # server-set only

        st.update_shard_status(tdir, "READONLY")
        assert st.get_shard_status(tdir) == "READONLY"
        from weaviate_spark.filters import Clause
        flt = Clause(operator="Equal", path=["r_regionkey"], value=0)
        with pytest.raises(st.ReadOnlyError, match="store is read-only"):
            crud.delete_where(spark, tdir, flt)
        # reads still served from a read-only shard
        assert spark.read.parquet(tdir).count() == 5

        # with-reason variant (status.go:28)
        st.update_shard_status(tdir, "READONLY", reason="disk pressure")
        with pytest.raises(st.ReadOnlyError,
                           match="store is read-only due to: disk pressure"):
            crud.delete_where(spark, tdir, flt)

        # READY restores writes and clears the table's entries
        st.update_shard_status(tdir, "READY")
        assert crud.delete_where(spark, tdir, flt) == 1
        assert st.get_shards_status(tdir) == {"_default": "READY"}

        # tenant shards: one tenant read-only, others writable; a
        # table-level flip covers every tenant
        mt = str(tmp_path / "mt")
        df = spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)], ["id", "_tenant", "v"])
        crud.write_tenant_partitioned(df, mt, "_tenant")
        st.update_shard_status(mt, "READONLY", shard="a")
        st.check_writable(mt, shard="b")     # other tenant fine
        with pytest.raises(st.ReadOnlyError):
            st.check_writable(mt, shard="a")
        assert st.get_shards_status(mt)["a"] == "READONLY"
        st.update_shard_status(mt, "READONLY", shard="")
        with pytest.raises(st.ReadOnlyError):
            st.check_writable(mt, shard="b")  # table-wide covers all
        with pytest.raises(st.ReadOnlyError):
            crud.write_tenant_partitioned(df, mt, "_tenant")
    finally:
        st.clear()


def test_local_df_partitioning(spark):
    """local_df (cache.py) must produce identical rows/schema to plain
    createDataFrame but never materialize empty Python-RDD slices: the
    default path spreads any local list over defaultParallelism slices,
    so a 5-row literal frame costs 32 Python worker rounds per action
    (and a coalesce(1) over it replays all 32 pickled partitions
    sequentially through the worker pipe)."""
    from weaviate_spark.cache import local_df

    data = [(1, "a"), (2, "b"), (3, "c")]
    schema = "k int, s string"
    df = local_df(spark, data, schema)
    ref = spark.createDataFrame(data, schema)
    assert df.schema == ref.schema
    assert sorted(df.collect()) == sorted(ref.collect())
    # tasks never exceed rows...
    assert df.rdd.getNumPartitions() == 3
    # ...and wide inputs keep full parallelism
    wide = [(i,) for i in range(1000)]
    par = spark.sparkContext.defaultParallelism
    assert local_df(spark, wide, "k int").rdd.getNumPartitions() == min(1000, par)
    # empty frames stay valid
    assert local_df(spark, [], schema).count() == 0


def test_hash_embed_expr_matches_python(spark):
    """The JVM expression form of the text2vec-dummy (hash_embed_col)
    must replay hash_embed_py BIT-FOR-BIT — same md5 bytes, same
    little-endian uint32, same IEEE division and left-fold
    normalization — including the NULL->'' and all-zero-norm guards.
    The expression removed the ArrowEvalPython stage from every
    vectorize plan (guide §4.1); any drift would silently break the
    md5-mirror oracles."""
    import numpy as np
    from pyspark.sql import functions as F

    from weaviate_spark.modules import hash_embed_col, hash_embed_py

    rows = [
        (0, None), (1, ""), (2, " "), (3, "spark filter join"),
        (4, "héllo wörld 机器学習 🚀"), (5, "a" * 5000), (6, "\t\n|,'\"\\"),
    ]
    df = spark.createDataFrame(rows, "i long, text string")
    got = df.select(
        "i",
        hash_embed_col("text", 16).alias("e"),
        hash_embed_col(F.col("text"), 16, as_float=True).alias("ef"),
    ).collect()

    for r in got:
        p = hash_embed_py(rows[r["i"]][1], 16)
        assert p == r["e"], f"double drift at i={r['i']}"
        assert [float(np.float32(x)) for x in p] == [float(x) for x in r["ef"]], (
            f"float drift at i={r['i']}")
    # no Python evaluation node in the expression plan
    plan = df.select(hash_embed_col("text", 16))._jdf.queryExecution(
    ).executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan
