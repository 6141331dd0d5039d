"""Client facade (client.py): the weaviate python-client-v4 usage shape
driving the same engine paths the contract queries exercise — each
facade call is checked against a directly-built spec or a hand
computation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weaviate_spark.client import Filter, connect


@pytest.fixture(scope="module")
def client(spark, sf_dir):
    return connect(spark, sf_dir)


def test_fetch_objects_filter_builder_matches_spec(client, spark, sf_dir):
    from weaviate_spark.plans.compile import compile_get
    from weaviate_spark.plans.spec import GetSpec, SortKey
    from weaviate_spark.filters import Clause

    coll = client.collections.get("part")
    got = coll.query.fetch_objects(
        filters=Filter.all_of([
            Filter.by_property("p_type").like("PROMO*"),
            Filter.any_of([
                Filter.by_property("p_size").greater_or_equal(30),
                Filter.by_property("p_size").less_than(5),
            ]),
        ]),
        sort=[("p_partkey", "asc")], limit=50,
        select=["p_partkey", "p_name", "p_size"],
    ).collect()
    want = compile_get(spark, sf_dir, GetSpec(
        collection="part",
        where=Clause(operator="And", operands=[
            Clause(operator="Like", path=["p_type"], value="PROMO*"),
            Clause(operator="Or", operands=[
                Clause(operator="GreaterThanEqual", path=["p_size"], value=30),
                Clause(operator="LessThan", path=["p_size"], value=5),
            ]),
        ]),
        sort=[SortKey(path=["p_partkey"])], limit=50,
        select=["p_partkey", "p_name", "p_size"],
    )).collect()
    assert got == want and len(got) > 0


def test_near_vector_and_near_object(client, spark, sf_dir):
    emb = client.collections.get("embeddings").with_config(
        id_col="vec_id", vector_col="embedding")
    qv = [float(x) for x in
          spark.read.parquet(f"{sf_dir}/embeddings.parquet")
          .where(F.col("vec_id") == 7).collect()[0]["embedding"]]
    top = emb.query.near_vector(qv, limit=5).collect()
    assert top[0]["vec_id"] == 7 and top[0]["_distance"] == 0.0
    assert len(top) == 5

    via_obj = emb.query.near_object(7, limit=5).collect()
    assert [r["vec_id"] for r in via_obj] == [r["vec_id"] for r in top]


def test_bm25_and_hybrid_shapes(client):
    docs = client.collections.get("documents").with_config(
        id_col="doc_id", vector_col="embedding")
    hits = docs.query.bm25("spark filter join", query_properties=["text"],
                           limit=8).collect()
    assert len(hits) == 8
    scores = [r["_score"] for r in hits]
    assert scores == sorted(scores, reverse=True)

    # nearText routes through the module vectorizer into the vector path
    emb = client.collections.get("docs_embedded").with_config(
        id_col="doc_id", vector_col="embedding")
    nt = emb.query.near_text("spark query", limit=3, dim=64).collect()
    assert len(nt) == 3 and nt[0]["_distance"] <= nt[-1]["_distance"]

    hy = docs.query.hybrid("spark filter join", alpha=0.0,
                           query_properties=["text"], limit=5).collect()
    assert len(hy) == 5


def test_aggregate_over_all(client, spark, sf_dir, duck):
    docs = client.collections.get("documents")
    got = docs.aggregate.over_all(
        metrics=[("n_chars", ["mean", "count"])], group_by="lang",
        total_count=True,
    ).orderBy("lang").collect()
    want = duck.execute(
        "SELECT lang, avg(n_chars) AS m, count(n_chars) AS c, count(*) AS n "
        "FROM documents GROUP BY lang ORDER BY lang").fetchall()
    assert len(got) == len(want)
    for g, (lang, m, c, n) in zip(got, want):
        assert g["lang"] == lang
        assert abs(g["n_chars_mean"] - m) < 1e-9
        assert g["n_chars_count"] == c


def test_data_crud_roundtrip(client, spark, tmp_path):
    wclient = connect(spark, str(tmp_path))
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["id", "name", "val"]
    ).write.parquet(f"{tmp_path}/things.parquet")

    things = wclient.collections.get("things")
    things.data.insert_many(
        spark.createDataFrame([(3, "c", 30.0)], ["id", "name", "val"]), key="id")
    things.data.update("id", 1, {"val": 99.0})
    n = things.data.delete_many(Filter.by_property("val").greater_than(25.0))
    assert n == 2  # 99.0 and 30.0
    left = {r["id"] for r in things.query.fetch_objects().collect()}
    assert left == {2}
    assert wclient.collections.exists("things")
    assert "things" in wclient.collections.list_all()


def test_registry_resolution_through_client(client, spark, sf_dir):
    from weaviate_spark.schema import Collection, Property, Registry

    reg = Registry()
    reg.add(Collection("part", [Property("p_name", "text")]))
    reg.add_alias("Parts", "part")
    c2 = connect(spark, sf_dir, registry=reg)
    assert c2.collections.get("Parts")._table == "part"
    with pytest.raises(KeyError):
        c2.collections.get("Nope")


def test_client_tenants_share_the_data_path(spark, tmp_path):
    """Review regression: tenant lifecycle must operate on the SAME
    physical directory the data namespace writes (<root>/<t>.parquet) —
    offload really removes the partition from hot scans."""
    import os

    from weaviate_spark.client import connect
    from weaviate_spark.sources.crud import write_tenant_partitioned

    c = connect(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(1, "acme", 1.0), (2, "globex", 2.0)], ["id", "_tenant", "v"])
    write_tenant_partitioned(df, f"{tmp_path}/accounts.parquet", "_tenant")
    coll = c.collections.get("accounts")
    coll.tenants.create("acme")
    coll.tenants.create("globex")
    assert {r["id"] for r in coll.tenants.read(spark, "acme").collect()} == {1}
    coll.tenants.update("acme", "OFFLOADED")
    # the partition physically left the hot table root
    assert not os.path.isdir(f"{tmp_path}/accounts.parquet/_tenant=acme")
    assert {r["id"] for r in coll.query.fetch_objects().collect()} == {2}
    coll.tenants.update("acme", "ACTIVE")
    assert {r["id"] for r in coll.tenants.read(spark, "acme").collect()} == {1}


def test_client_namespaces_map_to_distinct_tables(spark, tmp_path):
    """Review regression: ns:Class and root Class are DIFFERENT physical
    tables; fetch_object_by_id honors the configured id column."""
    from weaviate_spark.client import connect
    from weaviate_spark.schema import Collection, Property, Registry

    reg = Registry()
    reg.create_namespace("team-a")
    reg.add(Collection("Thing", [Property("name", "text")]), namespace="team-a")
    reg.add(Collection("Thing", [Property("name", "text")]))
    spark.createDataFrame([(1, "root")], ["tid", "name"]).write.parquet(
        f"{tmp_path}/Thing.parquet")
    spark.createDataFrame([(2, "teamed")], ["tid", "name"]).write.parquet(
        f"{tmp_path}/team-a:Thing.parquet")

    c = connect(spark, str(tmp_path), registry=reg)
    root = c.collections.get("Thing").with_config(id_col="tid")
    teamed = c.collections.get("team-a:Thing").with_config(id_col="tid")
    assert root._table == "Thing" and teamed._table == "team-a:Thing"
    assert root.query.fetch_objects().collect()[0]["name"] == "root"
    assert teamed.query.fetch_objects().collect()[0]["name"] == "teamed"
    assert root.query.fetch_object_by_id(1).collect()[0]["name"] == "root"
    assert teamed.query.fetch_object_by_id(2).collect()[0]["name"] == "teamed"


def test_client_near_object_default_id_matches_compile(spark, sf_dir):
    """Review regression: near_object must use the handle's configured
    id/vector columns, matching its sibling near_vector."""
    emb = connect(spark, sf_dir).collections.get("embeddings").with_config(
        id_col="vec_id", vector_col="embedding")
    top = emb.query.near_object(3, limit=3).collect()
    assert top[0]["vec_id"] == 3 and top[0]["_distance"] == 0.0


def test_data_insert_many_with_report(spark, tmp_path):
    """Facade batch insert returns the per-object result array and
    merges only the valid objects."""
    wclient = connect(spark, str(tmp_path))
    spark.createDataFrame(
        [(1, "a", 10.0)], ["id", "name", "val"]
    ).write.parquet(f"{tmp_path}/things.parquet")
    things = wclient.collections.get("things")
    batch = spark.createDataFrame(
        [(1, "a2", 11.0), (None, "x", 1.0), (2, "b", 2.0)],
        "id long, name string, val double",
    )
    report, n = things.data.insert_many_with_report(batch, "id")
    assert n == 2
    got = {r["id"]: r["status"] for r in report.collect()}
    assert got == {1: "SUCCESS", None: "FAILED", 2: "SUCCESS"}
    rows = {(r["id"], r["name"]) for r in things.query.fetch_objects().collect()}
    assert rows == {(1, "a2"), (2, "b")}


def test_data_optimize_compact_and_zorder(spark, tmp_path):
    """client-facade maintenance: optimize() compacts small files;
    optimize(zorder=[...]) rewrites clustered — content preserved,
    file count as sized."""
    import glob

    wclient = connect(spark, str(tmp_path))
    rows = [(i, i % 97, (i * 31) % 89) for i in range(4000)]
    df = spark.createDataFrame(rows, ["id", "a", "b"])
    df.repartition(16).write.parquet(f"{tmp_path}/facts.parquet")

    facts = wclient.collections.get("facts")
    n = facts.data.optimize(target_rows_per_file=2000)
    assert n == 2
    assert len(glob.glob(f"{tmp_path}/facts.parquet/*.parquet")) == 2

    n = facts.data.optimize(zorder=["a", "b"], target_rows_per_file=1000)
    assert n == 4
    got = sorted(
        tuple(r) for r in facts.query.fetch_objects(limit=5000).collect())
    assert got == sorted(rows)


def test_neighbors_graph_route(client, spark, sf_dir):
    """query.neighbors: on-corpus neighbor lookup via the k-NN graph
    artifact — excludes the object itself and agrees with the exact
    top-k on this corpus (the measured recall-1.0 workload)."""
    from weaviate_spark import registry

    emb = client.collections.get("embeddings").with_config(
        id_col="vec_id", vector_col="embedding")
    registry.clear()
    got = emb.query.neighbors(7, limit=5).collect()
    assert len(got) == 5
    assert all(r["vec_id"] != 7 for r in got)
    assert [r["_distance"] for r in got] == sorted(
        r["_distance"] for r in got)

    qv = [float(x) for x in
          spark.read.parquet(f"{sf_dir}/embeddings.parquet")
          .where(F.col("vec_id") == 7).collect()[0]["embedding"]]
    exact = emb.query.near_vector(qv, limit=6).collect()
    exact_ids = [r["vec_id"] for r in exact if r["vec_id"] != 7][:5]
    overlap = len({r["vec_id"] for r in got} & set(exact_ids))
    assert overlap >= 3  # near-exact on the tiny corpus

    import pytest as _pytest
    with _pytest.raises(KeyError):
        emb.query.neighbors(10_000_000_007)
    registry.clear()


def test_get_meta(spark, tmp_path):
    from weaviate_spark.client import connect

    meta = connect(spark, str(tmp_path)).get_meta()
    assert meta["hostname"] == f"file://{tmp_path}"
    assert meta["version"]
    mods = meta["modules"]
    assert mods["text2vec-dummy"]["family"] == "text2vec"
    # import-gated real-model registrations appear iff importable;
    # either way the dummy baseline is always present
    assert all(isinstance(v, dict) and "family" in v
               for v in mods.values())


def test_data_validate_and_verbose_delete(spark, tmp_path):
    from weaviate_spark.client import connect
    from weaviate_spark.filters import Clause
    from weaviate_spark.schema import Collection, Property, Registry
    from weaviate_spark.sources.object_validation import (
        ObjectValidationError)

    reg = Registry()
    reg.add(Collection("doc", [Property("title", "text")]))
    client = connect(spark, str(tmp_path), registry=reg)
    spark.createDataFrame(
        [(i, "t") for i in range(6)], "k long, title string"
    ).write.parquet(f"{tmp_path}/doc.parquet")
    coll = client.collections.get("doc")

    coll.data.validate({"class": "doc",
                        "properties": {"title": "ok"}})
    with pytest.raises(ObjectValidationError, match="invalid text"):
        coll.data.validate({"class": "doc", "properties": {"title": 4}})
    with pytest.raises(ObjectValidationError, match="unknown property"):
        coll.data.validate({"class": "doc", "properties": {"x": 1}})
    coll.data.validate({"class": "doc", "properties": {"x": 1}},
                       auto_schema=True)

    res, objs = coll.data.delete_many_with_output(
        Clause(operator="LessThan", path=["k"], value=3), "k",
        output="verbose")
    assert res["matches"] == 3 and res["successful"] == 3
    assert {r["id"] for r in objs.collect()} == {"0", "1", "2"}
    assert spark.read.parquet(f"{tmp_path}/doc.parquet").count() == 3
