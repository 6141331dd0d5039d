"""GetSpec search dispatch (explorer.go routing) + phone parsing."""

from __future__ import annotations

import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from weaviate_spark.plans import GetSpec, SortKey, compile_get
from weaviate_spark.plans.spec import BM25, Hybrid, NearVector


def test_get_with_bm25(spark, sf_dir):
    out = compile_get(spark, sf_dir, GetSpec(
        collection="documents",
        bm25=BM25(query="spark filter join", properties=["text"]),
        limit=5,
        extra={"id_col": "doc_id"},
    ))
    rows = out.collect()
    assert len(rows) == 5 and "_score" in out.columns


def test_get_with_near_vector(spark, sf_dir):
    from weaviate_spark.entry_queries import QVEC

    out = compile_get(spark, sf_dir, GetSpec(
        collection="embeddings",
        near_vector=NearVector(vector=QVEC),
        limit=3,
        extra={"id_col": "vec_id"},
    ))
    rows = out.collect()
    assert len(rows) == 3
    assert rows[0]["_distance"] <= rows[1]["_distance"]


def test_get_with_hybrid_and_autocut(spark, sf_dir):
    from weaviate_spark.entry_queries import QVEC

    out = compile_get(spark, sf_dir, GetSpec(
        collection="docs_embedded",
        hybrid=Hybrid(query="spark filter join", vector=QVEC, alpha=0.5, fusion="ranked"),
        limit=20, autocut=1,
        extra={"id_col": "doc_id"},
    ))
    n = out.count()
    assert 0 < n <= 20


def test_search_with_sort_rejected(spark, sf_dir):
    with pytest.raises(ValueError):
        compile_get(spark, sf_dir, GetSpec(
            collection="documents",
            bm25=BM25(query="x"),
            sort=[SortKey(path=["doc_id"])],
            extra={"id_col": "doc_id"},
        ))


def test_phone_parse(spark):
    from weaviate_spark.functions.phone import parse_phone

    df = spark.createDataFrame(
        [(1, "+4930123456"), (2, "030 1234567"), (3, "0031 20 555 1234"), (4, "xx")],
        ["id", "phone"],
    )
    out = df.select("id", parse_phone(F.col("phone"), "DE").alias("p")).collect()
    by = {r["id"]: r["p"] for r in out}
    assert by[1]["countryCode"] == 49 and by[1]["valid"] is True
    assert by[1]["internationalFormatted"] == "+4930123456"
    assert by[2]["countryCode"] == 49 and by[2]["nationalFormatted"] == "0301234567"
    assert by[3]["countryCode"] == 31 and by[3]["valid"] is True
    assert by[4]["valid"] is False


def test_array_prop_sort_element_wise(spark):
    """Array-prop sort = element-wise compare, then length, with the
    reference null rules (basic_comparators.go:98-112 stringArray:
    pairwise compareStrings, tie -> compareInts(len); handleNils asc ->
    nulls first). Spark's native array ordering implements exactly this
    — pinned here."""
    from weaviate_spark.plans.compile import sort_cols
    from weaviate_spark.plans.spec import SortKey

    df = spark.createDataFrame(
        [
            (1, ["b", "a"]),
            (2, ["a", "z"]),
            (3, ["a"]),          # prefix of 2/4 -> shorter first
            (4, ["a", "z", "x"]),
            (5, None),           # asc -> first
        ],
        "id long, tags array<string>",
    )
    asc = [r["id"] for r in df.orderBy(sort_cols([SortKey(path=["tags"])])).collect()]
    assert asc == [5, 3, 2, 4, 1]
    desc = [r["id"] for r in
            df.orderBy(sort_cols([SortKey(path=["tags"], order="desc")])).collect()]
    assert desc == [1, 4, 2, 3, 5]


def test_string_sort_case_insensitive(spark):
    """Reference string sort folds case (basic_comparators.go:72-80:
    'Orange' vs 'orange' compare EQUAL; 'apple' < 'Orange'); fold-equal
    ties fall to the next key."""
    from weaviate_spark.plans.compile import sort_cols
    from weaviate_spark.plans.spec import SortKey

    df = spark.createDataFrame(
        [(1, "Orange"), (2, "apple"), (3, "orange"), (4, "Banana")],
        "id long, name string",
    )
    out = [r["id"] for r in df.orderBy(
        *sort_cols([SortKey(path=["name"])], df), F.col("id").asc()
    ).collect()]
    # apple < Banana < {Orange == orange -> id order}
    assert out == [2, 4, 1, 3]
    # byte-order comparison would put the capitals first — pin that we
    # do NOT do that
    assert [r["id"] for r in df.orderBy(F.col("name").asc()).collect()] != out


def _part_promo(limit):
    from weaviate_spark.filters import Clause

    return GetSpec(
        collection="part",
        where=Clause(operator="Like", path=["p_type"], value="PROMO*"),
        sort=[SortKey(path=["p_partkey"])], limit=limit,
        select=["p_partkey", "p_type"],
    )


def test_query_profile_surface(spark, sf_dir):
    """query_profile (search_get.proto MetadataRequest.query_profile
    analogue): phase timings, hottest rules, jobs/stages/tasks of the
    query's own job group, executed-tree node census, plan hash,
    measured wall time — over a real compiled Get query, and over a
    hybrid query whose corpus reads are all cached."""
    from weaviate_spark.entry_queries import QUERIES
    from weaviate_spark.plans.profile import executed_node_counts, query_profile

    keys = {"took_ms", "rows", "jobs", "stages", "tasks", "phases",
            "top_rules", "plan_nodes", "plan_sha", "is_adaptive_final"}
    df = compile_get(spark, sf_dir, _part_promo(10))
    prof = query_profile(df)
    assert set(prof) == keys
    assert prof["rows"] == 10 and prof["took_ms"] > 0
    assert prof["jobs"] >= 1 and prof["stages"] >= 1
    assert prof["tasks"] >= prof["stages"]
    assert {"analysis", "optimization", "planning"} <= set(prof["phases"])
    assert all(v >= 0 for v in prof["phases"].values())
    assert prof["top_rules"] and all(ms >= 0 for _, ms in prof["top_rules"])
    assert prof["plan_nodes"]["TakeOrderedAndProject"] == 1
    assert prof["plan_nodes"]["scan:part"] == 1
    assert len(prof["plan_sha"]) == 12
    assert prof["is_adaptive_final"] in (True, False)

    planned_only = query_profile(df, execute=False)
    assert set(planned_only) == keys
    assert all(planned_only[k] is None
               for k in ("took_ms", "rows", "jobs", "stages", "tasks"))
    assert planned_only["phases"]
    assert planned_only["plan_sha"] == prof["plan_sha"]

    # The census counts the executed tree, not the plan text: the text
    # repeats AQE's initial plan and every cached build lineage, and
    # reported 8 FileScans for a query that scans no file.
    hybrid = QUERIES["hybrid_relative_score"](
        spark, os.path.join(os.path.dirname(sf_dir), "sf0.01"))
    prof = query_profile(hybrid)
    nodes = prof["plan_nodes"]
    assert not [k for k in nodes if k.startswith(("scan:", "FileScan"))], nodes
    assert nodes["InMemoryTableScan"] >= 1, nodes
    assert nodes == executed_node_counts(hybrid)
    assert prof["is_adaptive_final"] is True and prof["jobs"] >= 1


def test_plan_sha_normalizes_ids_not_shape(spark, sf_dir):
    """bench.py's plan hash: two builds whose plans differ only in
    expression ids hash equal; a different limit hashes differently."""
    from weaviate_spark import registry
    from weaviate_spark.entry_queries import QUERIES
    from weaviate_spark.plans.profile import plan_sha

    def build():
        df = QUERIES["filter_sort_limit"](spark, sf_dir)
        return df, df._jdf.queryExecution().executedPlan().toString()

    a, plan_a = build()
    # drop the catalog memo so the rebuild re-reads with fresh ids
    registry.release(registry.table_path(sf_dir, "customer"), "plan")
    b, plan_b = build()
    assert plan_a != plan_b
    assert re.sub(r"#\d+", "#", plan_a) == re.sub(r"#\d+", "#", plan_b)
    assert plan_sha(a) == plan_sha(b)

    assert plan_sha(compile_get(spark, sf_dir, _part_promo(10))) != plan_sha(
        compile_get(spark, sf_dir, _part_promo(11)))


def test_no_copied_profilers():
    """Job-group reads, planning-phase reads and plan-hash normalization
    live in plans/profile.py only; bench.py and the tools import them."""
    root = pathlib.Path(__file__).resolve().parents[1]
    pattern = re.compile(r"getJobIdsForGroup|tracker\(\)\.phases|\[plan_id=")
    paths = [root / "bench.py", *sorted((root / "weaviate_spark").rglob("*.py")),
             *sorted((root / "tools").rglob("*.py"))]
    hits = [
        f"{path.relative_to(root)}:{no}: {line.strip()}"
        for path in paths
        if path.relative_to(root).as_posix() != "weaviate_spark/plans/profile.py"
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not hits, "use weaviate_spark/plans/profile.py instead:\n" + "\n".join(hits)
