from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from weaviate_spark.session import get_spark

    s = get_spark("weaviate-spark-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="module")
def tmp_artifact_roots(tmp_path_factory):
    """Point the written-index families (BM25, vector codes and graphs,
    bucketed tables) at a temporary directory for one test module, so
    indexes built for its tables never land in the checkout's
    ``.artifacts/``. Handles resolved meanwhile are released on both
    sides, so no module serves frames read from another's root."""
    from weaviate_spark import registry
    from weaviate_spark.operators import bm25, quantization
    from weaviate_spark.sources import bucketed

    root = tmp_path_factory.mktemp("artifacts")
    targets = ((bm25, "BM25_ARTIFACT_ROOT", "bm25"),
               (quantization, "VECTOR_ARTIFACT_ROOT", "vecindex"),
               (bucketed, "ARTIFACT_ROOT", "bucketed"))
    saved = [getattr(m, name) for m, name, _ in targets]
    registry.clear()
    for m, name, sub in targets:
        setattr(m, name, str(root / sub))
    yield root
    registry.clear()
    for (m, name, _), value in zip(targets, saved):
        setattr(m, name, value)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def assert_df_matches_sql(spark_df, duck, sql, sort_by=None, approx=None):
    """Order-insensitive comparison of a Spark DataFrame vs duckdb SQL,
    mirroring the driver's oracle check (row count + values)."""
    sdf = spark_df.toPandas()
    ddf = duck.execute(sql).fetchdf()
    assert list(sorted(sdf.columns)) == list(sorted(ddf.columns)), (
        f"columns differ: {sorted(sdf.columns)} vs {sorted(ddf.columns)}"
    )
    cols = sorted(sdf.columns)
    sdf = sdf[cols].sort_values(by=cols, ignore_index=True)
    ddf = ddf[cols].sort_values(by=cols, ignore_index=True)
    assert len(sdf) == len(ddf), f"row count {len(sdf)} vs {len(ddf)}"
    import pandas as pd

    pd.testing.assert_frame_equal(
        sdf, ddf, check_dtype=False, check_exact=approx is None, rtol=approx or 0
    )
