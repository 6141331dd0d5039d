"""The written-artifact store (weaviate_spark/sources/artifacts.py): one
layout, commit marker, lock and GC for every index written to disk."""

from __future__ import annotations

import os
import pathlib

from weaviate_spark import registry


def _vector_table(spark, path: str, rows: int, null_vectors: bool = False):
    data = [(i, None if null_vectors else [float(i % 7), 1.0, float(i % 3), 0.5])
            for i in range(rows)]
    (spark.createDataFrame(data, "vec_id long, embedding array<double>")
     .write.mode("overwrite").parquet(path))


def test_rebuild_after_rewrite_keeps_one_fingerprint(spark, tmp_path, monkeypatch):
    """An NN graph and an LSH bucket table of one collection: after the
    table is rewritten and both are rebuilt, only the current
    fingerprint's dir is left under the collection."""
    from weaviate_spark.operators import quantization as Q
    from weaviate_spark.operators.similarity import (
        _lsh_bucket_artifact, nn_descent_graph,
    )

    monkeypatch.setattr(Q, "VECTOR_ARTIFACT_ROOT", str(tmp_path / "vec"))
    registry.clear()
    sf = str(tmp_path / "sf")
    try:
        for rows in (40, 48):
            _vector_table(spark, f"{sf}/emb.parquet", rows)
            assert nn_descent_graph(spark, sf, "emb", k=3, rounds=1,
                                    num_planes=2).count()
            assert _lsh_bucket_artifact(spark, sf, "emb", "vec_id",
                                        "embedding", 2, 42)
        (tag,) = os.listdir(tmp_path / "vec")
        fp_dirs = os.listdir(tmp_path / "vec" / tag / "emb")
        assert len(fp_dirs) == 1, fp_dirs
    finally:
        registry.clear()


def test_lsh_buckets_of_null_vectors_write_nothing(spark, tmp_path, monkeypatch):
    from weaviate_spark.operators import quantization as Q
    from weaviate_spark.operators.similarity import _lsh_bucket_artifact

    monkeypatch.setattr(Q, "VECTOR_ARTIFACT_ROOT", str(tmp_path / "vec"))
    sf = str(tmp_path / "sf")
    _vector_table(spark, f"{sf}/emb.parquet", 5, null_vectors=True)
    assert _lsh_bucket_artifact(spark, sf, "emb", "vec_id", "embedding", 2, 42) is None
    assert not os.path.exists(tmp_path / "vec")


def test_no_copied_artifact_layout():
    """Artifact paths, the commit marker and the lock live in
    sources/artifacts.py only; every writer of an index goes through it."""
    root = pathlib.Path(__file__).resolve().parents[1]
    needles = ('re.sub(r"[^A-Za-z0-9]+", "_", sf_dir', "hashlib.md5(fp",
               "_COMMITTED", "_artifact_lock")
    hits = [
        f"{path.relative_to(root)}:{no}: {line.strip()}"
        for path in sorted((root / "weaviate_spark").rglob("*.py"))
        if path.relative_to(root).as_posix() != "weaviate_spark/sources/artifacts.py"
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if any(n in line for n in needles)
    ]
    assert not hits, "use weaviate_spark/sources/artifacts.py instead:\n" + "\n".join(hits)
