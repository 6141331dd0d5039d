"""The traced benchmark wraps engine functions by name
(perfbench/layers.py) and redirects three artifact roots
(perfbench/env.py): renaming any of them in the engine must fail here,
not later in a traced benchmark run."""

from __future__ import annotations

import os
import sys

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def test_benchmark_hooks_resolve():
    sys.path.insert(0, PERFBENCH)
    try:
        import layers
        from tracing import Tracer
    finally:
        sys.path.remove(PERFBENCH)

    tracer = Tracer()
    layers.install(tracer)  # AttributeError on a renamed engine name
    wrapped = {key for _, key, _, _ in tracer._patches}
    assert {"load_table", "with_materialized_stats",
            "_load_or_build_index_tables", "_resolve_index", "_ckpt",
            "upsert", "invalidate_indexes", "release_caches"} <= wrapped

    from weaviate_spark.operators import bm25, quantization
    from weaviate_spark.sources import bucketed, tables

    for module, name in ((bm25, "BM25_ARTIFACT_ROOT"),
                         (quantization, "VECTOR_ARTIFACT_ROOT"),
                         (bucketed, "ARTIFACT_ROOT")):
        assert isinstance(getattr(module, name), str), name
    assert len(tables._derived_tables) >= 0
    assert layers.registered_frames() >= 0
