"""Where the traced run puts its spans, and how spans, counters and
Spark's per-operation accounting become the per-layer metrics.

Every span wraps an entry point of one engine layer, from the
benchmark's side (the engine itself is not changed). The corpus-pass
operators return lazy DataFrames, so their ``exec`` span covers the
whole pass step, build and noop sink (see workloads.Target.run).
Per-call figures are means over the calls made in traced operations;
per-op figures are means over traced operations.
"""

from __future__ import annotations

import statistics

from tracing import Tracer

# which end-to-end figure each layer metric should move, on which
# workload (the *_p50_s and pipeline_docs_per_s figures are on the
# report line that precedes each result; setup_s and cpu_s_per_op are
# gated in BENCHMARK.json)
MOVES = {
    "client.build_s": ("op_p50_s", "search_mix"),
    "plans.compile_s": ("fetch_p50_s", "search_mix"),
    "sources.tables.load_s": ("op_p50_s", "search_mix"),
    "sources.tables.load_calls": ("op_p50_s", "search_mix"),
    "sources.tables.derived_builds": ("fresh_read_p50_s (hybrid)", "ingest_mix"),
    "operators.bm25.search_build_s": ("bm25_p50_s", "search_mix"),
    "operators.bm25.index_build_s": ("fresh_read_p50_s; setup_s", "ingest_mix; all"),
    "operators.bm25.index_builds": ("fresh_read_p50_s; setup_s", "ingest_mix; all"),
    "operators.bm25.index_hit_ratio": ("fresh_read_p50_s; setup_s", "ingest_mix; all"),
    "operators.vector.build_s": ("vector_p50_s", "search_mix"),
    "operators.hybrid.build_s": ("hybrid_p50_s", "search_mix"),
    "operators.aggregate.build_s": ("aggregate_p50_s", "search_mix"),
    "operators.dedup.index_build_s": ("setup_s, pipeline_docs_per_s", "ingest_mix"),
    "operators.textstats.exec_s": ("pipeline_docs_per_s", "ingest_mix"),
    "operators.dedup.exec_s": ("pipeline_docs_per_s", "ingest_mix"),
    "operators.rerank.exec_s": ("pipeline_docs_per_s", "ingest_mix"),
    "operators.classification_job.exec_s": ("pipeline_docs_per_s", "ingest_mix"),
    "sources.crud.upsert_s": ("write_p50_s", "ingest_mix"),
    "sources.crud.invalidate_s": ("write_p50_s", "ingest_mix"),
    "sources.crud.bytes_written_per_user_byte":
        ("write_p50_s, stored_bytes_per_data_byte", "ingest_mix"),
    "cache.release_s": ("op_p50_s, peak_rss_mb", "search_mix"),
    "cache.registered_frames": ("op_p50_s, peak_rss_mb", "search_mix"),
    "session.jobs": ("op_p50_s", "search_mix"),
    "session.stages": ("op_p50_s", "search_mix"),
    "session.tasks": ("op_p50_s", "search_mix"),
    "session.analysis_s": ("op_p50_s", "search_mix"),
    "session.optimization_s": ("op_p50_s", "search_mix"),
    "session.planning_s": ("op_p50_s", "search_mix"),
    "session.exec_s": ("pipeline_docs_per_s, cpu_s_per_op", "ingest_mix"),
    "session.scan_bytes": ("pipeline_docs_per_s, cpu_s_per_op", "ingest_mix"),
    "session.shuffle_write_bytes": ("pipeline_docs_per_s, cpu_s_per_op", "ingest_mix"),
    "session.spill_bytes": ("pipeline_docs_per_s, cpu_s_per_op", "ingest_mix"),
    "session.python_rows": ("pipeline_docs_per_s, cpu_s_per_op", "ingest_mix"),
    "trace.overhead_frac": ("none: the cost of tracing itself", "all"),
}
SESSION_KEYS = ("jobs", "stages", "tasks", "analysis_s", "optimization_s",
                "planning_s", "exec_s", "scan_bytes", "shuffle_write_bytes",
                "spill_bytes", "python_rows")


def install(tracer: Tracer) -> None:
    """Register every layer wrap on ``tracer`` (enabled separately).
    The engine modules that import layer functions by name are loaded
    first, so their copies are wrapped too."""
    import weaviate_spark.entry_queries  # noqa: F401
    from weaviate_spark import client
    from weaviate_spark.sources import tables

    for cls, methods in ((client._Query, ("fetch_objects", "bm25",
                                          "near_vector", "hybrid")),
                         (client._Aggregate, ("over_all",))):
        for m in methods:
            tracer.wrap_method(cls, m, "client.build")

    def derived_before(args, kwargs):
        return len(tables._derived_tables)

    def derived_after(args, kwargs, span, before):
        if tracer.in_op() and len(tables._derived_tables) > before:
            tracer.count("op.derived_builds")

    tracer.wrap("weaviate_spark.sources.tables", "load_table",
                "sources.tables.load", on_call=derived_after,
                before=derived_before)
    tracer.wrap("weaviate_spark.plans.compile", "compile_get", "plans.compile")
    tracer.wrap("weaviate_spark.operators.bm25", "bm25_search",
                "operators.bm25.search_build")
    tracer.wrap("weaviate_spark.operators.bm25", "with_materialized_stats",
                "operators.bm25.stats")
    # called from with_materialized_stats only when the session holds no
    # index tables for the corpus: the (re)build or (re)load
    tracer.wrap("weaviate_spark.operators.bm25", "_load_or_build_index_tables",
                "operators.bm25.index_build")
    tracer.wrap("weaviate_spark.operators.vector", "near_vector",
                "operators.vector.build")
    tracer.wrap("weaviate_spark.operators.hybrid", "hybrid_search",
                "operators.hybrid.build")
    tracer.wrap("weaviate_spark.operators.aggregate", "aggregate",
                "operators.aggregate.build")
    # the near-dup index (shingle, signature and set tables) is resolved
    # on every query and checkpointed only when it is (re)built
    tracer.wrap("weaviate_spark.operators.dedup", "_resolve_index",
                "operators.dedup.index")
    tracer.wrap("weaviate_spark.operators.dedup", "_ckpt",
                "operators.dedup.checkpoint")
    tracer.wrap("weaviate_spark.sources.crud", "upsert", "sources.crud.upsert")
    tracer.wrap("weaviate_spark.sources.crud", "invalidate_indexes",
                "sources.crud.invalidate")
    tracer.wrap("weaviate_spark.cache", "release_caches", "cache.release")


def registered_frames() -> int:
    """Frames the engine holds cached or checkpointed for the current
    query (read at the end of each operation)."""
    from weaviate_spark import cache

    return len(cache._live_caches) + len(cache._live_checkpoints)


def _mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


def per_layer(tracer: Tracer, ops: set[int], probes: list[dict],
              overhead_frac: float) -> dict[str, float]:
    """The per-layer metrics from the spans of operations ``ops`` (the
    traced ones) and one Spark accounting record per traced operation."""
    n_ops = max(1, len(ops))
    in_ops = [s for s in tracer.spans if s.op in ops]
    durs = tracer.durations(ops)

    def per_call(name: str) -> float:
        return _mean(durs[name])

    built = {s.parent for s in in_ops if s.name == "operators.bm25.index_build"}
    stats = [s for s in in_ops if s.name == "operators.bm25.stats"]
    builds = [s.end - s.start for s in stats if s.sid in built]
    ckpt = {s.parent for s in in_ops if s.name == "operators.dedup.checkpoint"}
    dedup_builds = [s.end - s.start for s in in_ops
                    if s.name == "operators.dedup.index" and s.sid in ckpt]
    c = tracer.counters
    out = {
        "client.build_s": per_call("client.build"),
        "plans.compile_s": per_call("plans.compile"),
        "sources.tables.load_s": per_call("sources.tables.load"),
        "sources.tables.load_calls": len(durs["sources.tables.load"]) / n_ops,
        "sources.tables.derived_builds": c["op.derived_builds"] / n_ops,
        "operators.bm25.search_build_s": per_call("operators.bm25.search_build"),
        "operators.bm25.index_build_s": _mean(builds),
        "operators.bm25.index_builds": len(builds) / n_ops,
        "operators.bm25.index_hit_ratio":
            (len(stats) - len(builds)) / len(stats) if stats else 0.0,
        "operators.vector.build_s": per_call("operators.vector.build"),
        "operators.hybrid.build_s": per_call("operators.hybrid.build"),
        "operators.aggregate.build_s": per_call("operators.aggregate.build"),
        "operators.dedup.index_build_s": _mean(dedup_builds),
        **{f"operators.{m}.exec_s": per_call(f"operators.{m}.exec")
           for m in ("textstats", "dedup", "rerank", "classification_job")},
        "sources.crud.upsert_s": per_call("sources.crud.upsert"),
        "sources.crud.invalidate_s": per_call("sources.crud.invalidate"),
        "sources.crud.bytes_written_per_user_byte":
            c["op.bytes_written"] / c["op.user_bytes"] if c["op.user_bytes"] else 0.0,
        "cache.release_s": per_call("cache.release"),
        "cache.registered_frames": c["op.registered_frames"] / n_ops,
    }
    for k in SESSION_KEYS:
        out[f"session.{k}"] = _mean([p.get(k, 0.0) for p in probes])
    out["trace.overhead_frac"] = overhead_frac
    return out
