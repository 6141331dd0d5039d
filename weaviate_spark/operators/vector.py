"""nearVector / nearObject exact search + multi-target combination
(SURVEY §2.5; reference: adapters/repos/db/shard_read.go:612-662,
hnsw/search.go, shard_combine_multi_target.go).

Batch engine = the reference's "brute force under filter" branch, always:
exact distance over the (optionally filtered) scan, then
``orderBy(_distance asc, id asc).limit(k)`` which Spark executes as
TakeOrderedAndProject — per-partition top-k heaps + single merge, no
global sort shuffle. This is the correctness oracle; ANN index plans
(LSH / IVF candidate pruning, operators/similarity.py) are an opt-in
rewrite that must only ever *narrow* the scanned set.

Semantics:
* distance cutoff (`distance`/`certainty` params,
  searchparams/retrieval.go:33-39): post-filter `_distance <= d`;
  certainty converts via (1-c)*2 (cosine only).
* negative limit = "all within distance" (hnsw/search_with_max_dist.go):
  no row cap, cutoff only.
* nearObject (retrieval.go:128-135): look up the query object's vector
  by id (1-row lookup), then nearVector.
* multi-target (dto.go:30-47, shard_combine_multi_target.go:89-260):
  per-target distances joined on id; combine Minimum (default) / Sum /
  Average / ManualWeights; objects missing a target vector drop out
  (inner join across targets).

Scale: distance eval is narrow (no shuffle); top-k is TakeOrdered.
The filtered path pushes the predicate into the scan before any
distance math — at 100 TB the scan cost dominates, so selective
filters make vector search cheaper, exactly the allowlist-first
design of shard_read.go:639-651.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weaviate_spark import registry
from weaviate_spark.cache import local_df, lit_double_array
from weaviate_spark.filters import Clause, apply_where
from weaviate_spark.functions.distance import certainty_to_distance, distance
from weaviate_spark.sources.tables import load_table, source_paths


# Above this corpus size, cosine nearVector defaults to the packed-int8
# SQ compressed-scan + exact-rescore plan (flat/index.go:60-131 shape):
# the candidate scan reads 1/4 of the bytes and does integer shift/mask
# math, the exact float math touches only overfetch*k candidates, and
# measured recall@10 vs the exact scan is 1.0 (ann_recall_audit,
# BENCH_ANN_1M_r07.json — result rows identical at 1M). quantize="bq"
# opts into the 32x sign-bit route instead. Below the threshold the
# exact brute-force scan is already scan-bound and the encoded column
# would not pay for itself.
AUTO_QUANTIZE_MIN_ROWS = 200_000


@dataclass
class NearVectorSpec:
    collection: str
    vector: Sequence[float]
    vector_col: str = "embedding"
    id_col: str = "vec_id"
    metric: str = "cosine"
    limit: int = 100                  # negative => all within distance
    distance: Optional[float] = None  # max-distance cutoff
    certainty: Optional[float] = None # cosine-only alternative
    where: Optional[Clause] = None
    round_digits: Optional[int] = 6
    # quantized routing: "auto" switches to the SQ compressed scan when
    # the corpus exceeds quantize_threshold rows; "sq" forces the
    # packed-int8 scan (4x compression, near-exact recall); "bq" forces
    # the 32x sign-bit scan (LOW RECALL — see the overfetch note below);
    # "off" always brute-forces exact floats
    quantize: str = "auto"
    quantize_threshold: int = AUTO_QUANTIZE_MIN_ROWS
    # candidate budget multiplier (the reference's RescoreLimit dial,
    # flat/index.go:60-131). None = the default 4. quantize="bq" with
    # the default warns: measured recall@10 at 1M x 64-dim is 0.2 at
    # overfetch 4 and only ~0.3 at 64 (BENCH_ANN_1M — 1-bit sign codes
    # saturate at 64 dims); callers who accept that trade should say so
    # with an explicit overfetch, everyone else wants "auto"/"sq"
    # (measured recall 1.0 at the same scale).
    quantize_overfetch: int | None = None
    # SQ bound training for the raw-code (non-cosine) routes: None =
    # exact min/max (the oracle-pinned default). A quantile q (e.g.
    # 0.005) trains percentile-clipped bounds [P_q, P_1-q] instead —
    # the heavy-tail insurance (one 1000x outlier component otherwise
    # stretches the 255-code grid off the data mass; measured recall@10
    # < 0.9 min/max vs >= 0.99 clipped on a 1%-outlier corpus,
    # tests/test_fixes_r09.py). Ignored on the cosine route (unit
    # vectors are bounded by construction).
    quantize_clip: float | None = None


def _corpus_rows(spark: SparkSession, sf_dir: str, collection: str, df: DataFrame) -> int:
    """Row count of the collection (a table-stats stand-in; at real
    scale this is catalog metadata, not a count job), a registry entry
    re-counted after any write to the table."""
    return registry.resolve(spark, "rows", source_paths(sf_dir, collection),
                            (), df.count)


def with_distance(df: DataFrame, spec: NearVectorSpec) -> DataFrame:
    if spec.metric == "cosine":
        from weaviate_spark.functions.distance import cosine_distance_const_query

        d = cosine_distance_const_query(F.col(spec.vector_col), spec.vector)
    else:
        d = distance(F.col(spec.vector_col), lit_double_array(spec.vector),
                     spec.metric)
    if spec.round_digits is not None:
        d = F.round(d, spec.round_digits)
    return df.withColumn("_distance", d)


def near_vector(
    spark: SparkSession, sf_dir: str, spec: NearVectorSpec, df: DataFrame | None = None
) -> DataFrame:
    """nearVector; pass a pre-loaded/pre-filtered ``df`` to reuse
    a scan across legs (hybrid calls this with its shared input).

    Large unfiltered cosine top-k searches route through a compressed
    scan + exact rescore: "auto" picks the packed-int8 SQ route (4x
    fewer bytes, recall@10 measured 1.0 / result rows identical to the
    exact scan at 1M rows — BENCH_ANN_1M_r07.json, ann_recall_audit);
    quantize="bq" opts into the 32x sign-bit route whose candidate
    recall is bounded by 1-bit codes. Both candidate sets are
    deterministic, so results stay value-checkable; the exact
    brute-force path remains for filtered / cutoff / custom-df /
    small-corpus queries and as the recall oracle (quantize="off")."""
    # which compressed route fits the metric: SQ's int8 code distance is
    # a magnitude proxy (right for cosine AND l2-squared); BQ's sign-bit
    # hamming approximates angle only (cosine)
    _route_kind = "bq" if spec.quantize == "bq" else "sq"
    _metric_ok = (
        spec.metric == "cosine"
        if _route_kind == "bq"
        else spec.metric in ("cosine", "l2-squared")
    )
    if (
        df is None
        and _metric_ok
        and spec.limit >= 0
        and spec.distance is None
        and spec.certainty is None
        and (
            # auto routing stays unfiltered-only (the threshold
            # heuristic says nothing about post-filter selectivity);
            # an EXPLICIT quantize="bq"/"sq" also takes the compressed
            # scan with a filter — allowlist-first inside *_topk
            (spec.where is None and spec.quantize in ("auto", "bq", "sq"))
            or (spec.where is not None and spec.quantize in ("bq", "sq"))
        )
    ):
        base = load_table(spark, sf_dir, spec.collection)
        if spec.quantize in ("bq", "sq") or (
            _corpus_rows(spark, sf_dir, spec.collection, base)
            >= spec.quantize_threshold
        ):
            from weaviate_spark.operators.quantization import (
                bq_topk, sq_topk, sq_trained_bounds,
            )

            # "auto" = SQ (recall-safe compressed default); "bq" is the
            # explicit max-compression opt-in
            if spec.quantize == "bq" and spec.quantize_overfetch is None:
                import warnings

                warnings.warn(
                    "quantize='bq' with the default overfetch: measured "
                    "recall@10 at 1M x 64-dim is 0.2 (overfetch=4) and "
                    "~0.3 even at overfetch=64 — 1-bit sign codes carry "
                    "too little signal at this dimensionality. Pass an "
                    "explicit quantize_overfetch to accept the trade, or "
                    "use quantize='auto'/'sq' (measured recall 1.0).",
                    stacklevel=2,
                )
            kwargs = dict(
                id_col=spec.id_col, vector_col=spec.vector_col,
                k=spec.limit,
                overfetch=(4 if spec.quantize_overfetch is None
                           else spec.quantize_overfetch),
                metric=spec.metric,
                round_digits=spec.round_digits if spec.round_digits is not None else 6,
                table_key=(sf_dir, spec.collection),
                where=spec.where,
            )
            if spec.quantize == "bq":
                route = bq_topk
            elif spec.metric == "cosine":
                # cosine: encode UNIT vectors — the L2 code distance is
                # then exactly monotone in cosine distance, and unit
                # components are bounded by [-1, 1] by construction (no
                # bound training needed). Raw-value codes rank by raw
                # L2, which disagrees with cosine whenever norms vary
                # (measured recall@10 0.2 on a varying-norm 1M corpus).
                route = sq_topk
                kwargs["normalize"] = True
            else:
                # l2-squared: raw-value codes, but bounds TRAINED per
                # collection (scalar_quantizer Fit) — fixed [-1,1]
                # saturates unnormalized corpora to code 0/255 and the
                # candidate scan silently degrades
                route = sq_topk
                kwargs["lo"], kwargs["hi"] = sq_trained_bounds(
                    spark, sf_dir, spec.collection, spec.vector_col,
                    clip_quantile=(spec.quantize_clip or 0.0),
                )
            topk = route(spark, sf_dir, spec.collection, spec.vector, **kwargs)
            return (
                base.join(F.broadcast(topk), spec.id_col)
                .orderBy(F.col("_distance").asc(), F.col(spec.id_col).asc())
            )
    if df is None:
        df = apply_where(load_table(spark, sf_dir, spec.collection), spec.where)
    df = with_distance(df, spec)

    cutoff = spec.distance
    if cutoff is None and spec.certainty is not None:
        if spec.metric != "cosine":
            raise ValueError("certainty is cosine-only (distance.go:14-29)")
        cutoff = certainty_to_distance(spec.certainty)
    if cutoff is not None:
        df = df.where(F.col("_distance") <= F.lit(cutoff))

    df = df.orderBy(F.col("_distance").asc(), F.col(spec.id_col).asc())
    if spec.limit >= 0:
        df = df.limit(spec.limit)
    return df


def near_object(
    spark: SparkSession, sf_dir: str, spec: NearVectorSpec, object_id
) -> DataFrame:
    """nearVector with the query vector looked up by object id; the query
    object itself is excluded from results (matches weaviate, which
    returns it at distance 0 — we keep it, callers filter if needed)."""
    src = (
        load_table(spark, sf_dir, spec.collection)
        .where(F.col(spec.id_col) == F.lit(object_id))
        .select(spec.vector_col)
        .collect()
    )
    if not src:
        raise ValueError(f"nearObject: id {object_id!r} not found")
    vec = [float(x) for x in src[0][0]]
    return near_vector(
        spark, sf_dir,
        NearVectorSpec(**{**spec.__dict__, "vector": vec}),
    )


def multi_target_combine(
    legs: Sequence[DataFrame],
    id_col: str,
    combination: str = "min",
    weights: Optional[Sequence[float]] = None,
) -> DataFrame:
    """Join per-target distance legs on id and combine
    (shard_combine_multi_target.go:89-260). Inner join: objects missing
    any target vector drop out (:119-167 drop semantics)."""
    if weights is not None and len(weights) != len(legs):
        raise ValueError("weights must match number of legs")
    out = None
    for i, leg in enumerate(legs):
        leg = leg.select(F.col(id_col), F.col("_distance").alias(f"_d{i}"))
        out = leg if out is None else out.join(leg, id_col, "inner")
    cols = [F.col(f"_d{i}") for i in range(len(legs))]
    if combination == "min":
        combined = F.least(*cols) if len(cols) > 1 else cols[0]
    elif combination == "sum":
        combined = sum(cols[1:], cols[0])
    elif combination == "average":
        combined = sum(cols[1:], cols[0]) / F.lit(float(len(cols)))
    elif combination == "manualWeights":
        ws = weights or [1.0] * len(cols)
        combined = sum(
            (c * F.lit(float(w)) for c, w in list(zip(cols, ws))[1:]),
            cols[0] * F.lit(float(ws[0])),
        )
    else:
        raise ValueError(f"unknown combination {combination!r}")
    return out.withColumn("_distance", combined).select(id_col, "_distance")


def multi_target_relative_score(
    legs: Sequence[DataFrame],
    id_col: str,
    weights: Optional[Sequence[float]] = None,
    leg_limit: int = 100,
    limit: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """RelativeScore multi-target combination (dto.go:37,
    shard_combine_multi_target.go:122-186 -> hybrid_fusion.go
    FusionRelativeScore with descending=false).

    Each leg is a per-target distance frame ``(id_col, _distance)`` over
    the full candidate set.  Reference semantics, re-expressed:

    1. every leg contributes its top-``leg_limit`` ids; the union of
       those ids is the fusion input (ids surfaced by any target);
    2. ids missing from a leg get their true distance back-filled
       (getScoresOfMissingResults — free here, the legs already carry
       every id, so the back-fill is a join, not a re-search);
    3. objects missing a target vector drop out entirely
       (scoresToRemove, :155-167) — the inner join across legs;
    4. per leg, distances min-max normalize over the fusion input:
       ``w * (d - min) / (max - min)`` (all-equal => just ``w``,
       hybrid_fusion.go:131-135), then sum across legs;
    5. ascending sort (smaller combined distance-score is better),
       tie-break id.

    Scale: per-leg top-k is TakeOrderedAndProject; the union id set is
    ≤ legs×leg_limit rows => broadcast joins; min/max is a 1-row agg
    broadcast back.  No global shuffle beyond the top-k merges.
    """
    if weights is None:
        weights = [1.0] * len(legs)
    if len(weights) != len(legs):
        raise ValueError("weights must match number of legs")

    named = [
        leg.select(F.col(id_col), F.col("_distance").alias(f"_d{i}"))
        for i, leg in enumerate(legs)
    ]

    # per-LEG top-k straight off each leg (the reference searches each
    # target index independently), so every leg is scanned exactly
    # twice: once for its TakeOrdered top-k, once for the backfill join
    # against the tiny union id set — not once per downstream branch.
    cand_ids = None
    for i, leg in enumerate(named):
        top = (
            leg.where(F.col(f"_d{i}").isNotNull())
            .orderBy(F.col(f"_d{i}").asc(), F.col(id_col).asc())
            .limit(leg_limit)
            .select(id_col)
        )
        cand_ids = top if cand_ids is None else cand_ids.unionByName(top)
    # cand_ids / cand are tiny (<= legs*leg_limit rows) but referenced by
    # several downstream branches — scratch-cache them so each leg scans
    # exactly twice instead of once per branch
    from weaviate_spark.cache import register_cache, session_key

    cand_ids = register_cache(cand_ids.distinct().cache())

    cand = None
    for leg in named:
        backfill = leg.join(F.broadcast(cand_ids), id_col, "inner")
        cand = backfill if cand is None else cand.join(backfill, id_col, "inner")
    cand = register_cache(cand.cache())
    stats = cand.agg(
        *[F.min(f"_d{i}").alias(f"_min{i}") for i in range(len(legs))],
        *[F.max(f"_d{i}").alias(f"_max{i}") for i in range(len(legs))],
    )
    scored = cand.crossJoin(F.broadcast(stats))
    parts = []
    for i, w in enumerate(weights):
        d, lo, hi = F.col(f"_d{i}"), F.col(f"_min{i}"), F.col(f"_max{i}")
        parts.append(
            F.when(hi != lo, F.lit(float(w)) * (d - lo) / (hi - lo))
            .otherwise(F.lit(float(w)))
        )
    combined = parts[0]
    for p in parts[1:]:
        combined = combined + p
    return (
        scored.withColumn("_score", F.round(combined, round_digits))
        .select(id_col, "_score", *[f"_d{i}" for i in range(len(legs))])
        .orderBy(F.col("_score").asc(), F.col(id_col).asc())
        .limit(limit)
    )


# ---------------------------------------------------------------------------
# Named vectors (entities/dto/dto.go:30-47 TargetCombination;
# shard_read.go:612-662 per-target search keyed by vector name)

@dataclass
class NamedTarget:
    """One named vector space to search: the vector name (a `_vectors`
    field), its query vector, and a ManualWeights weight."""

    name: str
    vector: Sequence[float]
    weight: float = 1.0


def named_vector_col(df: DataFrame, name: str, vectors_col: str = "_vectors") -> Column:
    """Resolve a named vector (models.Vectors map, dto.go:73-107). The
    column convention is a STRUCT `_vectors` with one array<float> field
    per vector name — struct fields get Parquet nested-schema pruning
    (only the searched subfield is read), which a map<string,array>
    column cannot; map columns are still accepted for ingest
    compatibility."""
    from pyspark.sql import types as T

    dt = df.schema[vectors_col].dataType
    if isinstance(dt, T.StructType):
        if name not in dt.fieldNames():
            raise KeyError(f"no named vector {name!r} in {vectors_col}")
        return F.col(f"{vectors_col}.{name}")
    if isinstance(dt, T.MapType):
        return F.col(vectors_col)[name]
    raise TypeError(f"{vectors_col} must be struct or map, got {dt.simpleString()}")


def named_multi_target_search(
    df: DataFrame,
    targets: Sequence[NamedTarget],
    id_col: str,
    combination: str = "min",
    limit: int = 10,
    metric: str = "cosine",
    vectors_col: str = "_vectors",
    round_digits: int = 6,
) -> DataFrame:
    """Multi-target search over NAMED vector spaces of one collection
    (dto.go:30-47; joinWithOtherResults drop semantics,
    shard_combine_multi_target.go:119-167).

    Spark-first plan: because every named vector is a field of the same
    row, the per-target "searches" fuse into ONE narrow scan computing
    each distance as a column expression — no per-leg shuffle, no join.
    Objects missing any searched vector drop out (the reference's inner
    join across target results). Combine: min (default) / sum / average
    / manualWeights / relativeScore; then TakeOrderedAndProject top-k.

    Returns (id_col, _distance, _distances{name: per-target distance})
    (relativeScore returns (id_col, _score, _d0.._dN) via the shared
    fusion path).
    """
    dcols = []
    for t in targets:
        q = lit_double_array(t.vector)
        d = distance(named_vector_col(df, t.name, vectors_col), q, metric)
        dcols.append((t, F.round(d, round_digits)))
    out = df.select(
        F.col(id_col),
        *[d.alias(f"_d_{t.name}") for t, d in dcols],
    )
    for t, _ in dcols:
        out = out.where(F.col(f"_d_{t.name}").isNotNull())
    if combination == "relativeScore":
        legs = [
            out.select(F.col(id_col), F.col(f"_d_{t.name}").alias("_distance"))
            for t, _ in dcols
        ]
        return multi_target_relative_score(
            legs, id_col,
            weights=[float(t.weight) for t, _ in dcols],
            limit=limit, round_digits=round_digits,
        )
    cols = [F.col(f"_d_{t.name}") for t, _ in dcols]
    if combination == "min":
        combined = F.least(*cols) if len(cols) > 1 else cols[0]
    elif combination == "sum":
        combined = sum(cols[1:], cols[0])
    elif combination == "average":
        combined = sum(cols[1:], cols[0]) / F.lit(float(len(cols)))
    elif combination == "manualWeights":
        # Exact DECIMAL arithmetic, not double: w1*d1 + w2*d2 over
        # 6dp-rounded distances with 1dp weights lands EXACTLY on a
        # 7th-decimal half for ~1 row in 10, where double arithmetic
        # (true value just below the half -> round down) and Java's
        # BigDecimal.valueOf shortest-repr rounding (sees the exact
        # "...5" -> HALF_UP) disagree. Decimal keeps the sum exact so
        # the final HALF_UP is deterministic in any engine.
        ws = [float(t.weight) for t, _ in dcols]
        terms = [
            c.cast("decimal(20,6)") * F.lit(w).cast("decimal(10,6)")
            for c, w in zip(cols, ws)
        ]
        combined = sum(terms[1:], terms[0])
    else:
        raise ValueError(f"unknown combination {combination!r}")
    return (
        out.withColumn(
            "_distance", F.round(combined, round_digits).cast("double")
        )
        .withColumn(
            "_distances",
            F.struct(*[F.col(f"_d_{t.name}").alias(t.name) for t, _ in dcols]),
        )
        .select(id_col, "_distance", "_distances")
        .orderBy(F.col("_distance").asc(), F.col(id_col).asc())
        .limit(limit)
    )


def near_vector_batch(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: list[tuple],
    k: int = 10,
) -> DataFrame:
    """Batched exact kNN: top-``k`` per query for a whole batch of
    query vectors in ONE plan — (query_id, id, _distance) rows.

    The query batch is a broadcast literal frame crossed against the
    corpus scan, so the corpus is read ONCE for the entire batch
    (b queries cost one scan + b×n distance expressions, not b scans
    — the difference between 40 s and 4 s of I/O per batch at 100 TB);
    per-query top-k is a bounded window on the query key. The serving
    path for query throughput, complementing the single-query
    ``near_vector`` route (which can instead take the quantized-scan
    shortcut)."""
    from weaviate_spark.functions.distance import cosine_distance

    spark = df.sparkSession
    qdf = local_df(
        spark,
        [(int(qid), [float(x) for x in vec]) for qid, vec in queries],
        "query_id long, _q array<double>",
    )
    scored = df.crossJoin(F.broadcast(qdf)).withColumn(
        "_distance",
        F.round(cosine_distance(F.col(vec_col), F.col("_q")), 6) + F.lit(0.0),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_distance").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= int(k))
        .select("query_id", id_col, "_distance")
    )
