"""Re-ranking post-stages: boost, MMR, legacy group merge, Explore
cross-class search, kNN classification (SURVEY §2.3/§2.5).

All of these operate on an already-capped search window (boost overfetch
Depth default 100, MMR window <= limit), so window functions and
driver-side greedy loops are exact and cheap — the corpus never flows
through these stages.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window

from weaviate_spark.cache import ensure_min_partitions
from weaviate_spark.functions.distance import as_matrix, distance, micros, top_k
from pyspark.sql import functions as F

from weaviate_spark.filters import Clause, compile_where

BOOST_DEFAULT_DEPTH = 100


@dataclass
class BoostCondition:
    """entities/filters/boost.go:52-59: exactly one of filter /
    property_value / numeric decay; weight may be negative (demote)."""

    weight: float = 1.0
    filter: Optional[Clause] = None
    property_value: Optional[str] = None          # numeric column path
    pv_modifier: str = "none"                     # none | log1p | sqrt
    decay_col: Optional[str] = None               # numeric decay
    decay_origin: float = 0.0
    decay_scale: float = 1.0
    decay_offset: float = 0.0
    decay_curve: str = "gauss"                    # exp | gauss | linear
    decay_value: float = 0.5


def _pv_expr(cond: BoostCondition) -> Column:
    """The (pre-normalization) property-value expression of a condition."""
    v = F.col(cond.property_value).cast("double")
    if cond.pv_modifier == "log1p":
        v = F.log1p(F.greatest(v, F.lit(0.0)))
    elif cond.pv_modifier == "sqrt":
        v = F.sqrt(F.greatest(v, F.lit(0.0)))
    return v


def _minmax_norm(c: Column, mx: Column, mn: Column) -> Column:
    return F.when(mx == mn, F.lit(1.0)).otherwise((c - mn) / (mx - mn))


def _condition_score(df: DataFrame, cond: BoostCondition, idx: int) -> Column:
    """Per-row condition score; property_value conditions read their
    min/max from the broadcast stats columns `_mx{idx}` / `_mn{idx}`."""
    if cond.filter is not None:
        # binary: 1 if match else 0 (boost.go:54)
        return F.when(F.coalesce(compile_where(df, cond.filter), F.lit(False)), 1.0).otherwise(0.0)
    if cond.property_value is not None:
        return _minmax_norm(_pv_expr(cond), F.col(f"_mx{idx}"), F.col(f"_mn{idx}"))
    if cond.decay_col is not None:
        dist = F.greatest(
            F.abs(F.col(cond.decay_col).cast("double") - F.lit(cond.decay_origin))
            - F.lit(cond.decay_offset),
            F.lit(0.0),
        )
        s, dv = cond.decay_scale, cond.decay_value
        if cond.decay_curve == "linear":
            return F.greatest(F.lit(1.0) - dist * (1 - dv) / s, F.lit(0.0))
        if cond.decay_curve == "exp":
            lam = math.log(dv) / s
            return F.exp(dist * lam)
        # gauss: exp(dist^2 * ln(dv) / scale^2)
        lam = math.log(dv) / (s * s)
        return F.exp(dist * dist * F.lit(lam))
    raise ValueError("boost condition needs filter, property_value, or decay_col")


def boost_rerank(
    hits: DataFrame,
    score_col: str,
    conditions: Sequence[BoostCondition],
    weight: float = 0.5,
    id_col: str = "_id",
    descending: bool = True,
) -> DataFrame:
    """Blended re-rank (usecases/traverser/boost_scorer.go:67-160):
    primary scores min-max normalized over the result set (all-equal ->
    1), boost = sum(w_i * cond_i) / sum(|w_i|), final = (1-w)*
    primary_norm + w*boost; re-sort final desc, id asc. Distance-shaped
    primaries should be converted to scores first (distToScore).

    All min/max come from ONE 1-row aggregate broadcast back over the
    hits (no single-partition window) — correct and scale-safe even on
    an uncapped input."""
    if not conditions or weight <= 0:
        return hits
    primary = F.col(score_col).cast("double")
    if not descending:
        primary = -primary

    aggs = [F.max(primary).alias("_mxp"), F.min(primary).alias("_mnp")]
    for i, c in enumerate(conditions):
        if c.property_value is not None:
            v = _pv_expr(c)
            aggs += [F.max(v).alias(f"_mx{i}"), F.min(v).alias(f"_mn{i}")]
    stats = hits.agg(*aggs)
    out = hits.crossJoin(F.broadcast(stats))

    p_norm = _minmax_norm(primary, F.col("_mxp"), F.col("_mnp"))
    weight_sum = sum(abs(c.weight) for c in conditions) or 1.0
    boost = None
    for i, c in enumerate(conditions):
        term = _condition_score(out, c, i) * F.lit(c.weight)
        boost = term if boost is None else boost + term
    boost = boost / F.lit(weight_sum)
    out = out.withColumn(
        "_boosted_score", F.round((1 - weight) * p_norm + weight * boost, 6)
    ).drop(*[f.name for f in stats.schema.fields])
    return out.orderBy(F.col("_boosted_score").desc(), F.col(id_col).asc())


# ---------------------------------------------------------------------------
# MMR diversification (adapters/repos/db/selection_hybrid.go:28-90)

def mmr_select(
    rows: list[dict],
    vector_key: str,
    score_key: str,
    k: int,
    balance: float = 0.5,
) -> list[dict]:
    """Greedy maximal-marginal-relevance over a collected window
    (<= limit rows — driver-side by design, like the reference which
    operates on the fetched window): next = argmax balance*relevance -
    (1-balance)*max_cosine_sim_to_selected."""

    def cos(a, b):
        dp = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return dp / (na * nb)

    remaining = list(rows)
    selected: list[dict] = []
    while remaining and len(selected) < k:
        best, best_val = None, -float("inf")
        for r in remaining:
            rel = float(r[score_key])
            sim = max((cos(r[vector_key], s[vector_key]) for s in selected), default=0.0)
            val = balance * rel - (1 - balance) * sim
            if val > best_val:
                best, best_val = r, val
        selected.append(best)
        remaining.remove(best)
    return selected


def diversify_results(
    rows: list[dict],
    vector_key: str,
    score_key: str,
    limit: int,
    balance: float = 0.5,
) -> list[dict]:
    """Full MMR diversification pass (diversifyResults,
    adapters/repos/db/selection_hybrid.go): returns the COMPLETE
    ordering, not just the page —

    * vectorless candidates (BM25-only hits) keep their original
      relevance slots, inside or outside the page;
    * the remaining page slots (first ``limit``) fill by greedy MMR over
      the vectored candidates;
    * every slot past the page keeps the unselected candidates in their
      original relevance order.

    Operates on the fetched window like the reference (driver-side)."""
    n = len(rows)
    out: list = [None] * n
    vectorless = {i for i, r in enumerate(rows) if not r.get(vector_key)}
    for i in vectorless:
        out[i] = rows[i]
    vectored = [r for i, r in enumerate(rows) if i not in vectorless]
    page_slots = [i for i in range(min(limit, n)) if i not in vectorless]
    picked = mmr_select(vectored, vector_key, score_key,
                        k=len(page_slots), balance=balance)
    for slot, r in zip(page_slots, picked):
        out[slot] = r
    picked_ids = {id(r) for r in picked}
    remaining = iter(r for r in vectored if id(r) not in picked_ids)
    for i in range(n):
        if out[i] is None:
            out[i] = next(remaining)
    return out


# ---------------------------------------------------------------------------
# legacy `group` merge (usecases/traverser/grouper/grouper.go:33-143)

def legacy_group(
    rows: list[dict],
    vector_key: str,
    force: float,
    strategy: str = "closest",
) -> list[dict]:
    """Post-search clustering of the collected top-k: rows whose
    normalized vector cosine-distance < force merge into one group;
    'closest' keeps the best-ranked member, 'merge' averages vectors.
    Driver-side single-linkage over <= limit rows (as in the
    reference, which loops over the fetched result slice)."""

    def dist(a, b):
        dp = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return 1 - dp / (na * nb)

    groups: list[list[dict]] = []
    for r in rows:
        placed = False
        for g in groups:
            if any(dist(r[vector_key], m[vector_key]) < force for m in g):
                g.append(r)
                placed = True
                break
        if not placed:
            groups.append([r])
    out = []
    for g in groups:
        if strategy == "merge" and len(g) > 1:
            dim = len(g[0][vector_key])
            centroid = [sum(m[vector_key][d] for m in g) / len(g) for d in range(dim)]
            rep = _merge_group_props(g, vector_key)
            rep[vector_key] = centroid
            rep["_group_size"] = len(g)
            out.append(rep)
        else:
            rep = dict(g[0])
            rep["_group_size"] = len(g)
            out.append(rep)
    return out


def _merge_group_props(rows: list[dict], vector_key: str) -> dict:
    """Property merge for the 'merge' strategy (merge_group.go:113-283):
    text -> 'first (second, third)' dedup'd in order; numbers -> mean
    (duplicates count, like the reference); bool -> majority with ties
    true (countTrue >= countFalse); geo dict {latitude, longitude} ->
    centroid; reference lists -> union dedup'd by element 'id' (falling
    back to whole-element equality); unknown types are skipped."""
    keys: list[str] = []
    for r in rows:
        for k in r:
            if k != vector_key and k not in keys:
                keys.append(k)
    merged: dict = {}
    for k in keys:
        vals = [r[k] for r in rows if k in r and r[k] is not None]
        if not vals:
            continue
        v0 = vals[0]
        if isinstance(v0, bool):
            n_true = sum(1 for v in vals if v)
            merged[k] = n_true >= len(vals) - n_true
        elif isinstance(v0, str):
            seen, ordered = set(), []
            for v in vals:
                if v not in seen:
                    seen.add(v)
                    ordered.append(v)
            merged[k] = (
                ordered[0] if len(ordered) == 1
                else f"{ordered[0]} ({', '.join(ordered[1:])})"
            )
        elif isinstance(v0, (int, float)):
            merged[k] = sum(float(v) for v in vals) / len(vals)
        elif isinstance(v0, dict) and {"latitude", "longitude"} <= set(v0):
            merged[k] = {
                "latitude": sum(v["latitude"] for v in vals) / len(vals),
                "longitude": sum(v["longitude"] for v in vals) / len(vals),
            }
        elif isinstance(v0, (list, tuple)):
            seen_ids, union = set(), []
            for v in vals:
                for ref in v:
                    rid = ref.get("id") if isinstance(ref, dict) else ref
                    if rid in seen_ids:
                        continue
                    seen_ids.add(rid)
                    union.append(ref)
            merged[k] = union
        # unknown types: skip (valueTypeOf -> unknown -> continue)
    return merged


# ---------------------------------------------------------------------------
# Explore{} cross-class vector search (explorer.go:798-846)

def explore(
    legs: Sequence[tuple[str, DataFrame]],
    limit: int,
) -> DataFrame:
    """One vector search across classes: per-class nearVector results
    (id, _distance) tagged with the class name, globally merged by
    distance asc, id asc (same metric required across classes —
    traverser_explore_concepts.go:23-50)."""
    out = None
    for class_name, leg in legs:
        tagged = leg.select(
            F.lit(class_name).alias("class_name"),
            F.col(leg.columns[0]).cast("string").alias("id"),
            "_distance",
        )
        out = tagged if out is None else out.unionByName(tagged)
    return out.orderBy(F.col("_distance").asc(), F.col("id").asc()).limit(limit)


# ---------------------------------------------------------------------------
# kNN classification (usecases/classification/classifier_run_knn.go)

def broadcast_labeled(labeled: DataFrame, id_col: str, vector_col: str,
                      label_col: str, max_labeled_rows: int, caller: str):
    """Collect a labeled set to the driver and broadcast (L, rank,
    labels) for ``distance.top_k``: the float64 vector matrix, each
    id's rank (ties -> smallest id) and the labels. The collect is
    guarded so an oversized labeled frame errors toward the
    distributed path instead of OOMing (VERDICT r05 finding #2);
    limit(max+1) bounds the probe to max+1 rows instead of a full
    count over the labeled lineage."""
    import numpy as np

    if labeled.limit(max_labeled_rows + 1).count() > max_labeled_rows:
        raise ValueError(
            f"{caller} collects the labeled set to the driver "
            f"(> max_labeled_rows={max_labeled_rows}); use "
            "knn_classify_lsh (bucketed candidates, nothing collected) "
            "for large labeled sets, or raise max_labeled_rows explicitly"
        )
    lab = labeled.select(id_col, vector_col, label_col).collect()
    rank = np.argsort(np.argsort(np.array([r[0] for r in lab]), kind="stable"))
    return labeled.sparkSession.sparkContext.broadcast((
        as_matrix([r[1] for r in lab], vector_col), rank,
        np.array([r[2] for r in lab])))


def knn_classify(
    labeled: DataFrame,
    unlabeled: DataFrame,
    id_col: str,
    vector_col: str,
    label_col: str,
    k: int = 5,
    metric: str = "cosine",
    backend: str = "numpy",
    max_labeled_rows: int = 1_000_000,
) -> DataFrame:
    """For each unlabeled row: k nearest labeled rows vote; majority
    wins, ties -> smallest label (deterministic; for string labels,
    lexicographically smallest — np.unique and SQL ASC agree). The
    output id and label types are the input columns' types.

    backends:
    * ``numpy`` (default) — the SIMD-distance-kernel analogue (SURVEY
      §4.2): labeled vectors broadcast as one float64 matrix, each
      Arrow batch of queries scored by ``distance.top_k`` (chunked
      BLAS matmul, per-query top-k on (6dp distance, id)). ~100x the
      expression path on cross-join shapes. Requires the labeled set
      to fit in executor memory — for large labeled sets use
      ``knn_classify_lsh`` (bucketed candidates, nothing collected).
    * ``expr`` — pure Catalyst cross join + window top-k; exactness
      reference and fallback when vectors are not cosine-comparable.

    Both exact backends are O(|labeled| x |queries|) by nature; they are
    the small-training-set path (the reference classifier's typical use)
    and the recall oracle for ``knn_classify_lsh``.
    """
    if backend == "expr":
        return _knn_classify_expr(labeled, unlabeled, id_col, vector_col, label_col, k, metric)
    if metric != "cosine":
        return _knn_classify_expr(labeled, unlabeled, id_col, vector_col, label_col, k, metric)

    import numpy as np
    import pandas as pd

    b = broadcast_labeled(labeled, id_col, vector_col, label_col,
                          max_labeled_rows, "knn_classify numpy backend")

    def _classify(iterator):
        Lb, rank_b, lab_arr = b.value
        for pdf in iterator:
            Q = as_matrix(pdf[vector_col], vector_col)
            idx, _ = top_k(Q, Lb, k, "cosine", rank_b)
            out_labels, out_votes = [], []
            for order in idx:
                vals, counts = np.unique(lab_arr[order], return_counts=True)
                # majority, tie -> smallest label (np.unique sorts)
                out_labels.append(vals[np.argmax(counts)])
                out_votes.append(int(counts.max()))
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "predicted_label": out_labels,
                "votes": out_votes,
            })

    out_schema = (
        f"{id_col} {unlabeled.schema[id_col].dataType.simpleString()}, "
        f"predicted_label {labeled.schema[label_col].dataType.simpleString()}, "
        "votes long")
    # spread a single-split query scan before the GEMM kernel (same
    # guard as the expression path below; no-op on wide scans)
    return ensure_min_partitions(
        unlabeled.select(id_col, vector_col)
    ).mapInPandas(_classify, out_schema)


def _bucket_stream_kernel(k: int, metric: str, vector_col: str):
    """mapInPandas wrapper around `_bucket_knn_kernel`'s per-bucket
    math for a partition that is SORTED by `_bucket`: processes every
    complete bucket run in each Arrow batch and carries the open tail
    bucket into the next batch, so a bucket that straddles a batch
    boundary is still scored as one group (splitting it would lose
    query-candidate pairs whose two sides land in different fragments).
    Memory is O(largest bucket) — the same bound as
    groupBy().applyInPandas — while the per-group Arrow/pandas
    invocation overhead is paid once per batch, not once per bucket."""
    import pandas as pd

    kern = _bucket_knn_kernel(k, metric, vector_col)

    def gen(batches):
        buf = None  # rows of the bucket still open at the batch tail
        for pdf in batches:
            if pdf.empty:
                continue
            if buf is not None:
                pdf = pd.concat([buf, pdf], ignore_index=True)
                buf = None
            last = pdf["_bucket"].iloc[-1]
            tail = pdf["_bucket"] == last  # sorted: the run is contiguous
            head = pdf[~tail]
            buf = pdf[tail]
            if len(head):
                yield pd.concat(
                    [kern(g) for _, g in head.groupby("_bucket", sort=False)],
                    ignore_index=True,
                )
        if buf is not None and len(buf):
            yield pd.concat(
                [kern(g) for _, g in buf.groupby("_bucket", sort=False)],
                ignore_index=True,
            )

    return gen


def _probe_buckets(sig: Column, num_planes: int, probe: int) -> Column:
    """Array of bucket keys to probe: the signature itself, plus every
    Hamming-distance-1 neighbour when probe > 1."""
    arr = [sig]
    if probe > 1:
        for i in range(num_planes):
            bit = F.substring(sig, i + 1, 1)
            arr.append(
                F.concat(
                    F.substring(sig, 1, i),
                    F.when(bit == "1", F.lit("0")).otherwise(F.lit("1")),
                    F.substring(sig, i + 2, num_planes),
                )
            )
    return F.array(*arr)


def _bucket_knn_kernel(k: int, metric: str, vector_col: str):
    """Per-bucket batch kernel for knn_classify_lsh: ``distance.top_k``
    scores every query-candidate pair of the bucket group and keeps each
    query's k best (round-half-up at 6dp, tie-break candidate id asc —
    byte-identical to the expression path / duckdb oracle). Emitting
    only top-k per (query, bucket) keeps the downstream vote
    aggregation at O(queries x probes x k) rows, not O(pairs)."""
    import numpy as np
    import pandas as pd

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        lab = pdf[pdf["_is_lab"] == 1]
        qs = pdf[pdf["_is_lab"] == 0]
        tids = lab["_tid"].to_numpy(dtype=np.int64)
        idx, dist = top_k(
            as_matrix(qs["_v"], vector_col), as_matrix(lab["_v"], vector_col),
            k, metric, np.argsort(np.argsort(tids, kind="stable")),
        )
        return pd.DataFrame(
            {"_qid": np.repeat(qs["_qid"].to_numpy(dtype=np.int64), idx.shape[1]),
             "_d": micros(dist.ravel()) / 1e6,
             "_tid": tids[idx.ravel()],
             "_label": lab["_label"].to_numpy(dtype=np.int64)[idx.ravel()]}
        )

    return kernel


def knn_classify_lsh(
    labeled: DataFrame,
    unlabeled: DataFrame,
    id_col: str,
    vector_col: str,
    label_col: str,
    dim: int,
    k: int = 5,
    metric: str = "cosine",
    num_planes: int = 6,
    seed: int = 42,
    probe: int = 2,
    backend: str = "auto",
    corpus: DataFrame | None = None,
    labeled_pred: Column | None = None,
) -> DataFrame:
    """Scale path for kNN classification: candidates come from shared
    random-hyperplane LSH buckets (operators/similarity.py; the
    vector-index pruning analogue of the reference's HNSW-backed
    classifier, classifier_run_knn.go:35-91) instead of the full labeled
    set. Neither side is collected to the driver and the plan contains
    no cross join: labeled rows are bucketed by signature, queries probe
    their own bucket plus all Hamming-1 buckets, candidates are exact-
    rescored, top-k vote as in `knn_classify`.

    When labeled and unlabeled are two filter-partitions of ONE
    collection, pass ``corpus`` plus ``labeled_pred`` (a boolean Column
    over corpus rows): the pipeline then reads the collection ONCE and
    tags rows in the projection, instead of unioning two filtered scans
    of the same files — at corpus scale that halves the scan I/O
    (guide §1.2: remove unnecessary passes; results identical, pinned
    by the oracle). labeled/unlabeled are still used for schema checks.

    Shuffles: one join on the (hash-uniform) bucket key, then ONE
    aggregation on the query id that does dedup + top-k + majority vote
    entirely in array expressions (a pair reached via several probed
    buckets collapses in array_distinct; per-query candidate counts are
    bounded by probe x max bucket size, so each array is small). No
    windows, never n^2. Recall vs the exact path is tunable via
    num_planes (fewer planes = bigger buckets) and probe;
    tests/test_vector.py measures it on clustered data.

    ``backend='pandas'`` (the 'auto' choice for cosine / l2-squared
    with integral id + label columns) replaces the per-pair expression
    distance with one Arrow-batched numpy GEMM per bucket group
    (applyInPandas) that pre-reduces to top-k per (query, bucket), so
    the vote aggregation sees O(queries x probes x k) rows instead of
    O(pairs) — the SIMD-distancer analogue of distancer/asm. The
    expression path remains for other metrics and non-integral keys."""
    from pyspark.sql import types as T

    from weaviate_spark.operators.similarity import hyperplanes, signature_col

    def _is_integral(df: DataFrame, c: str) -> bool:
        return isinstance(df.schema[c].dataType,
                          (T.LongType, T.IntegerType, T.ShortType, T.ByteType))

    use_pandas = backend == "pandas" or (
        backend == "auto"
        and metric in ("cosine", "l2-squared")
        and _is_integral(labeled, id_col)
        and _is_integral(unlabeled, id_col)
        and _is_integral(labeled, label_col)
    )

    planes = hyperplanes(num_planes, dim, seed)

    if use_pandas:
        if corpus is not None and labeled_pred is not None:
            # single-scan form: one pass over the collection, the
            # labeled/unlabeled split is a projected flag — the scan
            # appears ONCE in the plan instead of once per side
            union0 = corpus.select(
                labeled_pred.cast("int").alias("_is_lab"),
                F.col(id_col).cast("long").alias("_id"),
                F.when(labeled_pred, F.col(label_col).cast("long"))
                .otherwise(F.lit(-1)).alias("_label"),
                F.col(vector_col).alias("_v"),
            )
        else:
            # union BEFORE the signature so the (large) hyperplane dot
            # expression appears exactly once in the plan — one codegen
            # compilation, one fused stage, instead of one per side.
            union0 = labeled.select(
                F.lit(1).alias("_is_lab"),
                F.col(id_col).cast("long").alias("_id"),
                F.col(label_col).cast("long").alias("_label"),
                F.col(vector_col).alias("_v"),
            ).unionByName(unlabeled.select(
                F.lit(0).alias("_is_lab"),
                F.col(id_col).cast("long").alias("_id"),
                F.lit(-1).cast("long").alias("_label"),
                F.col(vector_col).alias("_v"),
            ))
        # LSH bucket keys computed JVM-side (sequential-fold dot product,
        # the exact arithmetic of the duckdb oracle's list_dot_product and
        # of signature_col everywhere else): the previous mapInPandas
        # signature stage shipped every vector through Arrow a SECOND
        # time (once for the signature, once for the GEMM kernel) — at
        # corpus scale that is a full extra Python-boundary pass of the
        # vector bytes (guide §4.1). Labeled rows emit their own bucket;
        # query rows add every Hamming-1 flip when probe > 1. The
        # signature expression is memoized (constant per plane set) and
        # lands in its own projection, so the fold is evaluated once per
        # row, not once per probed bucket.
        from weaviate_spark.cache import memo_column

        sig = memo_column(
            ("knn_lsh_sig", num_planes, dim, seed),
            lambda: signature_col(F.col("_v"), planes),
        )
        probed = memo_column(
            ("knn_lsh_probe", num_planes, probe),
            lambda: _probe_buckets(F.col("_sig"), num_planes, probe),
        )
        bucketed = union0.withColumn("_sig", sig).withColumn(
            "_buckets",
            F.when(F.col("_is_lab") == 1, F.array(F.col("_sig")))
            .otherwise(probed),
        )
        union = bucketed.select(
            "_is_lab",
            F.expr("CASE WHEN _is_lab = 0 THEN _id ELSE -1 END AS _qid"),
            F.expr("CASE WHEN _is_lab = 1 THEN _id ELSE -1 END AS _tid"),
            "_label", "_v",
            # explode_outer, not explode: InferFiltersFromGenerate would
            # otherwise clone the ENTIRE bucket expression (6 x 13
            # signature folds) into a size()>0 filter pushed to the scan
            # — measured 120 duplicate aggregate() nodes, 2x the query.
            # _buckets is non-empty by construction (when/otherwise both
            # build literal arrays), so outer semantics are identical.
            F.explode_outer("_buckets").alias("_bucket"),
        )
        # repartition + sortWithinPartitions + mapInPandas instead of
        # groupBy().applyInPandas: the same single hash exchange on the
        # bucket key (AQE-coalescible either way), but the kernel is
        # invoked once per ARROW BATCH, not once per bucket group —
        # with 2^num_planes buckets the per-group Arrow/pandas setup
        # dominated the stage (measured: 64 groups cost ~0.4 s of the
        # exec at sf0.1; the streaming form returns identical rows).
        # _bucket_stream_kernel carries the open tail bucket across
        # batch boundaries, so memory stays O(max bucket), exactly the
        # applyInPandas bound.
        pairs = union.repartition("_bucket").sortWithinPartitions(
            "_bucket"
        ).mapInPandas(
            _bucket_stream_kernel(k, metric, vector_col),
            "_qid long, _d double, _tid long, _label long",
        )
        # vote expressions as parsed SQL (single py4j call each; the
        # composed HOF/lambda form cost ~100 round trips of driver
        # build time per query — values identical, oracle-pinned)
        topk = F.expr(
            "slice(array_sort(array_distinct(collect_list("
            f"struct(_d, _tid, _label)))), 1, {k})"
        )
        labels = "transform(_top, t -> t._label)"
        best = (
            f"array_min(transform(array_distinct({labels}), "
            f"l -> struct(-size(filter({labels}, x -> x = l)) AS _nc, "
            "l AS _l)))"
        )
        return (
            pairs.groupBy("_qid")
            .agg(topk.alias("_top"))
            .select(
                F.col("_qid").alias(id_col),
                F.expr(f"({best})._l").alias("predicted_label"),
                F.expr(f"CAST(-(({best})._nc) AS BIGINT)").alias("votes"),
            )
        )

    # expression path
    lab = labeled.select(
        F.col(id_col).alias("_tid"), F.col(vector_col).alias("_tv"),
        F.col(label_col).alias("_label"),
        signature_col(F.col(vector_col), planes).alias("_bucket"),
    )
    q = unlabeled.select(
        F.col(id_col).alias("_qid"), F.col(vector_col).alias("_qv"),
        signature_col(F.col(vector_col), planes).alias("_sig"),
    )
    qp = q.select(
        "_qid", "_qv",
        F.explode(_probe_buckets(F.col("_sig"), num_planes, probe)).alias("_bucket"),
    )
    # signature/distance evaluation is CPU-heavy narrow work; a
    # single-file parquet scan arrives as ONE partition locally, which
    # would serialize it — spread first (at real scale the scan already
    # has many partitions and this is a no-op coalesce)
    lab = ensure_min_partitions(lab)
    qp = ensure_min_partitions(qp)
    # dedup + top-k + vote in ONE shuffle on _qid: a pair reached via
    # several probed buckets carries an identical (_d,_tid,_label)
    # triple and collapses in array_distinct; array_sort orders by
    # (_d asc, _tid asc); the winner is the (max count, smallest label)
    # pair via array_min over per-label (-count, label) structs — the
    # same majority/tie rule as knn_classify (classifier_run_knn.go).
    topk = F.slice(
        F.array_sort(F.array_distinct(F.collect_list(
            F.struct(F.col("_d"), F.col("_tid"), F.col("_label"))
        ))), 1, k,
    )
    labels = F.transform(F.col("_top"), lambda t: t["_label"])
    best = F.array_min(F.transform(
        F.array_distinct(labels),
        lambda l: F.struct(
            (-F.size(F.filter(labels, lambda x: x == l))).alias("_nc"),
            l.alias("_l"),
        ),
    ))
    return (
        qp.join(lab, "_bucket")
        .withColumn("_d", F.round(distance(F.col("_qv"), F.col("_tv"), metric), 6))
        .groupBy("_qid")
        .agg(topk.alias("_top"))
        .select(
            F.col("_qid").alias(id_col),
            best["_l"].alias("predicted_label"),
            (-best["_nc"]).cast("long").alias("votes"),
        )
    )


def _knn_classify_expr(
    labeled, unlabeled, id_col, vector_col, label_col, k, metric
) -> DataFrame:
    q = unlabeled.select(F.col(id_col).alias("_qid"), F.col(vector_col).alias("_qv"))
    t = labeled.select(
        F.col(id_col).alias("_tid"), F.col(vector_col).alias("_tv"),
        F.col(label_col).alias("_label"),
    )
    joined = q.crossJoin(t).withColumn(
        "_d", F.round(distance(F.col("_qv"), F.col("_tv"), metric), 6)
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_d").asc(), F.col("_tid").asc())
    topk = joined.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    votes = topk.groupBy("_qid", "_label").agg(F.count(F.lit(1)).alias("_votes"))
    wv = Window.partitionBy("_qid").orderBy(F.col("_votes").desc(), F.col("_label").asc())
    return (
        votes.withColumn("_r", F.row_number().over(wv))
        .where(F.col("_r") == 1)
        .select(F.col("_qid").alias(id_col), F.col("_label").alias("predicted_label"),
                F.col("_votes").alias("votes"))
    )


def zeroshot_classify(
    items: DataFrame,
    targets: DataFrame,
    item_id: str,
    vector_col: str,
    target_id: str,
    target_class: str,
    target_vector_col: str | None = None,
    metric: str = "cosine",
) -> DataFrame:
    """Zero-shot classification (classifier_run_zeroshot.go:24-76): no
    training set — each item is assigned the single NEAREST object of
    the classify property's target class (per-item top-1 vector search,
    ZeroShotSearch), written back as a cross-reference beacon
    (crossref.NewLocalhost -> weaviate://localhost/<Class>/<uuid>).

    The target class holds one object per candidate label, so it is
    small by construction: it broadcasts, the corpus streams through a
    BroadcastNestedLoopJoin, and the per-item argmin is a map-side
    groupBy on the item id — no corpus shuffle, no driver
    materialization; linear in |items| x |labels| with tiny |labels|.

    Returns (item_id, predicted_<target_id>, _distance, _beacon);
    tie-break nearest distance then target id asc (deterministic).
    """
    from weaviate_spark.ids import uuid_col

    t = targets.select(
        F.col(target_id).alias("_tid"),
        F.col(target_vector_col or vector_col).alias("_tvec"),
    )
    j = items.select(F.col(item_id), F.col(vector_col)).crossJoin(F.broadcast(t))
    d = F.round(distance(F.col(vector_col), F.col("_tvec"), metric), 6)
    best = (
        j.select(item_id, F.struct(d.alias("_d"), F.col("_tid")).alias("_c"))
        .groupBy(item_id)
        .agg(F.min("_c").alias("_best"))
    )
    return best.select(
        F.col(item_id),
        F.col("_best._tid").alias(f"predicted_{target_id}"),
        F.col("_best._d").alias("_distance"),
        F.concat(
            F.lit(f"weaviate://localhost/{target_class}/"),
            uuid_col(target_class, F.col("_best._tid")),
        ).alias("_beacon"),
    )


def contextual_classify(
    items: DataFrame,
    targets: DataFrame,
    item_id: str,
    text_col: str,
    target_id: str,
    target_class: str,
    target_name_col: str = "name",
    target_vector_col: str = "vector",
    dim: int = 16,
    round_digits: int = 6,
) -> DataFrame:
    """Contextual classification (classifier.go TypeContextual routing;
    modules/text2vec-contextionary/classification/
    classifier_run_contextual.go:90-260): no training set — each item's
    basedOn text splits into words, every distinct word vectorizes, the
    item's corpus vector is the centroid of its word vectors, and the
    item is assigned the closest target object by cosine, written back
    as a ref beacon with the winning distance.

    Documented divergence: the reference filters corpus words by TF-IDF
    and information-gain percentiles and boosts high-IG words
    (buildBoostedCorpus); with the deterministic dummy vectorizer those
    rankings carry no signal, so this path takes the degenerate
    all-words/boost=1 corpus (the reference's own behavior when every
    word passes the cutoffs).

    Scale: the vocabulary is vectorized DISTINCT (one pandas_udf pass
    over unique words, joined back — corpus-size independent), the
    per-item centroid is one groupBy, targets broadcast, and the argmin
    is a struct-min aggregation. Nothing collects to the driver."""
    from weaviate_spark.functions.text import tokenize
    from weaviate_spark.ids import uuid_col
    from weaviate_spark.modules import hash_embed_udf

    _embed = hash_embed_udf(dim)

    words = items.select(
        F.col(item_id),
        F.explode(
            F.array_distinct(tokenize(F.col(text_col), "word"))
        ).alias("_w"),
    )
    vocab = words.select("_w").distinct().withColumn("_wv", _embed(F.col("_w")))
    wj = words.join(vocab, "_w")
    corpus = (
        wj.groupBy(item_id)
        .agg(*[
            F.round(F.avg(F.element_at(F.col("_wv"), d + 1)), round_digits)
            .alias(f"_c{d}")
            for d in range(dim)
        ])
        .select(item_id, F.array(*[F.col(f"_c{d}") for d in range(dim)]).alias("_cv"))
    )
    t = targets.select(
        F.col(target_id).alias("_tid"),
        F.col(target_name_col).alias("_tname"),
        F.col(target_vector_col).alias("_tvec"),
    )
    j = corpus.crossJoin(F.broadcast(t))
    d = F.round(distance(F.col("_cv"), F.col("_tvec"), "cosine"), round_digits)
    best = (
        j.select(item_id,
                 F.struct(d.alias("_d"), F.col("_tid"), F.col("_tname")).alias("_c"))
        .groupBy(item_id)
        .agg(F.min("_c").alias("_best"))
    )
    return best.select(
        F.col(item_id),
        F.col("_best._tname").alias("predicted_class"),
        F.col("_best._d").alias("winning_distance"),
        F.concat(
            F.lit(f"weaviate://localhost/{target_class}/"),
            uuid_col(target_class, F.col("_best._tid")),
        ).alias("_beacon"),
    )
