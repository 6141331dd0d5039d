"""Hybrid search: BM25 + vector legs fused by doc id (SURVEY §2.5/§2.6).

Reference semantics (usecases/traverser/hybrid/searcher.go:75-153,
hybrid_fusion.go):

* weights: keyword leg = 1-alpha, vector leg = alpha (searcher.go:84-119).
* sub-searches capped at max(QueryHybridMaximumResults=100, limit)
  (explorer_hybrid.go:227-253); each leg ordered score-desc/id-asc.
* rankedFusion (hybrid_fusion.go:22): doc score = sum over legs of
  weight/(rank + 60), rank 0-based within the leg.
* relativeScoreFusion (hybrid_fusion.go:93, the default): each leg's
  SecondarySortValue is min-max normalized within the leg
  ([min,max] -> [0,1]; all-equal -> 1), scaled by the leg weight,
  summed. SecondarySortValue: keyword = bm25 score (searcher.go:215),
  vector = 1 - distance (searcher.go:250).
* max_vector_distance cutoff drops vector hits beyond it AND removes
  keyword hits whose vector distance exceeds it (searcher.go:114-123).
* final order: score desc, then id asc (tie rule §4.3).

Scale: each leg is already a top-(<=max(100,limit)) result, so fusion
operates on tiny DataFrames — the window functions here never see the
corpus, only the capped legs. The expensive work happens inside the
leg operators which have their own scale stories (bm25.py, vector.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weaviate_spark.filters import Clause
from weaviate_spark.operators.bm25 import (
    BM25Prop,
    BM25Spec,
    bm25_score_df,
    query_terms,
    register_cache,
    release_caches,
    with_materialized_stats,
)
from weaviate_spark.operators.vector import NearVectorSpec, near_vector, with_distance
from weaviate_spark.plans.spec import QUERY_HYBRID_MAXIMUM_RESULTS
from weaviate_spark.sources.tables import load_table
from weaviate_spark.filters import apply_where


@dataclass
class HybridSpec:
    collection: str
    query: str
    vector: Sequence[float]
    properties: Sequence[BM25Prop]
    id_col: str
    vector_col: str = "embedding"
    alpha: float = 0.75
    fusion: str = "relativeScore"   # "ranked" | "relativeScore"
    metric: str = "cosine"
    limit: int = 100
    max_vector_distance: Optional[float] = None
    where: Optional[Clause] = None
    round_digits: int = 6
    # bm25SearchOperator flows into the keyword leg
    # (explorer_hybrid.go:53-55): Or (default) | And, with the Or
    # minimum-match threshold
    search_operator: str = "Or"
    minimum_or_tokens_match: int = 0
    # emit the reference's explainScore additional property
    # (hybrid_fusion.go:40-47, 139-146): per-leg contribution lines,
    # assembled newline-joined (ranked) / " - "-chained reverse-leg
    # (relativeScore). Numbers print at 6dp (%.6f both engines), not
    # Go's float32 shortest-repr — documented formatting divergence.
    explain: bool = False


def _leg_cap(spec: HybridSpec) -> int:
    return max(QUERY_HYBRID_MAXIMUM_RESULTS, spec.limit)


def hybrid_search(spark: SparkSession, sf_dir: str, spec: HybridSpec) -> DataFrame:
    """Returns (id_col, _score) fused top-`limit`."""
    cap = _leg_cap(spec)
    id_col = spec.id_col
    legs: list[tuple[DataFrame, float]] = []  # (df[id, _secondary], weight)

    # one shared (filtered, cached) scan for both legs — the corpus is
    # read once, not once per leg; released at the next query's entry.
    # Unfiltered queries reuse the collection frame directly (for the
    # session-materialized stored collections that is already a cached
    # table — re-caching it would hold a second copy of the corpus)
    release_caches()
    full = load_table(spark, sf_dir, spec.collection)
    if spec.where is None:
        df = full
    else:
        df = register_cache(apply_where(full, spec.where).cache())

    if spec.alpha < 1 and spec.query:
        bspec = BM25Spec(
            collection=spec.collection, query=spec.query,
            properties=spec.properties, id_col=id_col,
            round_digits=spec.round_digits, where=spec.where,
            search_operator=spec.search_operator,
            minimum_or_tokens_match=spec.minimum_or_tokens_match,
        )
        # stats over the unfiltered collection (reference semantics), fed
        # from the session-level materialized tables — the keyword leg
        # tokenizes no document
        bspec = with_materialized_stats(bspec, full, (sf_dir, spec.collection))
        sparse = (
            bm25_score_df(df, bspec)
            .orderBy(F.col("_score").desc(), F.col(id_col).asc())
            .limit(cap)
            .select(id_col, F.col("_score").alias("_secondary"))
        )
        if spec.max_vector_distance is not None:
            # drop keyword hits whose vector distance exceeds the cutoff
            # (searcher.go:123-133) — needs each hit's distance
            dists = with_distance(
                df, NearVectorSpec(
                    collection=spec.collection, vector=spec.vector,
                    vector_col=spec.vector_col, id_col=id_col,
                    metric=spec.metric, round_digits=spec.round_digits,
                )
            ).select(id_col, "_distance")
            sparse = (
                sparse.join(dists, id_col, "left")
                .where(F.col("_distance") <= F.lit(spec.max_vector_distance))
                .select(id_col, "_secondary")
            )
        legs.append((sparse, 1.0 - spec.alpha))

    if spec.alpha > 0 and spec.vector:
        dense = near_vector(spark, sf_dir, NearVectorSpec(
            collection=spec.collection, vector=spec.vector,
            vector_col=spec.vector_col, id_col=id_col, metric=spec.metric,
            limit=cap, distance=spec.max_vector_distance,
            round_digits=spec.round_digits,
            # hybrid fuses EXACT leg scores (reference fuses the real
            # vector distances; compression stays a per-collection
            # opt-in, flat/config.go:25 DefaultCompressionEnabled=false)
            quantize="off",
        ), df=df).select(id_col, (F.lit(1.0) - F.col("_distance")).alias("_secondary"))
        legs.append((dense, spec.alpha))

    names = ("keyword", "vector") if len(legs) == 2 else ("keyword",) if spec.alpha < 1 and spec.query else ("vector",)
    fused = fuse(legs, id_col, spec.fusion, spec.round_digits,
                 explain_names=names if spec.explain else None)
    return fused.orderBy(F.col("_score").desc(), F.col(id_col).asc()).limit(spec.limit)


def fuse(
    legs: Sequence[tuple[DataFrame, float]],
    id_col: str,
    fusion: str = "relativeScore",
    round_digits: int = 6,
    explain_names: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Fuse (df[id,_secondary], weight) legs into (id, _score)
    (+ explain_score when `explain_names` labels the legs).

    Each leg is already a capped top-(<= max(100, limit)) result that a
    preceding TakeOrderedAndProject emits as ONE partition, so the leg
    rank and min/max are computed with an explicit ``coalesce(1)`` +
    whole-partition window — bounded by the leg cap, never the corpus.
    This replaces the previous 1-row-aggregate + broadcast crossJoin
    per leg: the aggregate/broadcast pair materialized as two extra
    Spark jobs per leg (a BroadcastExchange build is its own job) and
    referenced the leg subtree twice (forcing a scratch .cache() per
    leg). The window form references each leg once — no per-leg cache,
    no broadcast build, identical scores (same min/max/rank doubles,
    same tie rules). Measured r11: hybrid_relative_score dropped from
    9 to 5 jobs per execution.

    Every column is ONE SQL string parsed JVM-side (F.expr), like
    bm25_score_df's: the composed F.* form cost a py4j round trip per
    function, column and literal. Values are identical: same
    arithmetic order, same literals (``repr`` keeps the exact double,
    the D suffix keeps it a double), same rounding."""
    idc = f"`{id_col}`"
    contribs = []
    for li, (leg_df, weight) in enumerate(legs):
        w = f"{float(weight)!r}D"
        if fusion == "ranked":
            # weight / (rank + 60), rank 0-based (hybrid_fusion.go:33),
            # ranked by (_secondary desc, id asc)
            contrib = (f"{w} / ((row_number() OVER (ORDER BY _secondary DESC, "
                       f"{idc} ASC) - 1) + 60)")
        elif fusion == "relativeScore":
            mx, mn = "max(_secondary) OVER ()", "min(_secondary) OVER ()"
            contrib = (f"CASE WHEN {mx} = {mn} THEN {w} "
                       f"ELSE {w} * (_secondary - {mn}) / ({mx} - {mn}) END")
        else:
            raise ValueError(f"unknown fusion {fusion!r}")
        # the leg is a <= cap-row frame in one partition (GlobalLimit);
        # coalesce(1) makes that explicit so the unpartitioned window
        # is bounded by construction
        c = leg_df.coalesce(1).select(
            idc, F.expr(f"{contrib} AS _contrib"), "_secondary")
        if explain_names is not None:
            name = explain_names[li].replace("'", "''")
            # round BEFORE formatting: raw contributions land exactly on
            # %.6f half boundaries (0.5/64 = 0.0078125), where Java's
            # formatter (HALF_UP) and C printf (half-even) disagree; a
            # 6dp-rounded double is never at a format boundary, so both
            # engines print identically
            if fusion == "ranked":
                line = (f"format_string('Hybrid (Result Set {name}) Document %d "
                        f"contributed %.6f to the score', {idc}, round(_contrib, 6))")
            else:
                line = (f"format_string('Hybrid (Result Set {name}) Document %d: "
                        "original score %.6f, normalized score: %.6f', "
                        f"{idc}, round(_secondary, 6), round(_contrib, 6))")
            c = c.select(idc, "_contrib", F.expr(f"{li} AS _leg"),
                         F.expr(f"{line} AS _line"))
        else:
            c = c.select(idc, "_contrib")
        contribs.append(c)

    out = contribs[0]
    for c in contribs[1:]:
        out = out.unionByName(c)
    score = F.expr(f"round(sum(_contrib), {int(round_digits)}) AS _score")
    if explain_names is None:
        return out.groupBy(idc).agg(score)
    grouped = out.groupBy(idc).agg(
        score, F.expr("array_sort(collect_list(struct(_leg, _line))) AS _lines"))
    lines = "transform(_lines, s -> s._line)"
    if fusion == "ranked":
        # hybrid_fusion.go:40-47: "{prev}\n{line}" accumulated in leg order
        exp = f"concat(chr(10), array_join({lines}, chr(10)))"
    else:
        # hybrid_fusion.go:139-146: latest leg first, " - " chained onto
        # the previous accumulation (which carries its own leading \n)
        exp = f"concat(chr(10), array_join(reverse({lines}), concat(' - ', chr(10))))"
    return grouped.select(idc, "_score", F.expr(f"{exp} AS explain_score"))


def hybrid_oracle_sql(
    query: str,
    vector: Sequence[float],
    alpha: float = 0.75,
    fusion: str = "relativeScore",
    limit: int = 100,
    k1: float = 1.2,
    b: float = 0.75,
    explain: bool = False,
    search_operator: str = "Or",
    minimum_or_tokens_match: int = 0,
) -> str:
    """DuckDB SQL reproducing hybrid_search over the docs_embedded shape
    (documents JOIN embeddings ON doc_id = vec_id), word tokenization,
    cosine metric — the generated-oracle counterpart of hybrid_search."""
    cap = max(QUERY_HYBRID_MAXIMUM_RESULTS, limit)
    # identical query analysis to the Spark path (fold/stopwords included)
    qboost = query_terms(query, "word")
    terms_sql = ", ".join(f"('{t}', {c})" for t, c in sorted(qboost.items()))
    n_terms = len(qboost)
    if search_operator == "And":
        having = f"HAVING count(DISTINCT tf._term) = {n_terms}"
    elif minimum_or_tokens_match > 0:
        having = ("HAVING count(DISTINCT tf._term) >= "
                  f"{min(minimum_or_tokens_match, n_terms)}")
    else:
        having = ""
    qvec_sql = "[" + ", ".join(str(float(x)) for x in vector) + "]::DOUBLE[]"
    w_kw, w_vec = 1.0 - alpha, alpha

    if fusion == "ranked":
        fuse_sql = f"""
contribs AS (
  SELECT id, sec, 0 AS leg, {w_kw} / ((row_number() OVER (ORDER BY sec DESC, id ASC)) - 1 + 60) AS c FROM bm
  UNION ALL
  SELECT id, sec, 1 AS leg, {w_vec} / ((row_number() OVER (ORDER BY sec DESC, id ASC)) - 1 + 60) AS c FROM ve
)"""
    elif fusion == "relativeScore":
        fuse_sql = f"""
contribs AS (
  SELECT id, sec, 0 AS leg, CASE WHEN max(sec) OVER () = min(sec) OVER () THEN {w_kw}
    ELSE {w_kw} * (sec - min(sec) OVER ()) / (max(sec) OVER () - min(sec) OVER ()) END AS c
  FROM bm
  UNION ALL
  SELECT id, sec, 1 AS leg, CASE WHEN max(sec) OVER () = min(sec) OVER () THEN {w_vec}
    ELSE {w_vec} * (sec - min(sec) OVER ()) / (max(sec) OVER () - min(sec) OVER ()) END AS c
  FROM ve
)"""
    else:
        raise ValueError(f"unknown fusion {fusion!r}")

    if explain:
        if fusion == "ranked":
            line = ("printf('Hybrid (Result Set %s) Document %d contributed "
                    "%.6f to the score', CASE leg WHEN 0 THEN 'keyword' "
                    "ELSE 'vector' END, id, round(c, 6))")
            exp_sql = f"chr(10) || string_agg({line}, chr(10) ORDER BY leg)"
        else:
            line = ("printf('Hybrid (Result Set %s) Document %d: original "
                    "score %.6f, normalized score: %.6f', CASE leg WHEN 0 "
                    "THEN 'keyword' ELSE 'vector' END, id, round(sec, 6), "
                    "round(c, 6))")
            exp_sql = (f"chr(10) || string_agg({line}, ' - ' || chr(10) "
                       "ORDER BY leg DESC)")
        explain_col = f", {exp_sql} AS explain_score"
    else:
        explain_col = ""

    return f"""
WITH corpus AS (
  SELECT d.doc_id, d.text, e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
toks AS (
  SELECT doc_id AS _doc, unnest(regexp_extract_all(lower(text), '[\\p{{L}}\\p{{N}}]+')) AS _term
  FROM corpus
),
doclen AS (SELECT _doc, count(*) AS _len FROM toks GROUP BY _doc),
stats AS (
  SELECT (SELECT count(*) FROM corpus) AS _ndocs,
         (SELECT avg(_len) FROM doclen) AS _avgdl
),
qterms(_term, _boost) AS (VALUES {terms_sql}),
tf AS (
  SELECT _doc, toks._term, count(*) * _boost AS _freq
  FROM toks JOIN qterms ON toks._term = qterms._term
  GROUP BY _doc, toks._term, _boost
),
n_t AS (SELECT _term, count(*) AS _n FROM tf GROUP BY _term),
bm_all AS (
  SELECT tf._doc AS id, round(sum(
    (tf._freq / (tf._freq + {k1} * (1 - {b} + {b} * doclen._len / stats._avgdl)))
    * ln(1 + (greatest(CAST(stats._ndocs AS DOUBLE), _n) - _n + 0.5) / (_n + 0.5))
  ), 6) AS sec
  FROM tf JOIN doclen ON tf._doc = doclen._doc
  JOIN n_t ON tf._term = n_t._term CROSS JOIN stats
  GROUP BY tf._doc {having}
),
bm AS (SELECT id, sec FROM bm_all ORDER BY sec DESC, id ASC LIMIT {cap}),
qv AS (SELECT {qvec_sql} AS v),
vd AS (
  SELECT doc_id AS id, round(1 - list_dot_product(ev, v) /
    (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(v, v))), 6) AS _distance
  FROM (SELECT doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM corpus)
  CROSS JOIN qv
  ORDER BY _distance ASC, id ASC LIMIT {cap}
),
ve AS (SELECT id, 1 - _distance AS sec FROM vd),
{fuse_sql}
SELECT id AS doc_id, round(sum(c), 6) AS _score{explain_col}
FROM contribs GROUP BY id
ORDER BY _score DESC, doc_id ASC LIMIT {limit}
"""
