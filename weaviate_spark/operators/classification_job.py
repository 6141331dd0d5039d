"""Classification job lifecycle (POST/GET /v1/classifications).

Reference: usecases/classification/classifier.go Schedule/Get
(:151-291), classifier_run.go run/runItems/succeedRun/failRunWithError
(:33-171), validation.go Validator (:42-190), classifier_run_knn.go
classifyItemUsingKNN (:22-62), entities/models/classification.go
status constants (:164-170).

Semantics ported:
* ``schedule`` validates (the Validator's rules and exact error
  texts), assigns a job id, stores the record with status
  ``running`` + meta.started, then runs the classification and flips
  the record to ``completed`` (meta counts set) or ``failed`` (the
  reference's ``classification failed: …`` error string) — including
  the "no classes to be classified" failure when nothing is
  unclassified (classifier_run.go:49-52).
* type ``knn``: k defaults to 3 (ParamsKNN.SetDefaults,
  classifier.go:345-350); a ``targetWhere`` filter is rejected with
  the reference's guidance text (validation.go knnTypeFeasibility) —
  training data is limited via ``trainingSetWhere``, sources via
  ``sourceWhere``.
* training set = rows whose classify property is already set;
  unclassified = rows where EVERY classify property is null/empty
  (GetUnclassified semantics — partially classified objects are
  not re-classified).
* writeback: the winning neighbour class becomes a single beacon ref
  on the classify property (classifier_run_knn.go:40-49) and the row
  gains a ``_classification`` struct — scope, classifiedFields,
  completed — (extendItemWithObjectMeta, classifier_run.go:173-187).

Spark mapping: the collection is a DataFrame; the kNN vote itself is
the existing ``knn_classify`` operator (labeled set broadcast once,
Arrow batches of items scored by the shared ``distance.top_k`` kernel
— the reference likewise scores every item against the in-memory
training vectors). The vote runs directly on
the refs' BEACON strings, so the winning label reconstructs the full
SingleRef without any driver-side label mapping. Writeback is one
narrow join of predictions onto the collection — no per-item store
round-trips; at 100 TB this is a single map-side-join stage, and the
COW table write is the caller's ``crud.upsert``.
"""

from __future__ import annotations

import threading
import uuid as _uuid
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from weaviate_spark.schema import Collection

STATUS_RUNNING = "running"      # models.ClassificationStatusRunning
STATUS_COMPLETED = "completed"  # models.ClassificationStatusCompleted
STATUS_FAILED = "failed"        # models.ClassificationStatusFailed

TYPE_KNN = "knn"
TYPE_CONTEXTUAL = "text2vec-contextionary-contextual"

NO_UNCLASSIFIED_ERR = ("no classes to be classified - did you run a "
                       "previous classification already?")


class InvalidClassificationError(ValueError):
    """Validator.Do (validation.go:42-51): 'invalid classification: '
    + the FIRST accumulated error."""

    def __init__(self, msg: str) -> None:
        super().__init__(f"invalid classification: {msg}")


@dataclass
class ClassificationFilters:
    """models.ClassificationFilters: each side is a Column predicate
    over the collection frame (the engine's compiled `where`)."""

    source_where: Optional[Column] = None
    training_set_where: Optional[Column] = None
    target_where: Optional[Column] = None


@dataclass
class ClassificationJob:
    """models.Classification record (id, class, status, meta, error)."""

    id: str
    class_name: str
    classify_properties: list[str]
    based_on_properties: list[str]
    type: str = TYPE_KNN
    settings: dict = field(default_factory=dict)
    status: str = STATUS_RUNNING
    error: str = ""
    meta: dict = field(default_factory=dict)
    # the classify property's ref target classes (Property.pointing_to)
    target_classes: list[str] = field(default_factory=list)


_LOCK = threading.Lock()
_JOBS: dict[str, ClassificationJob] = {}


def get_classification(job_id: str) -> Optional[ClassificationJob]:
    """Classifier.Get (classifier.go:278-291): nil for unknown ids."""
    with _LOCK:
        return _JOBS.get(job_id)


def _put(job: ClassificationJob) -> None:
    with _LOCK:
        _JOBS[job.id] = job


def _validate(coll: Optional[Collection], class_name: str,
              classify_properties: list[str],
              based_on_properties: list[str], type_: str,
              filters: ClassificationFilters) -> None:
    """Validator.validate (validation.go:53-190), first-error-wins."""
    if not class_name:
        raise InvalidClassificationError("class must be set")
    if coll is None or coll.name != class_name:
        raise InvalidClassificationError(
            f"class '{class_name}' not found in schema")
    if type_ == TYPE_CONTEXTUAL and filters.training_set_where is not None:
        raise InvalidClassificationError(
            "type is 'text2vec-contextionary-contextual', but "
            "'trainingSetWhere' filter is set, for "
            "'text2vec-contextionary-contextual' there is no training "
            "data, instead limit possible target data directly through "
            "setting 'targetWhere'")
    if type_ == TYPE_KNN and filters.target_where is not None:
        raise InvalidClassificationError(
            "type is 'knn', but 'targetWhere' filter is set, for 'knn' "
            "you cannot limit target data directly, instead limit "
            "training data through setting 'trainingSetWhere'")
    if not based_on_properties:
        raise InvalidClassificationError(
            "basedOnProperties must have at least one property")
    if len(based_on_properties) > 1:
        raise InvalidClassificationError(
            "only a single property in basedOnProperties supported at "
            f"the moment, got {based_on_properties}")
    for prop in based_on_properties:
        try:
            p = coll.property(prop)
        except KeyError:
            raise InvalidClassificationError(
                f"basedOnProperties: property '{prop}' does not exist")
        if p.data_type != "text":
            raise InvalidClassificationError(
                f"basedOnProperties: property '{prop}' must be of "
                "type 'text'")
    if not classify_properties:
        raise InvalidClassificationError(
            "classifyProperties must have at least one property")
    for prop in classify_properties:
        try:
            p = coll.property(prop)
        except KeyError:
            raise InvalidClassificationError(
                f"classifyProperties: property '{prop}' does not exist")
        if not p.is_reference():
            raise InvalidClassificationError(
                f"classifyProperties: property '{prop}' must be of "
                "reference type (cref)")
        if type_ == TYPE_CONTEXTUAL and len(p.pointing_to()) > 1:
            raise InvalidClassificationError(
                f"classifyProperties: property '{prop}' has more than "
                "one target class, classification of type "
                "'text2vec-contextionary-contextual' requires exactly "
                "one target class")


def _empty_ref(col: Column) -> Column:
    return col.isNull() | (F.size(col) == 0)


def schedule_classification(
    df: DataFrame,
    coll: Collection,
    *,
    class_name: str,
    classify_property: str,
    based_on_property: str,
    id_col: str = "_id",
    vector_col: str = "_vector",
    type: str = TYPE_KNN,
    k: Optional[int] = None,
    filters: Optional[ClassificationFilters] = None,
    now_unix: int = 0,
    job_id: Optional[str] = None,
    classify_fn: Optional[Callable[[DataFrame, DataFrame], DataFrame]]
    = None,
    targets: Optional[DataFrame] = None,
    target_name_col: str = "name",
    target_vector_col: str = "vector",
    contextual_dim: int = 16,
) -> tuple[ClassificationJob, DataFrame]:
    """Classifier.Schedule + run, synchronously (a Spark batch job IS
    the async worker pool — runItems' per-CPU workers map onto the
    partition-parallel stage).

    Returns (job record, updated collection frame). The updated frame
    carries the classify property filled with a single beacon ref for
    every successfully classified row, plus a ``_classification``
    struct (scope / classifiedFields / completed). The caller owns
    persisting it (crud.upsert) — the frame is lazy until then.

    ``classify_fn(labeled, unlabeled) -> (id, predicted_label)``
    overrides the classifier core (the module hook the reference's
    modulesProvider offers); default is kNN majority vote via
    ``knn_classify`` with k per ParamsKNN (default 3). Type
    ``text2vec-contextionary-contextual`` routes to
    ``contextual_classify`` instead (classifier.go TypeContextual):
    no training set — ``targets`` is the target-class frame (narrowed
    by ``targetWhere``), and the classify property's single target
    class is enforced with the reference's error text.
    """
    filters = filters or ClassificationFilters()
    _validate(coll, class_name, [classify_property],
              [based_on_property], type, filters)
    if k is None:
        k = 3  # ParamsKNN.SetDefaults (classifier.go:345-350)

    job = ClassificationJob(
        id=job_id or str(_uuid.uuid4()),
        class_name=class_name,
        classify_properties=[classify_property],
        based_on_properties=[based_on_property],
        type=type,
        settings={"k": k} if type == TYPE_KNN else {},
        status=STATUS_RUNNING,
        meta={"started": now_unix},
        target_classes=coll.property(classify_property).pointing_to(),
    )
    _put(job)

    try:
        updated = _run(df, job, classify_property, based_on_property,
                       id_col, vector_col, k, filters, now_unix,
                       classify_fn, targets, target_name_col,
                       target_vector_col, contextual_dim)
    except Exception as ex:  # failRunWithError (classifier_run.go:163)
        job.status = STATUS_FAILED
        job.error = f"classification failed: {ex}"
        _put(job)
        return job, df

    job.status = STATUS_COMPLETED
    job.meta["completed"] = now_unix
    _put(job)
    return job, updated


def _run(df: DataFrame, job: ClassificationJob, classify_property: str,
         based_on_property: str, id_col: str, vector_col: str, k: int,
         filters: ClassificationFilters, now_unix: int, classify_fn,
         targets, target_name_col, target_vector_col,
         contextual_dim) -> DataFrame:
    from weaviate_spark.operators.rerank import knn_classify

    ref = F.col(classify_property)
    unclassified = df.where(_empty_ref(ref))
    if filters.source_where is not None:
        unclassified = unclassified.where(filters.source_where)
    # GetUnclassified emptiness check — bounded probe, not a count
    if not unclassified.select(id_col).limit(1).count():
        raise RuntimeError(NO_UNCLASSIFIED_ERR)

    if classify_fn is None and job.type == TYPE_CONTEXTUAL:
        preds = _contextual_preds(
            unclassified, job, classify_property, based_on_property,
            id_col, filters, targets, target_name_col,
            target_vector_col, contextual_dim)
        return _writeback(df, job, preds, classify_property, id_col,
                          unclassified, now_unix)

    training = df.where(~_empty_ref(ref))
    if filters.training_set_where is not None:
        training = training.where(filters.training_set_where)
    # vote directly on the ref's BEACON string (carries target class +
    # id, so the winning vote reconstructs the full SingleRef without
    # any driver-side label mapping); ties -> lexicographically
    # smallest beacon, matching the vote's smallest-label rule
    labeled = training.select(
        F.col(id_col).alias("_kid"),
        F.col(vector_col).alias("_kvec"),
        ref[0]["beacon"].alias("_klabel"),
    )
    queries = unclassified.select(
        F.col(id_col).alias("_kid"), F.col(vector_col).alias("_kvec"))

    if classify_fn is not None:
        preds = classify_fn(labeled, queries)
    else:
        preds = knn_classify(
            labeled, queries, "_kid", "_kvec", "_klabel", k=k)

    return _writeback(df, job, preds, classify_property, id_col,
                      unclassified, now_unix)


def _contextual_preds(unclassified, job, classify_property,
                      based_on_property, id_col, filters, targets,
                      target_name_col, target_vector_col,
                      contextual_dim):
    """TypeContextual route (classifier.go:133 + classifier_module.go):
    no training set; targets narrowed by targetWhere."""
    from weaviate_spark.operators.rerank import contextual_classify
    from weaviate_spark.schema import Collection  # noqa: F401

    if targets is None:
        raise RuntimeError(
            "contextual classification needs the target-class frame "
            "(targets=)")
    target_classes = job.target_classes or []
    t = targets
    if filters.target_where is not None:
        t = t.where(filters.target_where)
    out = contextual_classify(
        unclassified, t, item_id=id_col, text_col=based_on_property,
        target_id=target_name_col, target_class=target_classes[0],
        target_name_col=target_name_col,
        target_vector_col=target_vector_col, dim=contextual_dim)
    return out.select(F.col(id_col).alias("_kid"),
                      F.col("_beacon").alias("predicted_label"))


def _writeback(df, job, preds, classify_property, id_col,
               unclassified, now_unix):
    # one broadcast join writes every prediction back (the reference's
    # per-item writer.Store, batched into a single narrow stage).
    # Pin the predictions once: the meta counts, the writeback join,
    # and the caller's materialization would otherwise each re-run the
    # kNN pass (bounded: one small row per unclassified object)
    preds = preds.select(
        F.col("_kid").alias(id_col),
        F.col("predicted_label").alias("_pred"),
    ).localCheckpoint(eager=True)
    joined = df.join(F.broadcast(preds), id_col, "left")
    parts = F.split(F.col("_pred"), "/")
    new_ref = F.when(
        F.col("_pred").isNotNull(),
        F.array(F.struct(
            F.col("_pred").alias("beacon"),
            parts.getItem(3).alias("className"),
            parts.getItem(4).alias("id"),
        )),
    ).otherwise(F.col(classify_property))
    meta = F.when(F.col("_pred").isNotNull(), F.struct(
        F.array(F.lit(classify_property)).alias("scope"),
        F.array(F.lit(classify_property)).alias("classifiedFields"),
        F.lit(now_unix).cast("long").alias("completed"),
    ))
    updated = (joined
               .withColumn(classify_property, new_ref)
               .withColumn("_classification", meta)
               .drop("_pred"))

    n_unclassified = unclassified.count()
    n_succeeded = preds.count()
    job.meta.update({
        "count": n_unclassified,
        "countSucceeded": n_succeeded,
        "countFailed": n_unclassified - n_succeeded,
    })
    return updated


REF_META_FIELDS = (
    "overall_count", "winning_count", "losing_count",
    "closest_overall_distance", "closest_winning_distance",
    "mean_winning_distance", "mean_losing_distance",
    "closest_losing_distance",
)


def knn_classify_with_meta(
    labeled: DataFrame,
    queries: DataFrame,
    id_col: str = "_kid",
    vector_col: str = "_kvec",
    label_col: str = "_klabel",
    k: int = 3,
    max_labeled_rows: int = 1_000_000,
) -> DataFrame:
    """kNN vote + the per-ref classification meta the reference
    attaches to the winning SingleRef (adapters/repos/db/
    classification.go KnnAggregator:128-236 + ref_meta.go Meta()):
    overall/winning/losing counts over the k neighbours, plus
    closest-overall, closest/mean-winning and (when any neighbour
    voted differently) closest/mean-losing NORMALIZED distances
    (vectorizer.NormalizedDistance = (1-cos)/2, distance.go:21-28).

    Neighbour selection uses the engine's index distance (1-cos,
    rounded 6dp, ties -> smallest labeled id) exactly like
    ``knn_classify``; the meta distances are the normalized variant,
    also 6dp. Winner ties -> lexicographically smallest beacon (the
    reference iterates a Go map here — nondeterministic on ties — so
    the deterministic tie-break is a strengthening, documented).

    Same scale envelope and kernel as knn_classify's numpy backend:
    the labeled matrix broadcasts once, each Arrow batch of queries is
    scored by ``distance.top_k``; only the meta loop is local.
    """
    import numpy as np
    import pandas as pd

    from weaviate_spark.functions.distance import as_matrix, micros, top_k
    from weaviate_spark.operators.rerank import broadcast_labeled

    b = broadcast_labeled(labeled, id_col, vector_col, label_col,
                          max_labeled_rows, "knn_classify_with_meta")

    def _6dp(x):
        return float(micros(x) / 1e6)

    def _classify(iterator):
        Lb, rank_b, beacon_arr = b.value
        for pdf in iterator:
            Q = as_matrix(pdf[vector_col], vector_col)
            idx, dist = top_k(Q, Lb, k, "cosine", rank_b)
            rows = []
            for i, order in enumerate(idx):
                top_beacons = beacon_arr[order]
                # meta stats aggregate UNROUNDED normalized distances
                # and round once at output, like the oracle
                nd = dist[i] / 2.0
                vals, counts = np.unique(top_beacons, return_counts=True)
                win = vals[np.argmax(counts)]
                win_nd = nd[top_beacons == win]
                lose_nd = nd[top_beacons != win]
                rows.append({
                    id_col: pdf[id_col].iloc[i],
                    "predicted_label": win,
                    "votes": int(counts.max()),
                    "overall_count": int(len(order)),
                    "winning_count": int(win_nd.size),
                    "losing_count": int(lose_nd.size),
                    "closest_overall_distance": _6dp(nd.min()),
                    "closest_winning_distance": _6dp(win_nd.min()),
                    "mean_winning_distance": _6dp(win_nd.mean()),
                    "mean_losing_distance":
                        _6dp(lose_nd.mean()) if lose_nd.size else None,
                    "closest_losing_distance":
                        _6dp(lose_nd.min()) if lose_nd.size else None,
                })
            yield pd.DataFrame(rows)

    schema = (f"{id_col} string, predicted_label string, votes long, "
              "overall_count long, winning_count long, "
              "losing_count long, closest_overall_distance double, "
              "closest_winning_distance double, "
              "mean_winning_distance double, "
              "mean_losing_distance double, "
              "closest_losing_distance double")
    # the GEMM + per-query vote loop is CPU-heavy mapInPandas work; a
    # single-split query scan would run it all on ONE task (measured:
    # 20 s steady at the 10x lane on 2 of 32 cores) — spread first,
    # no-op when the scan is already wide (guide §2.2)
    from weaviate_spark.cache import ensure_min_partitions

    queries = ensure_min_partitions(queries)
    return queries.select(id_col, vector_col).mapInPandas(
        _classify, schema)


def clear_jobs() -> None:
    """Test helper."""
    with _LOCK:
        _JOBS.clear()
