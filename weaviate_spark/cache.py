"""Per-query cache registry.

Operators cache intermediate frames that are read more than once inside a
single query plan (the BM25 wide doc-term frame, dedup shingle sets, the
hybrid shared scan). The reference engine holds the equivalent state in
its long-lived index structures; a batch engine must instead release those
blocks when the query is done or a long-lived session accumulates cached
RDDs until executor storage evicts under pressure.

Contract: building blocks call ``register_cache(df.cache())``; every
top-level query entry point calls ``release_caches()`` first, so the
previous query's scratch caches are dropped exactly when the next query
starts (results are always materialized by then). Long-lived, deliberately
persistent state (the BM25 corpus-stats tables — the prop-length-tracker
analogue) is NOT registered here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_live_caches: list[DataFrame] = []


def session_key(spark) -> int:
    """Stable identity for per-session registries: the SparkContext, not
    the SparkSession wrapper. Structured Streaming runs foreachBatch
    under a CLONED session (isolated SQL confs, shared context + cache
    manager), and PySpark hands the batch a fresh wrapper object — so
    ``id(sparkSession)`` silently misses registry entries built on the
    main session. Cached/checkpointed state is context-scoped, which is
    exactly the sharing cloned sessions should see."""
    return id(spark.sparkContext)


def register_cache(df: DataFrame) -> DataFrame:
    _live_caches.append(df)
    return df


_live_checkpoints: list[DataFrame] = []


def register_checkpoint(df: DataFrame) -> DataFrame:
    """Lazy ``localCheckpoint`` registered for end-of-query release.

    Use INSTEAD of ``register_cache(df.cache())`` when the frame (a) has
    corpus-sized lineage and (b) is referenced by several downstream
    consumers that are themselves cached/re-referenced: an
    InMemoryRelation re-prints and re-ANALYZES its full child plan at
    every reference, so nested caches multiply the analyzed tree
    (measured: the clustering-coefficient plan grew to ~4k FileScan
    prints and +1 s of per-build driver analysis), while a checkpoint is
    a LogicalRDD *leaf* — downstream plans stay flat no matter the
    fan-out. Lazy, so the materialization job lands inside the first
    consumer's action instead of adding one.

    ``Dataset.unpersist()`` is a no-op on checkpointed frames (the cache
    manager never registered the RDD), so ``release_caches`` frees these
    through JVM-level ``JavaRDD.unpersist`` on the recorded RDD id —
    same mechanism as operators/graph.py's iterative generations.

    localCheckpoint blocks are unrecoverable on executor loss
    (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND): the flat plan is bought with
    retry-ability, which single-node and static-executor deployments
    do not need."""
    ck = df.localCheckpoint(eager=False)
    try:
        ck._ckpt_rdd_id = int(
            ck._jdf.queryExecution().analyzed().rdd().id())
    except Exception:
        ck._ckpt_rdd_id = None
    _live_checkpoints.append(ck)
    return ck


# (session, input files) -> scan partition count. df.rdd.getNumPartitions()
# forces an RDD conversion through py4j on every call — measured ~50-150 ms
# of driver time per query build (r11 profile). The split count of a file
# scan depends only on the file set and session conf, so it is memoized on
# the input-file list; filters/projections over the same scan share the
# entry. Empty-file-list frames (cached/derived inputs) fall back to the
# direct probe every time.
_scan_partitions: dict[tuple, int] = {}


def ensure_min_partitions(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Repartition a narrow, CPU-heavy input up to the session's default
    parallelism when its scan would run on fewer tasks (single-file local
    tables arrive as 1-2 splits; regex scoring / tokenization would
    otherwise serialize on 1-2 of N cores). On a real cluster the scan
    already has >= parallelism splits and this no-ops — the decision is
    scale-adaptive, not a local constant."""
    spark = df.sparkSession
    if parallelism is None:
        parallelism = spark.sparkContext.defaultParallelism
    n = None
    try:
        files = df.inputFiles()
    except Exception:
        files = None
    if files:
        key = (session_key(spark), tuple(sorted(files)))
        n = _scan_partitions.get(key)
        if n is None:
            n = df.rdd.getNumPartitions()
            _scan_partitions[key] = n
    else:
        n = df.rdd.getNumPartitions()
    if n < parallelism:
        return df.repartition(parallelism)
    return df


# (gateway, *key) -> built Column. Column objects are immutable
# name-resolved expression trees, valid against ANY DataFrame that has
# the referenced columns — building one is pure py4j round trips (a
# 64-literal query vector + zip_with/aggregate lambdas costs ~100-300 ms
# of driver time, r11 profile), so heavy constant expressions are built
# once per process and reused across query builds. Keyed on the py4j
# gateway id so a hypothetical gateway restart cannot serve dead handles.
_column_memo: dict = {}


def memo_column(key: tuple, builder):
    """Return builder() memoized under (gateway, *key). The builder must
    be deterministic in `key` and reference input columns by name only."""
    from pyspark import SparkContext

    k = (id(getattr(SparkContext, "_gateway", None)), *key)
    col = _column_memo.get(k)
    if col is None:
        col = builder()
        _column_memo[k] = col
    return col


def column_sql(col) -> str:
    """SQL text of a Column (or a string passed through verbatim) — for
    building single-parse F.expr strings around a caller-supplied input
    column (the ~200-py4j-call composed-F.* alternative is the driver
    cost the r11 expression-string work removed). Spark 4 classic
    Columns expose the expression via ``_jc.node().sql()``."""
    if isinstance(col, str):
        return col
    return col._jc.node().sql()


def lit_double_array(vals) -> "Column":
    """array<double> literal built with ONE parsed expression instead of
    len(vals) py4j F.lit round trips (a 64-dim query vector cost ~130
    driver round trips per build). repr() keeps the exact double; the D
    suffix keeps Spark SQL from parsing bare decimals as DECIMAL.
    Value-identical to F.array(*[F.lit(float(v)) for v in vals])."""
    from pyspark.sql import functions as F

    return F.expr(double_array_sql(vals))


def double_array_sql(vals) -> str:
    """SQL text of lit_double_array's literal."""
    if not len(vals):
        return "CAST(array() AS array<double>)"
    return "array(" + ", ".join(f"{float(v)!r}D" for v in vals) + ")"


def local_df(spark, data, schema) -> DataFrame:
    """createDataFrame for small local collections without empty
    Python-RDD partitions. The plain ``spark.createDataFrame(list)``
    path parallelizes over defaultParallelism slices regardless of row
    count, so a 5-row literal frame scans as 32 tasks locally (27 of
    them empty) — each task is a Python worker round trip, and a
    ``coalesce(1)`` over such a frame replays all 32 pickled partitions
    SEQUENTIALLY through the worker pipe (measured: 6-10 s for 5 rows).
    Slice count = min(len(data), defaultParallelism): same pickled-row
    path and row types, never an empty slice, and per-row work (media
    decode) still fans out one row per task. Measured at local[32]:
    5-row CJK segmentation query 1.44 -> 0.47 s/action, 1-row frame
    0.34 -> 0.19 s."""
    data = data if isinstance(data, list) else list(data)
    if not data:
        return spark.createDataFrame(data, schema)
    slices = max(1, min(len(data), spark.sparkContext.defaultParallelism))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(data, slices), schema)


def release_caches() -> None:
    global _live_caches, _live_checkpoints
    for df in _live_caches:
        try:
            df.unpersist()
        except Exception:
            pass
    _live_caches = []
    for df in _live_checkpoints:
        rid = getattr(df, "_ckpt_rdd_id", None)
        if rid is None:
            continue
        try:
            jmap = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
            jrdd = jmap.get(rid)
            if jrdd is not None:  # never materialized -> nothing to free
                jrdd.unpersist(False)
        except Exception:
            pass
    _live_checkpoints = []
