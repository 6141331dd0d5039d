"""SparkSession factory with scale-appropriate defaults.

local[N] for tests/bench; the same config block is what we would ship to a
1000-executor cluster — AQE on (runtime skew-join + partition coalescing),
explicit shuffle partition count, Arrow enabled for the few pandas_udf paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "weaviate-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-coalesce the output partitioning of cached plans too:
        # cached index tables (BM25 postings, ANN buckets) keep a
        # data-size-appropriate partition count instead of inheriting the
        # build's shuffle width — at local scale that is 1-2 partitions, on
        # a cluster whatever the 64 MB advisory target yields.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Call-site capture for DataFrame error contexts costs 3+ extra py4j
        # round trips per API call; with plans this size it dominates
        # driver-side plan construction (~2x). Debuggability loss is only
        # the enriched call-site line in error messages.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Sized for local test scale; on a real cluster this scales with
        # executor count (rule of thumb: 2-3x total cores).
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast anything under 64 MB — dimension tables (region, nation,
        # query-vector single rows, stats tables) should never shuffle-join.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # pair-listing queries (simhash/minhash near-dup) return result
        # sets that grow with duplicate density; at 10x data the default
        # 1g cap aborts the collect while executors are still healthy
        .config("spark.driver.maxResultSize",
                os.environ.get("SPARK_GRAFT_MAXRESULT", "4g"))
        # Input split size is scale-dependent (optimization guide §2.2 /
        # §6), so it is env-parameterised. Local default 32 MB: a
        # single-file local table (sf1 documents is one 59 MB parquet)
        # still fans out across cores for CPU-heavy narrow stages (regex
        # scoring, tokenization). Production: set
        # SPARK_GRAFT_MAX_PARTITION_BYTES to 512m-1g — at 100 TB a 32 MB
        # split would mean ~3M scan tasks, and map-task count feeds the
        # M x R shuffle-block blowup; AQE coalescing only shrinks the
        # REDUCE side, never the scan task count.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "33554432"))
        # Written artifacts (BM25 postings/doclen, quantized-vector
        # tables, bucketed tables, exports, CRUD rewrites) compress with
        # zstd: measured 28% smaller than snappy on the sf0.1 postings
        # artifact at comparable read speed (optimization guide §6).
        # Inputs are unaffected (codec applies to writes only).
        .config("spark.sql.parquet.compression.codec",
                os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"))
        # weaviate dates are RFC3339 with ns precision (SURVEY §1.2); parquet
        # TIMESTAMP(NANOS) is read as long and converted to µs at load
        # (documented divergence: ns -> µs truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # UTC session: NTZ->TZ casts become identity on the UTC epoch,
        # matching duckdb's epoch_us on naive timestamps
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
