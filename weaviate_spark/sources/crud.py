"""Object CRUD / batch delete / TTL / multi-tenancy on parquet tables
(SURVEY §2.1; reference: usecases/objects/{add,update,merge,delete,
batch_add,batch_delete}.go, usecases/object_ttl/, usecases/multitenancy/).

Storage is copy-on-write parquet (staging dir + atomic rename), the
dependency-minimal stand-in for Delta's MERGE/DELETE. The API mirrors
the reference's operations:

* ``upsert``      — add/update (PUT) by key: MERGE semantics.
* ``patch``       — merge (PATCH): update only provided columns.
* ``delete_where``— batch delete by filter with ``dry_run`` and
  match-count reporting (batch_delete.go:33-112 dryRun/output).
* ``ttl_expired`` / ``purge_expired`` — read-time TTL predicate
  (explorer.go:939 keepObjectsWithTTL) + the background deletion job
  (object_ttl.go).
* ``write_tenant_partitioned`` / ``read_tenant`` — tenant = partition
  column; reads prune to one partition directory
  (adapters/repos/db/search.go:103-108 tenant routing).

Scale: COW rewrite is O(table) per call — exactly Delta-without-log;
at 100 TB you bucket/partition so the rewrite touches only affected
partitions (partition-pruned overwrite is demonstrated by the tenant
variant: `partitionOverwriteMode=dynamic`).
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from weaviate_spark import registry
from weaviate_spark.cache import local_df
from weaviate_spark.filters import Clause, apply_where, compile_where


def invalidate_indexes(table_dir: str) -> None:
    """The write hook: release the derived state built from
    ``table_dir`` (BM25 handles, near-dup and vector indexes, joined,
    bucketed and base-table entries) right after a write, to free its
    frames early. Correctness does not depend on it: every registry
    entry is stamped with its tables' file fingerprints, so the next
    resolve rebuilds a stale entry anyway (weaviate_spark/registry.py).
    Entries of other tables survive."""
    registry.release(table_dir)


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this transaction's snapshot read
    and its commit attempt. Re-read and retry (see ``transact``)."""


def _txn_dir(table_dir: str) -> str:
    return table_dir.rstrip("/") + ".__txn__"


def _version_dir(table_dir: str, version: int) -> str:
    """Archive location of the table state AS OF ``version`` (the state
    a later commit replaced). Lives under the sibling __txn__ dir, so
    parquet readers of the live table never see it."""
    return os.path.join(_txn_dir(table_dir), "versions", f"{version:010d}")


def read_table_version(spark: SparkSession, table_dir: str, version: int | None = None) -> DataFrame:
    """Time-travel read: the table as of ``version`` (None/current =
    the live directory). Historical states exist for every version a
    TRANSACTIONAL write replaced, until ``vacuum_table`` drops them —
    the Delta `versionAsOf` analogue for the COW store. Raises with
    the available versions when the requested one was never archived
    or has been vacuumed."""
    cur = table_version(table_dir)
    if version is None or version == cur:
        return spark.read.parquet(table_dir)
    d = _version_dir(table_dir, version)
    if not os.path.isdir(d):
        avail = sorted(table_history(table_dir)["archived_versions"])
        raise FileNotFoundError(
            f"{table_dir}: version {version} is not available "
            f"(current={cur}, archived={avail}) — written non-"
            "transactionally, or removed by vacuum_table"
        )
    return spark.read.parquet(d)


def read_snapshot(spark: SparkSession, table_dir: str, action, retries: int = 5):
    """Snapshot-isolated read (the Delta-reader guarantee on the COW
    store, r06 verdict ask #4 — the jarless part of it): run
    ``action(df)`` — a collect/count/write closure — against the table
    state AS OF the version observed when the read began. A concurrent
    transactional swap mid-query moves the live files into the version
    archive, surfacing as a vanished-file error; the retry re-reads the
    SAME pinned version from ``_version_dir`` (files there never move
    again until vacuum), so the reader NEVER observes a half-swapped
    directory or a newer version than its snapshot.

    Degradation contract: a NON-transactional overwrite (plain
    ``df.write``) does not archive, so the fallback re-reads the new
    live state instead — same behavior as before this API existed; and
    a vacuumed snapshot raises the FileNotFoundError from
    ``read_table_version`` naming the available versions."""
    last: Exception | None = None
    for _ in range(max(1, retries)):
        v0 = table_version(table_dir)
        try:
            return action(spark.read.parquet(table_dir))
        except Exception as exc:
            if not _is_stale_snapshot_error(exc):
                raise
            last = exc
        if table_version(table_dir) > v0 and os.path.isdir(
            _version_dir(table_dir, v0)
        ):
            # the swap we raced archived exactly our snapshot
            return action(spark.read.parquet(_version_dir(table_dir, v0)))
        # non-transactional overwrite (no archive) or a second in-flight
        # swap: loop — the next attempt pins the then-current version
    raise last  # type: ignore[misc]


def table_history(table_dir: str) -> dict:
    """{'current_version', 'committed_versions', 'archived_versions'} —
    the inspectable commit log (DESCRIBE HISTORY analogue)."""
    d = _txn_dir(table_dir)
    commits: list[int] = []
    if os.path.isdir(d):
        commits = sorted(
            int(n.split(".", 1)[0]) for n in os.listdir(d) if n.endswith(".commit")
        )
    vdir = os.path.join(d, "versions")
    archived: list[int] = []
    if os.path.isdir(vdir):
        archived = sorted(int(n) for n in os.listdir(vdir))
    return {
        "current_version": max(commits, default=0),
        "committed_versions": commits,
        "archived_versions": archived,
    }


def table_changes_feed(
    spark: SparkSession,
    table_dir: str,
    key: str,
    from_version: int,
    to_version: int | None = None,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """ROW-PAYLOAD change-data-feed between two COW versions (the
    Delta CDF `table_changes` row convention; the keys-only variant is
    ``table_changes`` below; reference analogue: LSM memtable flush
    deltas feeding index upkeep). Diffs the archived
    state AS OF ``from_version`` against ``to_version`` (default: the
    live table) with one full-outer join on ``key`` and classifies
    each row:

    * ``insert`` — key only in the newer state;
    * ``delete`` — key only in the older state (row = preimage);
    * ``update_preimage`` / ``update_postimage`` — key in both with
      any compared column differing (NULL-safe comparison), one row
      per side, Delta CDF's pair convention.

    ``compare_cols`` limits the difference test (default: every shared
    non-key column). Output = the row columns + ``_change_type``.

    Scale: one shuffle on the key (or zero for bucketed stores); the
    update pair is produced by an explode over the matched row, not a
    second join. Downstream consumers (matview delta-advance,
    incremental index upkeep) see only changed keys — the point of a
    CDF at 100 TB is that re-deriving state touches |changes|, not
    |table|.
    """
    old = read_table_version(spark, table_dir, from_version)
    new = read_table_version(spark, table_dir, to_version)
    cols = [c for c in new.columns if c in set(old.columns)]
    if key not in cols:
        raise ValueError(f"key {key!r} must exist in both versions")
    value_cols = [c for c in cols if c != key]
    cmp_cols = compare_cols if compare_cols is not None else value_cols
    o = old.select(F.col(key).alias("_k"), F.struct(
        *[F.col(c) for c in value_cols]).alias("_old"))
    n = new.select(F.col(key).alias("_k"), F.struct(
        *[F.col(c) for c in value_cols]).alias("_new"))
    j = o.join(n, "_k", "full_outer")
    changed = F.lit(False)
    for c in cmp_cols:
        changed = changed | ~F.col("_old")[c].eqNullSafe(F.col("_new")[c])
    typed = j.select(
        "_k", "_old", "_new",
        F.when(F.col("_old").isNull(), F.array(F.lit("insert")))
        .when(F.col("_new").isNull(), F.array(F.lit("delete")))
        .when(changed, F.array(F.lit("update_preimage"),
                               F.lit("update_postimage")))
        .otherwise(F.array().cast("array<string>")).alias("_types"),
    ).select("_k", "_old", "_new",
             F.explode("_types").alias("_change_type"))
    side = F.when(
        F.col("_change_type").isin("delete", "update_preimage"),
        F.col("_old")).otherwise(F.col("_new"))
    return typed.select(
        F.col("_k").alias(key),
        *[side[c].alias(c) for c in value_cols],
        "_change_type",
    )


def restore_version(spark: SparkSession, table_dir: str, version: int) -> int:
    """Roll the table back to an archived snapshot — as a NEW commit
    (Delta RESTORE semantics: history moves forward, the rolled-back
    states stay archived and time-travelable). Returns the new current
    version. Concurrent-writer safe: the restore claims the next
    version like any transactional write."""
    snap = read_table_version(spark, table_dir, version)
    base_version = table_version(table_dir)
    # materialize through the normal staging path; localCheckpoint
    # first so the read of the archived files completes before any
    # directory shuffling
    _rewrite(snap.localCheckpoint(eager=True), table_dir,
             expected_version=base_version)
    return table_version(table_dir)


def vacuum_table(table_dir: str, keep_last: int = 2) -> list[int]:
    """Drop archived snapshots older than the newest ``keep_last`` —
    bounds time-travel storage exactly like Delta VACUUM. Returns the
    removed version numbers."""
    if keep_last < 0:
        raise ValueError("keep_last must be >= 0")
    archived = table_history(table_dir)["archived_versions"]
    drop = archived[: max(0, len(archived) - keep_last)]
    for v in drop:
        shutil.rmtree(_version_dir(table_dir, v), ignore_errors=True)
    return drop


def table_version(table_dir: str) -> int:
    """Current COMMITTED version of a table (0 = never written through
    the transactional path). The version log is the Delta-protocol
    analogue, two-phase: a ``<n>.claim`` marker (O_EXCL — exactly one
    writer wins each version number) reserves the version BEFORE the
    directory swap, and the ``<n>.commit`` marker lands AFTER the swap.
    ``table_version`` counts commits only, so a snapshot that observes
    version N is guaranteed to see N's data (the swap precedes the
    count advancing) — closing the read-stale-data-at-new-version race
    that counting claims would open."""
    d = _txn_dir(table_dir)
    if not os.path.isdir(d):
        return 0
    versions = [
        int(name.split(".", 1)[0])
        for name in os.listdir(d)
        if name.endswith(".commit")
    ]
    return max(versions, default=0)


def _claim_version(table_dir: str, expected_version: int, staging: str) -> None:
    """Optimistic-concurrency gate: atomically create the claim marker
    for ``expected_version + 1``. O_EXCL create is atomic on POSIX (and
    on object stores with put-if-absent, which is how Delta's log
    works), so of two racing writers exactly one claims the version;
    the loser gets ConcurrentWriteError and must re-read + recompute —
    including a writer whose snapshot predates an IN-FLIGHT winner
    (claimed, not yet committed): the claim collision alone rejects it.
    The marker records the staging dir; a claim with no matching commit
    marks a crashed writer (see recover_orphaned_claims)."""
    d = _txn_dir(table_dir)
    os.makedirs(d, exist_ok=True)
    marker = os.path.join(d, f"{expected_version + 1:010d}.claim")
    try:
        with open(marker, "x") as fh:
            fh.write(staging)
    except FileExistsError:
        raise ConcurrentWriteError(
            f"{table_dir}: version {expected_version + 1} was claimed by a "
            "concurrent writer after this transaction's snapshot "
            f"(expected base version {expected_version}); re-read and retry"
        ) from None


def _finish_commit(table_dir: str, expected_version: int) -> None:
    """Phase two: the swap is live — advance the committed version."""
    marker = os.path.join(
        _txn_dir(table_dir), f"{expected_version + 1:010d}.commit"
    )
    with open(marker, "x") as fh:
        fh.write("committed")


def recover_orphaned_claims(table_dir: str) -> list[int]:
    """Ops helper: remove claim markers whose commit never landed (a
    writer crashed between claim and swap) so new writers can claim the
    version again. Returns the recovered version numbers. Only run when
    no writer is in flight."""
    d = _txn_dir(table_dir)
    if not os.path.isdir(d):
        return []
    names = set(os.listdir(d))
    recovered = []
    for name in sorted(names):
        if name.endswith(".claim") and name[:-6] + ".commit" not in names:
            os.remove(os.path.join(d, name))
            recovered.append(int(name.split(".", 1)[0]))
    return recovered


def _is_stale_snapshot_error(exc: Exception) -> bool:
    """A concurrent swap can also surface as the snapshot's files
    vanishing mid-recompute — logically the same conflict as a failed
    version claim."""
    s = str(exc)
    return "FAILED_READ_FILE" in s or "FileNotFoundException" in s


def transact(fn, retries: int = 5):
    """Run a mutation closure with optimistic-concurrency retries: on
    ConcurrentWriteError (or a vanished-snapshot read error caused by a
    concurrent swap) the closure re-executes (it must re-read the
    table — every mutation in this module does), Delta-style."""
    for attempt in range(retries):
        try:
            return fn()
        except ConcurrentWriteError:
            if attempt == retries - 1:
                raise
        except Exception as exc:
            if not _is_stale_snapshot_error(exc) or attempt == retries - 1:
                raise


def _rewrite(
    df: DataFrame,
    table_dir: str,
    expected_version: int | None = None,
) -> None:
    """Write df to a staging dir then swap — readers never see a
    half-written table. ``expected_version`` (the version observed when
    the mutation READ the table) enables optimistic concurrency: the
    commit marker for expected_version+1 is claimed atomically BEFORE
    the swap, so a concurrent writer that committed in between forces
    ConcurrentWriteError instead of a lost update. Every write
    releases the table's derived state (invalidate_indexes)."""
    from weaviate_spark.sources.storagestate import check_writable

    # shard status gate (storagestate.ErrStatusReadOnly — the shard
    # write paths check the store status before any mutation)
    check_writable(table_dir)
    staging = table_dir.rstrip("/") + ".staging-" + uuid.uuid4().hex[:8]
    df.write.mode("overwrite").parquet(staging)
    if expected_version is not None:
        try:
            _claim_version(table_dir, expected_version, staging)
        except ConcurrentWriteError:
            shutil.rmtree(staging, ignore_errors=True)  # no leak per conflict
            raise
    backup = table_dir.rstrip("/") + ".old-" + uuid.uuid4().hex[:8]
    if os.path.exists(table_dir):
        os.rename(table_dir, backup)
    os.rename(staging, table_dir)
    if os.path.exists(backup):
        if expected_version is not None:
            # transactional path: RETAIN the replaced state as the
            # archived snapshot of `expected_version` (time travel /
            # rollback — the Delta-log analogue of keeping old files
            # until VACUUM). Non-OCC writes keep the old fast-delete.
            dst = _version_dir(table_dir, expected_version)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if os.path.exists(dst):  # idempotent crash-retry
                shutil.rmtree(backup)
            else:
                os.rename(backup, dst)
        else:
            shutil.rmtree(backup)
    if expected_version is not None:
        _finish_commit(table_dir, expected_version)
    invalidate_indexes(table_dir)


def _check_object_limit(spark: SparkSession, table_dir: str,
                        new_rows: DataFrame) -> None:
    """Usage-limit chokepoint (usecases/usagelimits/manager.go:84-88 —
    the reference checks at Shard.PutObject{,Batch}): reject the WHOLE
    write when current + batch would exceed the configured object cap.
    Zero cost when no limits are configured (the common case); when a
    cap is set, the batch size is one metadata-only count and the
    current total sums parquet footers. Conservative like the
    reference: upsert replacements count as adds (brief overshoot /
    undershoot self-corrects on the next check, manager.go:42-45)."""
    from weaviate_spark import usage_limits as UL

    if UL._ACTIVE is None or UL._read(UL._ACTIVE.max_objects) is None:
        return
    root = os.path.dirname(table_dir.rstrip("/"))
    class_name = os.path.basename(table_dir.rstrip("/"))
    if class_name.endswith(".parquet"):
        class_name = class_name[: -len(".parquet")]
    UL.check_objects(spark, root, new_rows.count(), class_name)


def upsert(
    spark: SparkSession,
    table_dir: str,
    new_rows: DataFrame,
    key: str,
) -> None:
    """MERGE: replace rows with matching key, append the rest.

    The keep-set comes from a LEFT ANTI join on the key — no driver-side
    key collect, so ``new_rows`` can be arbitrarily large; when it is
    small, AQE turns the anti join into a broadcast automatically. For
    partitioned tables use ``upsert_partitioned`` (rewrites only the
    affected partitions)."""
    _check_object_limit(spark, table_dir, new_rows)
    base_version = table_version(table_dir)
    current = spark.read.parquet(table_dir)
    kept = current.join(new_rows.select(key).distinct(), key, "left_anti")
    # schema evolution (autoschema analogue / Delta mergeSchema): new
    # columns in either side fill NULL on the other — adding a property
    # never requires a manual migration
    _rewrite(
        kept.unionByName(new_rows, allowMissingColumns=True), table_dir,
        expected_version=base_version,
    )


def upsert_partitioned(
    spark: SparkSession,
    table_dir: str,
    new_rows: DataFrame,
    key: str,
    partition_col: str,
    check_moves: bool = True,
) -> None:
    """MERGE into a `partition_col`-partitioned table, rewriting ONLY the
    partitions that appear in ``new_rows`` — the 100 TB path: rewrite cost
    is O(affected partitions), not O(table).

    Only the distinct partition VALUES are collected (metadata-scale,
    like Delta's partition pruning), never the keys; the keep-set is a
    LEFT ANTI join and the current-table scan is partition-pruned to the
    affected directories. Partition values must be strings or ints
    (hive-style ``col=value`` directory encoding).

    A key whose partition value CHANGES leaves a stale row behind in its
    old partition; ``check_moves`` (default on) detects those keys with
    one column-pruned key scan of the non-affected partitions and pulls
    the old partitions into the rewrite set, so the merge stays correct.
    Callers whose keys are partition-stable (the common append/update
    pattern) can pass ``check_moves=False`` to skip the scan."""
    _check_object_limit(spark, table_dir, new_rows)
    base_version = table_version(table_dir)
    parts = sorted(
        r[0] for r in new_rows.select(partition_col).distinct().collect()
    )
    table = spark.read.parquet(table_dir)
    affected = list(parts)
    if check_moves:
        moved = (
            table.where(~F.col(partition_col).isin(list(parts)))
            .join(new_rows.select(key).distinct(), key, "left_semi")
            .select(partition_col).distinct().collect()
        )
        affected += sorted(r[0] for r in moved)
    current = table.where(
        F.col(partition_col).isin(list(affected))  # partition-pruned scan
    )
    kept = current.join(new_rows.select(key).distinct(), key, "left_anti")
    out = kept.unionByName(new_rows.select(*kept.columns))

    staging = table_dir.rstrip("/") + ".staging-" + uuid.uuid4().hex[:8]
    out.write.partitionBy(partition_col).parquet(staging)
    try:
        _claim_version(table_dir, base_version, staging)
    except ConcurrentWriteError:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    for p in affected:
        part_dir = f"{partition_col}={p}"
        src = os.path.join(staging, part_dir)
        dst = os.path.join(table_dir, part_dir)
        backup = dst + ".old-" + uuid.uuid4().hex[:8]
        if os.path.exists(dst):
            os.rename(dst, backup)
        if os.path.exists(src):
            os.rename(src, dst)
        # a moved-out partition can end up empty: staging then has no
        # directory for it and the old contents simply go away
        if os.path.exists(backup):
            shutil.rmtree(backup)
    shutil.rmtree(staging)
    _finish_commit(table_dir, base_version)
    invalidate_indexes(table_dir)


def patch(
    spark: SparkSession, table_dir: str, key: str, key_value, updates: dict
) -> None:
    """PATCH: update only the provided columns of one object
    (usecases/objects/merge.go)."""
    base_version = table_version(table_dir)
    current = spark.read.parquet(table_dir)
    out = current
    for col, val in updates.items():
        out = out.withColumn(
            col, F.when(F.col(key) == F.lit(key_value), F.lit(val)).otherwise(F.col(col))
        )
    _rewrite(out, table_dir, expected_version=base_version)


def delete_where(
    spark: SparkSession, table_dir: str, where: Clause, dry_run: bool = False
) -> int:
    """Batch delete by filter; returns the matched count. dry_run
    reports without rewriting (batch_delete.go dryRun)."""
    base_version = table_version(table_dir)
    current = spark.read.parquet(table_dir).cache()
    pred = compile_where(current, where)
    matched = current.where(pred).count()
    if not dry_run and matched:
        # two-valued keep-set: rows where pred is null are KEPT
        kept = current.where(~F.coalesce(pred, F.lit(False)))
        _rewrite(kept, table_dir, expected_version=base_version)
    current.unpersist()
    return matched


DEFAULT_QUERY_MAXIMUM_RESULTS = 10_000  # config.DefaultQueryMaximumResults


def delete_where_with_output(
    spark: SparkSession,
    table_dir: str,
    where: Clause,
    id_col: str,
    dry_run: bool = False,
    output: str = "minimal",
    limit: int = DEFAULT_QUERY_MAXIMUM_RESULTS,
) -> tuple[dict, DataFrame]:
    """Batch delete with the reference's response shape
    (usecases/objects/batch_delete.go toResponse + models
    BatchDeleteResponse): returns (result, objects_df).

    * ``result`` = {matches, limit, successful, failed, dryRun,
      output} — ``matches`` counts EVERY row the filter hits;
      deletion (and ``successful``) is capped at ``limit``
      (Index.batchDeleteObjects' per-shard QueryMaximumResults cap,
      index.go:3917-3919) — the smallest ids win for determinism.
    * ``objects_df`` = (id, status) rows: status DRYRUN on a dry run,
      else SUCCESS (the enum's FAILED arises only from per-object
      store errors, which the COW rewrite cannot half-fail).
      ``output='verbose'`` lists every affected object;
      ``'minimal'`` lists none of the successful ones
      (batch_delete_response.go:283 — only errored objects appear,
      and there are none here).

    Scale: the cap compiles to a TakeOrderedAndProject over the
    matched ids; the keep-set rewrite anti-joins on the ≤limit id
    list (broadcast), so a capped delete never shuffles the table.
    """
    if output not in ("minimal", "verbose"):
        raise ValueError(
            f"invalid output: {output}, possible values are: "
            "\"minimal\", \"verbose\"")
    base_version = table_version(table_dir)
    current = spark.read.parquet(table_dir).cache()
    pred = compile_where(current, where)
    matched_df = current.where(pred)
    matches = matched_df.count()
    # pin the ≤limit affected ids BEFORE the COW swap moves the files
    # this lineage reads (bounded collect — the reference's response
    # object list is capped the same way)
    affected_ids = [r[0] for r in matched_df.select(F.col(id_col))
                    .orderBy(F.col(id_col).asc()).limit(limit).collect()]
    status = "DRYRUN" if dry_run else "SUCCESS"
    if not dry_run and matches:
        if matches <= limit:
            kept = current.where(~F.coalesce(pred, F.lit(False)))
        else:
            id_frame = local_df(
        spark,
                [(i,) for i in affected_ids],
                current.select(id_col).schema)
            kept = current.join(F.broadcast(id_frame), id_col,
                                "left_anti")
        _rewrite(kept, table_dir, expected_version=base_version)
    current.unpersist()
    result = {
        "matches": matches,
        "limit": limit,
        "successful": 0 if dry_run else len(affected_ids),
        "failed": 0,
        "dryRun": dry_run,
        "output": output,
    }
    listed = affected_ids if output == "verbose" else []
    objects = local_df(
        spark,
        [(str(i), status) for i in listed], "id string, status string")
    return result, objects


def ttl_expired(df: DataFrame, ttl_seconds: int, now_unix: int, created_col: str) -> DataFrame:
    """Rows past their TTL (read-time exclusion predicate inverted)."""
    return df.where(F.col(created_col) + F.lit(ttl_seconds) <= F.lit(now_unix))


def with_ttl_filter(df: DataFrame, ttl_seconds: int, now_unix: int, created_col: str) -> DataFrame:
    """Read-time TTL view: only live objects (explorer.go:939)."""
    return df.where(F.col(created_col) + F.lit(ttl_seconds) > F.lit(now_unix))


def purge_expired(
    spark: SparkSession, table_dir: str, ttl_seconds: int, now_unix: int, created_col: str
) -> int:
    """The TTL background job: physically delete expired rows."""
    base_version = table_version(table_dir)
    current = spark.read.parquet(table_dir).cache()
    expired = ttl_expired(current, ttl_seconds, now_unix, created_col).count()
    if expired:
        _rewrite(
            with_ttl_filter(current, ttl_seconds, now_unix, created_col),
            table_dir, expected_version=base_version,
        )
    current.unpersist()
    return expired


def write_tenant_partitioned(df: DataFrame, table_dir: str, tenant_col: str) -> None:
    """Partition the collection by tenant; per-tenant reads prune to one
    directory, per-tenant overwrites rewrite only that partition."""
    from weaviate_spark.sources.storagestate import check_writable

    check_writable(table_dir)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(tenant_col)
        .parquet(table_dir)
    )
    invalidate_indexes(table_dir)


def read_tenant(spark: SparkSession, table_dir: str, tenant_col: str, tenant) -> DataFrame:
    """Single-tenant view; the equality predicate is a partition filter
    (visible as PartitionFilters in the scan — §4.1 tenant routing)."""
    return spark.read.parquet(table_dir).where(F.col(tenant_col) == F.lit(tenant))


# ---------------------------------------------------------------------------
# tenant lifecycle states (usecases/multitenancy/, entities/models/
# tenant.go:34-100): ACTIVE tenants are queryable on hot storage,
# INACTIVE tenants keep local data but refuse queries, OFFLOADED
# tenants' data moves to a cold backend. OFFLOADING/ONLOADING are the
# server-set transitional states; deprecated names HOT/COLD/FROZEN/
# FREEZING/UNFREEZING map to their modern equivalents. Spark mapping:
# tenant = partition directory; offload physically moves the partition
# out of the hot table root (→ cloud-tier bucket at scale), so hot
# scans never list cold data.

TENANT_STATUSES = ("ACTIVE", "INACTIVE", "OFFLOADED", "OFFLOADING", "ONLOADING")
_TENANT_DEPRECATED = {
    "HOT": "ACTIVE", "COLD": "INACTIVE", "FROZEN": "OFFLOADED",
    "FREEZING": "OFFLOADING", "UNFREEZING": "ONLOADING",
}


def _canon_tenant_status(status: str) -> str:
    s = _TENANT_DEPRECATED.get(status, status)
    if s not in TENANT_STATUSES:
        raise ValueError(f"invalid tenant activity status {status!r}")
    return s


class TenantRegistry:
    """Tenant lifecycle over a tenant-partitioned parquet table.

    Mirrors the reference's usage rules (entities/models/tenant.go): on
    create the status is optional, defaults to ACTIVE, and only
    ACTIVE/INACTIVE are allowed; on update the status is required and
    ACTIVE/INACTIVE/OFFLOADED are allowed (transitional states are
    server-set only). Reads raise the reference's sentinel messages
    ("tenant not found" / "tenant not active",
    entities/errors/errors_multitenancy.go:19-20)."""

    def __init__(self, table_dir: str, tenant_col: str,
                 offload_dir: str | None = None,
                 auto_tenant_creation: bool = False,
                 auto_tenant_activation: bool = False) -> None:
        # MultiTenancyConfig.AutoTenantCreation / AutoTenantActivation
        # (entities/models/multi_tenancy_config.go:32-35): creation =
        # writes to a MISSING tenant create it instead of erroring
        # (auto_schema.go:576 autoTenants); activation = access to an
        # INACTIVE/OFFLOADED tenant implicitly re-activates it
        # (schema/manager.go:387 AllowImplicitTenantActivation,
        # :436 EnsureTenantActiveForWrite)
        self.table_dir = table_dir
        self.tenant_col = tenant_col
        self.offload_dir = offload_dir or table_dir.rstrip("/") + "_offload"
        self.auto_tenant_creation = auto_tenant_creation
        self.auto_tenant_activation = auto_tenant_activation
        self._status: dict[str, str] = {}

    def _hot_path(self, tenant: str) -> str:
        return os.path.join(self.table_dir, f"{self.tenant_col}={tenant}")

    def _cold_path(self, tenant: str) -> str:
        return os.path.join(self.offload_dir, f"{self.tenant_col}={tenant}")

    def create(self, tenant: str, status: str = "ACTIVE") -> None:
        """Single-tenant convenience over create_tenants (same rules)."""
        self.create_tenants([(tenant, status)])

    def create_tenants(self, tenants) -> list[str]:
        """Batch create (Handler.AddTenants, usecases/schema/tenant.go:40):

        * a name appearing TWICE in one request is invalid input —
          "tenant name X existed multiple times" (tenant.go:131,
          acceptance 'Create same tenant with different status');
        * an ALREADY-EXISTING tenant is an idempotent no-op — its
          current status is kept (acceptance 'Create same tenant
          multiple times');
        * creation only allows ACTIVE/INACTIVE (FROZEN & transitional
          states rejected, acceptance 'forbidden activity status').

        ``tenants``: names or (name, status) pairs. Returns the names
        actually added."""
        from weaviate_spark import usage_limits as UL

        from weaviate_spark.schema import validate_tenant_name

        reqs: list[tuple[str, str]] = []
        seen: set[str] = set()
        for t in tenants:
            name, status = t if isinstance(t, tuple) else (t, "ACTIVE")
            # tenant.go validates names on the create path
            # (entities/schema ValidateTenantName)
            validate_tenant_name(name)
            if name in seen:
                raise ValueError(
                    f"tenant name {name} existed multiple times")
            seen.add(name)
            s = _canon_tenant_status(status)
            if s not in ("ACTIVE", "INACTIVE"):
                raise ValueError(
                    f"tenant create only allows ACTIVE or INACTIVE, "
                    f"got {status!r}")
            reqs.append((name, s))
        added: list[str] = []
        for name, s in reqs:
            if name in self._status:
                continue  # idempotent re-create keeps current status
            UL.check_tenants(len(self._status))  # typed 429 on the cap
            self._status[name] = s
            added.append(name)
        return added

    def delete_tenants(self, names) -> list[str]:
        """Batch delete (Handler.DeleteTenants, tenant.go:257):
        idempotent — duplicate names in one request and non-existent
        names are fine (acceptance 'Delete same tenant multiple
        times' / 'Delete non-existent tenant alongside existing') —
        and the tenant's data is removed with it (the reference drops
        the shard): both the hot partition directory and any offloaded
        copy. Returns the names that existed."""
        import shutil

        removed: list[str] = []
        for name in dict.fromkeys(names):  # dedupe, keep order
            if self._status.pop(name, None) is None:
                continue
            removed.append(name)
            for path in (self._hot_path(name), self._cold_path(name)):
                if os.path.isdir(path):
                    shutil.rmtree(path)
        if removed:
            invalidate_indexes(self.table_dir)
        return removed

    def status(self, tenant: str) -> str:
        if tenant not in self._status:
            raise KeyError("tenant not found")
        return self._status[tenant]

    def list(self) -> dict[str, str]:
        return dict(self._status)

    def update(self, tenant: str, status: str) -> None:
        s = _canon_tenant_status(status)
        if s not in ("ACTIVE", "INACTIVE", "OFFLOADED"):
            raise ValueError(
                f"tenant update only allows ACTIVE, INACTIVE or OFFLOADED, "
                f"got {status!r} (transitional states are server-set)"
            )
        cur = self.status(tenant)
        if s == cur:
            return
        if s == "OFFLOADED":
            # OFFLOADING: move the partition directory out of the hot root
            self._status[tenant] = "OFFLOADING"
            hot = self._hot_path(tenant)
            if os.path.isdir(hot):
                os.makedirs(self.offload_dir, exist_ok=True)
                os.rename(hot, self._cold_path(tenant))
            self._status[tenant] = "OFFLOADED"
            return
        if cur == "OFFLOADED":
            # ONLOADING: bring the partition back before activation
            self._status[tenant] = "ONLOADING"
            cold = self._cold_path(tenant)
            if os.path.isdir(cold):
                os.rename(cold, self._hot_path(tenant))
        self._status[tenant] = s

    def ensure_active_for_write(self, *tenants: str) -> list[str]:
        """The write-path gate (objects/manager.go:75 →
        schema/manager.go:436): every named tenant must exist and be
        ACTIVE before a write lands. With auto_tenant_creation a
        MISSING tenant is created ACTIVE (auto_schema.go:565-595,
        batch semantics: each distinct name once); with
        auto_tenant_activation an INACTIVE/OFFLOADED tenant is
        implicitly re-activated (onloading its partition). Without the
        flags, the reference's sentinel errors fire. Returns the
        tenants that were created or re-activated."""
        touched: list[str] = []
        for t in dict.fromkeys(tenants):
            if t not in self._status:
                if not self.auto_tenant_creation:
                    raise KeyError("tenant not found")
                self.create_tenants([t])
                touched.append(t)
            elif self._status[t] != "ACTIVE":
                if not self.auto_tenant_activation:
                    raise PermissionError("tenant not active")
                self.update(t, "ACTIVE")
                touched.append(t)
        return touched

    def read(self, spark: SparkSession, tenant: str) -> DataFrame:
        if self.status(tenant) != "ACTIVE":
            # read-path implicit activation
            # (schema/manager.go:387 AllowImplicitTenantActivation)
            if not self.auto_tenant_activation:
                raise PermissionError("tenant not active")
            self.update(tenant, "ACTIVE")
        return read_tenant(spark, self.table_dir, self.tenant_col, tenant)


def make_beacon(class_name: str, target_id: Column) -> Column:
    """Beacon struct for a cref element (entities/schema/crossref/:
    weaviate://localhost/Class/uuid)."""
    return F.struct(
        F.concat(
            F.lit(f"weaviate://localhost/{class_name}/"), target_id
        ).alias("beacon"),
        F.lit(class_name).alias("className"),
        target_id.alias("id"),
    )


_UUID_RE = ("[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
            "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}")


def add_references_batch_with_report(
    spark: SparkSession,
    table_dir: str,
    refs: DataFrame,
    key: str,
    from_col: str = "from",
    to_col: str = "to",
    check_source_exists: bool = True,
):
    """Batch reference add with the reference's per-ref result array
    (usecases/objects/batch_references_add.go validateReference
    :259-299 + entities/schema/crossref ParseSource/Parse).

    ``refs``: (from, to) beacon strings —
    from = ``weaviate://localhost/<Class>/<uuid>/<property>``
    (long form required, crossref_source.go:59-62),
    to = ``weaviate://localhost/[<Class>/]<uuid>``.

    Per-ref validation, reported not raised, with the reference's
    exact texts — including its quirks, mirrored deliberately: the
    source uuid error prints the PROPERTY segment
    (crossref_source.go:67 prints pathSegments[3]), and the target
    uuid error renders "1nd"/"2nd" (crossref.go:63 '%dnd'). Non-local
    source/target hosts get the peer texts
    (batch_references_add.go:268,276); target ids are lowercased
    before use. ``check_source_exists`` adds a missing-source check
    (engine-level text — the reference surfaces this later, at the
    shard write). Multi-target properties requiring the class name in
    the beacon are not modeled here (schema-driven; see
    autodetectToClass).

    Writeback: every valid ref becomes a beacon struct appended
    (array_union — duplicate-free, references_add.go semantics) to its
    source row's property; all properties update in ONE COW rewrite.
    Scale: parsing is pure Catalyst regex, grouping is one shuffle of
    the refs (not the table), and the table joins against ≤#refs
    broadcast rows per referenced property.
    Returns (report_df, n_applied)."""
    f, t = F.col(from_col), F.col(to_col)
    fp = f"^weaviate://([^/]*)/([^/]+)/({_UUID_RE})/([^/]+)$"
    src_host = F.regexp_extract(f, fp, 1)
    src_class = F.regexp_extract(f, fp, 2)
    src_id = F.regexp_extract(f, fp, 3)
    src_prop = F.regexp_extract(f, fp, 4)
    # segment view for the error paths (host + any path)
    seg = F.split(F.regexp_extract(f, "^weaviate://[^/]*(/.*)$", 1), "/")
    from_path = F.regexp_extract(f, "^weaviate://[^/]*(/.*)$", 1)

    tp2 = f"^weaviate://([^/]*)/({_UUID_RE})$"
    tp3 = f"^weaviate://([^/]*)/([^/]+)/({_UUID_RE})$"
    to_path = F.regexp_extract(t, "^weaviate://[^/]*(/.*)$", 1)
    to_seg = F.split(to_path, "/")
    t_host = F.coalesce(
        F.nullif(F.regexp_extract(t, tp3, 1), F.lit("")),
        F.nullif(F.regexp_extract(t, tp2, 1), F.lit("")),
        F.regexp_extract(t, "^weaviate://([^/]*)/", 1))
    t_class = F.regexp_extract(t, tp3, 2)
    t_id = F.lower(F.coalesce(
        F.nullif(F.regexp_extract(t, tp3, 3), F.lit("")),
        F.nullif(F.regexp_extract(t, tp2, 2), F.lit(""))))

    err = (
        # FROM: 4 path segments required (crossref_source.go:59)
        F.when(
            F.size(seg) != 4,
            F.concat(F.lit(
                "invalid cref URI: must use long-form: path must be of "
                "format '/<className>/<uuid>/<propertyName>', but got "
                "'"), from_path, F.lit("'")))
        .when(
            ~F.element_at(seg, 3).rlike(f"^{_UUID_RE}$"),
            F.concat(F.lit("invalid cref URI: 2nd path segment must "
                           "be uuid, but got '"),
                     F.element_at(seg, 4), F.lit("'")))
        .when(F.element_at(seg, 2) == "",
              F.lit("className cannot be empty"))
        .when(F.element_at(seg, 2).rlike("^[a-z]"),
              F.concat(F.lit("className must start with an uppercase "
                             "letter, but got "), F.element_at(seg, 2)))
        .when(F.element_at(seg, 4) == "",
              F.lit("property cannot be empty"))
        .when(src_host != "localhost",
              F.concat(F.lit("source class must always point to the "
                             "local peer, but got "), src_host))
        # TO: 2-or-3 segment short/long form (crossref.go:49-63)
        .when(
            ~F.size(to_seg).isin(2, 3),
            F.concat(F.lit("invalid cref URI: path must be of format "
                           "'<class>/<uuid>', but got '"),
                     to_path, F.lit("'")))
        .when(
            F.element_at(to_seg, F.size(to_seg)).rlike(f"^{_UUID_RE}$")
            == F.lit(False),
            F.concat(F.lit("invalid cref URI: "),
                     (F.size(to_seg) - 1).cast("string"),
                     F.lit("nd path segment must be uuid, but got '"),
                     F.element_at(to_seg, F.size(to_seg)), F.lit("'")))
        .when(t_host != "localhost",
              F.concat(F.lit(
                  "importing network references in batch is not "
                  "possible. Please perform a regular non-batch import "
                  "for network references, got peer "), t_host))
    )
    marked = refs.withColumn("_err", err).withColumn(
        "_sid", src_id).withColumn("_prop", src_prop).withColumn(
        "_tclass", t_class).withColumn("_tid", t_id)

    current = spark.read.parquet(table_dir)
    if check_source_exists:
        src_ids = current.select(
            F.col(key).cast("string").alias("_sid"),
            F.lit(True).alias("_src_ok"))
        marked = marked.join(src_ids, "_sid", "left").withColumn(
            "_err",
            F.when(F.col("_err").isNotNull(), F.col("_err"))
            .when(F.col("_src_ok").isNull(),
                  F.concat(F.lit("source object not found: "),
                           F.col("_sid")))).drop("_src_ok")
    marked = marked.localCheckpoint(eager=True)  # one validation pass

    report = marked.select(
        f.alias("from"), t.alias("to"),
        F.when(F.col("_err").isNull(), F.lit("SUCCESS"))
        .otherwise(F.lit("FAILED")).alias("status"),
        F.col("_err").alias("error"),
    )
    valid = marked.where(F.col("_err").isNull())
    n_applied = valid.count()
    if n_applied:
        beacon = F.struct(
            F.concat(F.lit("weaviate://localhost/"),
                     F.when(F.col("_tclass") != "",
                            F.concat(F.col("_tclass"), F.lit("/")))
                     .otherwise(F.lit("")),
                     F.col("_tid")).alias("beacon"),
            F.col("_tclass").alias("className"),
            F.col("_tid").alias("id"),
        )
        grouped = (valid.select("_sid", "_prop", beacon.alias("_b"))
                   .groupBy("_sid", "_prop")
                   .agg(F.collect_list("_b").alias("_new")))
        props = [r["_prop"] for r in
                 grouped.select("_prop").distinct().collect()]
        updated = current
        for prop in props:
            adds = grouped.where(F.col("_prop") == prop).select(
                F.col("_sid"), F.col("_new").alias(f"_new_{prop}"))
            updated = updated.join(
                F.broadcast(adds),
                updated[key].cast("string") == adds["_sid"], "left",
            ).drop("_sid")
            updated = updated.withColumn(
                prop,
                F.when(
                    F.col(f"_new_{prop}").isNotNull(),
                    F.array_union(
                        F.coalesce(F.col(prop), F.array()),
                        F.col(f"_new_{prop}")),
                ).otherwise(F.col(prop)),
            ).drop(f"_new_{prop}")
        _rewrite(updated, table_dir,
                 expected_version=table_version(table_dir))
    return report, n_applied


def add_reference(
    spark: SparkSession, table_dir: str, key: str, key_value,
    ref_prop: str, class_name: str, target_id: str,
) -> None:
    """references_add.go: append one beacon to a cref array property
    (no-op if already present — array_union semantics)."""
    current = spark.read.parquet(table_dir)
    beacon = make_beacon(class_name, F.lit(target_id))
    updated = current.withColumn(
        ref_prop,
        F.when(
            F.col(key) == F.lit(key_value),
            F.array_union(F.coalesce(F.col(ref_prop), F.array()), F.array(beacon)),
        ).otherwise(F.col(ref_prop)),
    )
    _rewrite(updated, table_dir)


def delete_reference(
    spark: SparkSession, table_dir: str, key: str, key_value,
    ref_prop: str, target_id: str,
) -> None:
    """references_delete.go: remove every beacon pointing at target_id."""
    current = spark.read.parquet(table_dir)
    updated = current.withColumn(
        ref_prop,
        F.when(
            F.col(key) == F.lit(key_value),
            F.filter(F.col(ref_prop), lambda b: b["id"] != F.lit(target_id)),
        ).otherwise(F.col(ref_prop)),
    )
    _rewrite(updated, table_dir)


def compact_table(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
    partition_by: Sequence[str] = (),
) -> int:
    """Small-file compaction for the COW parquet tables the streaming
    sink and upsert path produce (the LSM-compaction analogue of the
    reference's store; Delta's OPTIMIZE equivalent for plain parquet).

    Rewrites the table into ceil(rows / target_rows_per_file) files
    (per partition directory when `partition_by` is set, preserving
    partition pruning). Returns the file count written. At scale this
    runs per-partition-predicate (compact only partitions whose file
    count exceeds a threshold) — driven by the caller's loop, so the
    rewrite I/O is bounded by the partitions touched, never the table.
    """
    import math

    df = spark.read.parquet(path)
    n = df.count()
    files = max(1, math.ceil(n / target_rows_per_file))
    writer = (
        df.repartition(files, *partition_by)
        if partition_by else df.repartition(files)
    )
    tmp = path.rstrip("/") + "._compact_tmp"
    w = writer.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)
    # atomic-ish swap: recreate the table dir from the compacted copy
    shutil.rmtree(path)
    shutil.move(tmp, path)
    # content is identical but cached/materialized frames reference the
    # replaced files — drop them so nothing rescans deleted paths
    invalidate_indexes(path)
    return files


def optimize_zorder(
    spark: SparkSession,
    path: str,
    cols: Sequence[str],
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Z-order clustering rewrite (Delta's OPTIMIZE ZORDER BY analogue;
    the reference's closest notion is per-index LSM segment ordering):
    interleave a 16-bit quantization of each clustering column into one
    z-value, range-partition + sort the table by it, and swap the
    rewritten files in. Files then carry TIGHT parquet min/max ranges
    on EVERY clustering column simultaneously, so filtered scans prune
    row groups on any of them — the property that matters at 100 TB,
    where OPTIMIZE is the difference between reading a few files and
    reading the table.

    Delegates the Morton key + clustered write to sources/layout.py
    (string columns hash-interleave: equality clustering, not ranges);
    this wrapper adds the compact_table-style in-place swap and sizing.
    Returns files written.
    """
    import math

    from weaviate_spark.sources.layout import write_zordered

    if not cols:
        raise ValueError("optimize_zorder needs at least one column")
    df = spark.read.parquet(path)
    n = df.count()
    files = max(1, math.ceil(n / target_rows_per_file))
    tmp = path.rstrip("/") + "._zorder_tmp"
    write_zordered(df, tmp, list(cols), num_files=files)
    shutil.rmtree(path)
    shutil.move(tmp, path)
    invalidate_indexes(path)
    return files


def insert_batch_with_report(
    spark: SparkSession,
    table_dir: str,
    batch_df: DataFrame,
    id_col: str,
    required_cols: list[str] | None = None,
    validators: list[tuple[str, "F.Column"]] | None = None,
    order_col: str | None = None,
):
    """Batch insert with the reference's per-object result array
    (usecases/objects/batch_manager.go: every object is validated
    independently; failures don't abort the batch; the response carries
    one status per object). Returns (report_df, n_written):
    report_df = (id, status SUCCESS|FAILED, error) — one row per input
    object, error naming the FIRST failed rule in a fixed order:

    1. missing id;
    2. missing required property (in ``required_cols`` order);
    3. custom ``validators`` — (name, boolean Column) pairs, falsy or
       NULL predicate fails the object.

    Duplicate ids within a batch are NOT errors: the reference
    (usecases/objects/batch_manager.go, batch_add.go) processes each
    object as an independent in-order PUT, so a later duplicate simply
    overwrites the earlier one — the LAST occurrence (by ``order_col``,
    else by the id itself) lands in the table and every occurrence
    reports SUCCESS, exactly as N sequential PUTs would.

    Valid objects are MERGED into the table by id (upsert semantics —
    the reference's batch PUT) under the optimistic-concurrency
    transaction. The report is computed with one window over the batch
    — no driver-side loop; the batch can be arbitrarily large."""
    _check_object_limit(spark, table_dir, batch_df)
    from pyspark.sql import Window

    required_cols = required_cols or []
    validators = validators or []

    err = F.when(
        F.col(id_col).isNull(), F.lit("missing id")
    )
    for c in required_cols:
        err = err.when(
            F.col(c).isNull(),
            F.lit(f"missing required property '{c}'"),
        )
    for name, pred in validators:
        err = err.when(
            ~F.coalesce(pred, F.lit(False)),
            F.lit(f"invalid: {name}"),
        )
    # last write wins per id: rank occurrences newest-first so _dup_rank
    # 1 is the occurrence that lands in the table; older ones are
    # overwritten but still SUCCESS (they were each a valid PUT)
    order = F.col(order_col).desc() if order_col else F.col(id_col).desc()
    w = Window.partitionBy(id_col).orderBy(order)
    marked = batch_df.withColumn("_rule_err", err).withColumn(
        "_dup_rank",
        F.when(
            F.col(id_col).isNull(), F.lit(1)
        ).otherwise(F.row_number().over(w)),
    ).withColumn("_err", F.col("_rule_err"))
    marked = marked.localCheckpoint(eager=True)  # one validation pass
    report = marked.select(
        F.col(id_col).alias("id"),
        F.when(F.col("_err").isNull(), F.lit("SUCCESS"))
        .otherwise(F.lit("FAILED"))
        .alias("status"),
        F.col("_err").alias("error"),
    )
    valid = marked.where(
        F.col("_err").isNull() & (F.col("_dup_rank") == 1)
    ).drop("_rule_err", "_dup_rank", "_err")
    n_written = valid.count()
    if n_written:
        import os

        def _write():
            if os.path.exists(table_dir):
                upsert(spark, table_dir, valid, id_col)
            else:
                # transactional create: claim version 1 via _rewrite so
                # two concurrent first-batch writers can't clobber each
                # other — the loser's retry sees the table and upserts
                _rewrite(valid, table_dir,
                         expected_version=table_version(table_dir))

        transact(_write)
    return report, n_written


def table_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int,
    key: str,
    include_unchanged: bool = False,
) -> DataFrame:
    """CDC between two committed versions (the Delta table_changes
    analogue over the COW version history): one row per key with
    change_type in {insert, delete, update} (+ unchanged when
    requested). Change detection is a null-safe full outer join on the
    key plus a struct comparison of all shared non-key columns — one
    shuffle, no driver-side diffing."""
    a = read_table_version(spark, table_dir, from_version)
    b = read_table_version(spark, table_dir, to_version)
    shared = [c for c in a.columns if c in set(b.columns) and c != key]
    av = a.select(
        F.col(key).alias("_k"),
        F.lit(True).alias("_in_a"),
        F.struct(*[F.col(c) for c in shared]).alias("_va"),
    )
    bv = b.select(
        F.col(key).alias("_k"),
        F.lit(True).alias("_in_b"),
        F.struct(*[F.col(c) for c in shared]).alias("_vb"),
    )
    j = av.join(bv, "_k", "full_outer")
    ct = (
        F.when(F.col("_in_a").isNull(), F.lit("insert"))
        .when(F.col("_in_b").isNull(), F.lit("delete"))
        .when(~F.col("_va").eqNullSafe(F.col("_vb")), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(F.col("_k").alias(key), ct.alias("change_type"))
    if not include_unchanged:
        out = out.where(F.col("change_type") != "unchanged")
    return out
